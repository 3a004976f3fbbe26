package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** t34 sequence packing — greedy whole-doc first-fit into C=512-token
  * training sequences, per source stream in doc_id order. Contracts:
  *
  *  1. hand-computable corpus: known bin count, fill rate, oversize
  *     count, and assignment checksum;
  *  2. no sequence except an oversize singleton ever exceeds C, and
  *     packing is greedy (a doc never opens a new bin when it fits);
  *  3. the fold's summary agrees with an independent per-doc replay
  *     of the same protocol on the sf0.001 documents.
  */
class SequencePackingSpec extends AnyFunSuite with TempDirs {

  private lazy val spark = GraftSession(4)

  override def afterAll(): Unit = try spark.stop() finally super.afterAll()

  /** The t34 protocol, replayed doc-by-doc in plain Scala. The
    * checksum replays Σ (id mod P)·(bin+1 mod P) mod P via BIGINT
    * arithmetic — deliberately independent of ExactNum's 128-bit limb
    * kernel, so this spec also cross-checks mulmodP end-to-end.
    */
  private val P = BigInt(2305843009213693951L) // 2^61 - 1
  private def replay(docs: Seq[(Long, Long)], cap: Long = 512L)
      : (Long, Long, Long, Long, Double, Long) = {
    var bin = 0L; var fill = 0L; var first = true
    var nDocs = 0L; var sumTok = 0L; var nOver = 0L; var ck = BigInt(0)
    docs.sortBy(_._1).foreach { case (id, nt) =>
      if (first) { fill = nt; first = false }
      else if (fill + nt > cap) { bin += 1; fill = nt }
      else fill += nt
      nDocs += 1; sumTok += nt
      if (nt > cap) nOver += 1
      ck = (ck + (BigInt(id) mod P) * (BigInt(bin + 1) mod P)) mod P
    }
    (nDocs, bin + 1, sumTok, nOver,
      sumTok.toDouble / ((bin + 1).toDouble * cap), ck.toLong)
  }

  private def stage(rows: Seq[(Long, String, String)]): String = {
    import spark.implicits._
    val dir = tempDir("seq_packing_spec")
    rows.toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("hand-computed corpus: bins, fill, oversize, checksum") {
    def toks(n: Int): String = (0 until n).map(i => s"t$i").mkString(" ")
    // source A: 300 + 300 (overflow -> bin 1) + 100 (fits bin 1) = 2 bins
    // source B: one 600-token oversize doc alone + a 10-token doc = 2 bins
    val dir = stage(Seq(
      (1L, toks(300), "A"), (2L, toks(300), "A"), (3L, toks(100), "A"),
      (10L, toks(600), "B"), (11L, toks(10), "B")))
    val out = SparkEntry.queries("t34_sequence_packing")(spark, dir)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getDouble(5), r.getLong(6)))).toMap
    // A: bins {1:300+100=400? no - greedy: doc2 overflows (600>512) so
    // bin0={doc1}, doc3 fits after doc2 (300+100=400) -> bin1={doc2,doc3}
    assert(out("A") == ((3L, 2L, 700L, 0L, 700.0 / (2 * 512),
      1L * 1 + 2L * 2 + 3L * 2)))
    // B: doc10 oversize alone in bin0; doc11 overflows (600+10>512) ->
    // bin1
    assert(out("B") == ((2L, 2L, 610L, 1L, 610.0 / (2 * 512),
      10L * 1 + 11L * 2)))
  }

  test("greedy discipline: a doc never opens a new bin when it fits") {
    // 6 docs of 256 tokens: exact pairs fill each 512 bin -> 3 bins
    def toks(n: Int): String = (0 until n).map(i => s"x$i").mkString(" ")
    val dir = stage((1L to 6L).map(i => (i, toks(256), "S")))
    val Array(r) = SparkEntry.queries("t34_sequence_packing")(spark, dir)
      .collect()
    assert(r.getLong(2) == 3L, "exact-fit pairs must share bins")
    assert(r.getDouble(5) == 1.0, "exact fill must be 1.0")
  }

  test("summary agrees with the independent replay on sf0.001 documents") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val docs = graft.ops.Tables.load(spark, dir, "documents")
      .select(col("source"), col("doc_id"),
        size(regexp_extract_all(col("text"), lit("\\S+"), lit(0)))
          .cast("long").as("ntok"))
      .as[(String, Long, Long)].collect()
    val expect = docs.groupBy(_._1).map { case (src, rows) =>
      src -> replay(rows.map(r => (r._2, r._3)).toSeq)
    }
    val out = SparkEntry.queries("t34_sequence_packing")(spark, dir)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getDouble(5), r.getLong(6)))).toMap
    assert(out.keySet == expect.keySet)
    expect.foreach { case (src, e) => assert(out(src) == e, src) }
  }

  test("multi-stream skew: one source holding 90% of docs still packs " +
      "exactly (task-local fold, no cross-stream interference)") {
    def toks(n: Int): String = (0 until n).map(i => s"w$i").mkString(" ")
    // 900 docs in HOT (varied sizes incl. oversize), 10 each in 9 others
    val hot = (1L to 900L).map(i =>
      (i, toks((i % 7 + 1).toInt * 100), "HOT")) // 100..700 tokens
    val cold = for {
      s <- 1 to 9
      i <- 1L to 10L
    } yield (10000L * s + i, toks((i % 4 + 1).toInt * 120), s"C$s")
    val all = hot ++ cold
    val dir = stage(all)
    val expect = all.map { case (id, txt, src) =>
      (src, id, txt.split("\\s+").count(_.nonEmpty).toLong) }
      .groupBy(_._1)
      .map { case (src, rows) =>
        src -> replay(rows.map(r => (r._2, r._3)).toSeq) }
    val out = SparkEntry.queries("t34_sequence_packing")(spark, dir)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getDouble(5), r.getLong(6)))).toMap
    assert(out.keySet == expect.keySet)
    expect.foreach { case (src, e) => assert(out(src) == e, src) }
  }

  test("checksum survives doc_ids near 2^60: raw sum would wrap int64, " +
      "mod-P fold matches the BigInt replay exactly") {
    def toks(n: Int): String = (0 until n).map(i => s"z$i").mkString(" ")
    val base = (1L << 60) - 3
    // raw Σ id·(bin+1) ≈ 8 · 2^60 · ~3 — far past 2^63; the pre-round-16
    // fold wrapped silently here
    val docs = (0L until 8L).map(i => (base + i, toks(400), "BIG"))
    // each 400-token doc overflows the previous bin -> doc i sits in
    // bin i, so the raw checksum would be Σ (base+i)·(i+1)
    val rawSum = docs.zipWithIndex.foldLeft(BigInt(0)) {
      case (acc, ((id, _, _), i)) => acc + BigInt(id) * (i + 1)
    }
    assert(rawSum > BigInt(Long.MaxValue), "fixture must force the wrap")
    val dir = stage(docs)
    val Array(r) = SparkEntry.queries("t34_sequence_packing")(spark, dir)
      .collect()
    val expect = replay(docs.map(d => (d._1, 400L)))
    assert(r.getLong(6) == expect._6)
    assert(r.getLong(6) >= 0L, "mod-P checksum is always non-negative")
    assert((r.getLong(1), r.getLong(2), r.getLong(4)) ==
      ((expect._1, expect._2, expect._4)))
  }
}
