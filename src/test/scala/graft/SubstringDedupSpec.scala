package graft

import org.scalatest.funsuite.AnyFunSuite

/** Semantics spec for d24 (substring-level exact dedup) on a
  * hand-crafted corpus where every expected span boundary is known:
  * first-document copies survive, later copies are removed as MAXIMAL
  * merged spans, and sub-window (< 20 token) repeats are untouched.
  */
class SubstringDedupSpec extends AnyFunSuite with TempDirs {

  private lazy val spark = GraftSession(4)

  override def afterAll(): Unit = try spark.stop() finally super.afterAll()

  private def toks(prefix: String, n: Int): String =
    (0 until n).map(i => s"$prefix$i").mkString(" ")

  test("later-doc duplicate spans are removed as maximal merged runs") {
    import spark.implicits._
    val dup = toks("dup", 30)      // a 30-token span shared by docs 0 and 1
    val shortRep = toks("short", 10) // 10 < k: must never be removed
    val docs = Seq(
      // doc 0: canonical owner of the span — keeps everything
      (0L, s"${toks("a", 5)} $dup ${toks("b", 5)}", "en", "src0"),
      // doc 1: same 30-token span at a DIFFERENT offset → one maximal
      // removed span of exactly 30 tokens
      (1L, s"${toks("c", 12)} $dup ${toks("d", 3)}", "en", "src0"),
      // doc 2: only a 10-token repeat (below k=20) → untouched
      (2L, s"${toks("e", 8)} $shortRep ${toks("f", 8)}", "en", "src0"),
      // doc 3: the same short repeat, also untouched
      (3L, s"$shortRep ${toks("g", 15)}", "en", "src0"))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars",
        org.apache.spark.sql.functions.length($"text").cast("long"))
    val dir = tempDir("substr_dedup_spec")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val out = SparkEntry.queries("d24_substring_dedup")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap

    assert(out(0L) == ((40L, 0L, 0L)), "canonical doc must keep all tokens")
    assert(out(1L) == ((45L, 30L, 1L)),
      "dup copy: exactly the 30-token span removed as ONE maximal run")
    assert(out(2L) == ((26L, 0L, 0L)), "sub-k repeat untouched")
    assert(out(3L) == ((25L, 0L, 0L)), "sub-k repeat untouched")
  }

  test("overlapping duplicate windows merge instead of double-counting") {
    import spark.implicits._
    // doc 1 embeds TWO copies of doc 0's 25-token span back-to-back:
    // drop windows tile the whole 50-token region and must merge into
    // ONE maximal span (the windows bridging the copy boundary are
    // also duplicates of doc 0's interior? no — but runs still merge
    // because coverage is contiguous).
    val span = toks("s", 25)
    val docs = Seq(
      (0L, s"$span ${toks("x", 4)}", "en", "src0"),
      (1L, s"${toks("y", 6)} $span $span ${toks("z", 6)}", "en", "src0"))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars",
        org.apache.spark.sql.functions.length($"text").cast("long"))
    val dir = tempDir("substr_dedup_spec2")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val out = SparkEntry.queries("d24_substring_dedup")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(0L)._2 == 0L)
    val (n1, removed1, spans1) = out(1L)
    assert(n1 == 62L)
    assert(spans1 == 1L, s"contiguous coverage must merge to one span, got $spans1")
    assert(removed1 == 50L, s"both embedded copies removed, got $removed1")
  }
}
