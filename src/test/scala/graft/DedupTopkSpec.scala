package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** d25/d26 — the bounded-output top-k summaries of the exact near-dup
  * enumerators (d3 Jaccard, d16 containment). Two contracts proven:
  *
  *  1. the k-bounded TopKAggregator path returns EXACTLY what the
  *     sort-then-row_number spelling over the full pair list returns
  *     (same total order: score DESC, partner ASC);
  *  2. output stays ≤ k rows per doc on a duplicate-heavy corpus where
  *     the full enumerators' pair lists grow ~clique² — the reason the
  *     summary posture exists (sf1 measured d3/d16's full output at
  *     ~50% of the 10× wall);
  *  3. the VERIFY join itself is anchor-bounded (round 15,
  *     [[graft.ops.Anchors]]): corpora within the budget report every
  *     doc (contracts 1–2 above run there), corpora past it report
  *     exactly the anchored docs with their exact unsampled summaries.
  */
class DedupTopkSpec extends AnyFunSuite with TempDirs {

  private lazy val spark = GraftSession(4)

  override def afterAll(): Unit = try spark.stop() finally super.afterAll()

  private def toks(prefix: String, n: Int): String =
    (0 until n).map(i => s"$prefix$i").mkString(" ")

  /** Clique of `r` near-identical docs (shared 40-token base + 1 unique
    * suffix token each), one 100-token host doc whose middle embeds a
    * 22-token snippet doc verbatim (high containment, low Jaccard), and
    * two unrelated singletons.
    */
  private def corpus(r: Int): DataFrame = {
    import spark.implicits._
    val base = toks("dup", 40)
    val clique = (0 until r).map(i => (i.toLong, s"$base uniq$i"))
    val snippet = toks("emb", 22)
    val host = (100L,
      s"${toks("h", 40)} $snippet ${toks("t", 38)}")
    val snip = (101L, snippet)
    val singles = Seq((200L, toks("x", 30)), (201L, toks("y", 30)))
    (clique ++ Seq(host, snip) ++ singles)
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
      .withColumn("source", lit("src0"))
      .withColumn("n_chars", length($"text").cast("long"))
  }

  private def stage(r: Int): String = {
    val dir = tempDir(s"dedup_topk_spec_$r")
    corpus(r).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("d25 equals the sort-then-row_number spelling over d3's pairs") {
    val dir = stage(8)
    val out = SparkEntry.queries("d25_neardup_topk")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getLong(3), r.getDouble(4))).toSeq
    // reference: mirror d3's undirected pair list into the directional
    // view, then plain window top-3 with the identical total order
    val und = SparkEntry.queries("d3_ngram_jaccard")(spark, dir)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
    val dirPairs = und.union(
      und.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b"),
        col("jaccard")))
    val w = Window.partitionBy("doc_a")
      .orderBy(col("jaccard").desc, col("doc_b"))
    val expect = dirPairs
      .withColumn("n_matches",
        count(lit(1)).over(Window.partitionBy("doc_a")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("doc_a"), col("n_matches"), col("rank"),
        col("doc_b"), col("jaccard"))
      .orderBy("doc_a", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getLong(3), r.getDouble(4))).toSeq
    assert(out == expect)
    // clique members see all r-1 = 7 partners but emit only 3 rows
    assert(out.filter(_._1 == 0L).map(_._2).distinct == Seq(7L))
    assert(out.count(_._1 == 0L) == 3)
    // singletons and the low-Jaccard host/snippet pair never appear
    assert(!out.exists(t => t._1 >= 100L))
  }

  test("d26 equals the window spelling over d16's pairs and keeps the " +
      "containment asymmetry") {
    val dir = stage(8)
    val out = SparkEntry.queries("d26_containment_topk")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getLong(3), r.getDouble(4))).toSeq
    val pairs = SparkEntry.queries("d16_containment_neardup")(spark, dir)
      .select(col("doc_a"), col("doc_b"), col("containment"))
    val w = Window.partitionBy("doc_a")
      .orderBy(col("containment").desc, col("doc_b"))
    val expect = pairs
      .withColumn("n_containers",
        count(lit(1)).over(Window.partitionBy("doc_a")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("doc_a"), col("n_containers"), col("rank"),
        col("doc_b"), col("containment"))
      .orderBy("doc_a", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getLong(3), r.getDouble(4))).toSeq
    assert(out == expect)
    // the embedded snippet is contained in its host at C = 1.0 ...
    val snipRows = out.filter(_._1 == 101L)
    assert(snipRows.exists(t => t._4 == 100L && t._5 == 1.0))
    // ... but the host is NOT contained in the snippet (asymmetry)
    assert(!out.exists(t => t._1 == 100L && t._4 == 101L))
  }

  test("d27 equals exact d20 when every doc fits the anchor budget") {
    // sf0.001 has ~500 docs < A=2000: the anchor predicate keeps every
    // doc and the sampled estimates must EQUAL d20's exact numbers
    val dir = "/root/testdata/sf0.001"
    val exact = SparkEntry.queries("d20_lsh_tuning")(spark, dir)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3),
          r.getDouble(4), r.getDouble(5)))).toMap
    val sampled = SparkEntry.queries("d27_lsh_tuning_sampled")(spark, dir)
      .collect().map { r =>
        val nDocs = spark.read
          .parquet(s"$dir/documents.parquet").count()
        assert(r.getLong(1) == nDocs, "expected every doc anchored")
        r.getString(0) ->
          ((r.getLong(2), r.getLong(3), r.getLong(4),
            r.getDouble(5), r.getDouble(6)))
      }.toMap
    assert(sampled.keySet == exact.keySet)
    for (cfg <- exact.keys) assert(sampled(cfg) == exact(cfg), cfg)
  }

  test("d27 sampling engages past the anchor budget and stays exact on " +
      "the anchored population") {
    import spark.implicits._
    // 4000 docs > A=2000: doc i and doc i+2000 are identical (disjoint
    // token vocabularies across seeds), so truth = the 2000 identical
    // pairs and every LSH cfg catches exactly the anchored ones
    val n = 4000
    val docs = (0 until n).map { i =>
      val seed = i % 2000
      (i.toLong, (0 until 5).map(k => s"w${seed}_$k").mkString(" "))
    }.toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
      .withColumn("source", lit("src0"))
      .withColumn("n_chars", length($"text").cast("long"))
    val dir = tempDir("d27_budget_spec")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("d27_lsh_tuning_sampled")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5), r.getDouble(6)))
    assert(out.length == 4)
    val nAnchors = out.head._2
    info(s"anchors: $nAnchors of $n docs")
    // a true subsample: more than the budget floor, fewer than all docs
    assert(nAnchors > 0 && nAnchors < n)
    for ((cfg, _, nCand, nTrue, nCaught, recall, precision) <- out) {
      // truth = anchored identical pairs only; every cfg catches all of
      // them with no false candidates (disjoint vocabularies)
      assert(nTrue > 0 && nTrue < 2000L, s"$cfg: $nTrue")
      assert(nCaught == nTrue, cfg)
      assert(nCand == nTrue, cfg)
      assert(recall == 1.0 && precision == 1.0, cfg)
    }
  }

  test("d25/d26 anchor sampling engages past the budget and stays exact " +
      "per anchored doc") {
    import spark.implicits._
    // 4000 docs > A=2000; doc i and doc i+2000 are identical 10-token
    // docs (8 distinct shingles ≥ the d26 |A| ≥ 5 floor; disjoint
    // vocabularies across seeds), so every doc's exact partner set is
    // exactly its twin at jaccard = containment = 1.0.
    val n = 4000
    val docs = (0 until n).map { i =>
      val seed = i % 2000
      (i.toLong, (0 until 10).map(k => s"w${seed}_$k").mkString(" "))
    }.toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
      .withColumn("source", lit("src0"))
      .withColumn("n_chars", length($"text").cast("long"))
    val dir = tempDir("d25_budget_spec")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out25 = SparkEntry.queries("d25_neardup_topk")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getLong(3), r.getDouble(4)))
    val out26 = SparkEntry.queries("d26_containment_topk")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getLong(3), r.getDouble(4)))
    // the anchor set, computed independently of the queries
    val anchors = spark.range(n).toDF("id")
      .filter(graft.ops.Anchors.keep(col("id"), n.toLong))
      .collect().map(_.getLong(0)).toSet
    info(s"anchors: ${anchors.size} of $n docs")
    // a true subsample: more than zero, fewer than all docs
    assert(anchors.nonEmpty && anchors.size < n)
    // exactly the anchored docs are reported, each with its EXACT
    // (unsampled) partner summary: one twin at score 1.0
    for (out <- Seq(out25, out26)) {
      assert(out.map(_._1).toSet == anchors)
      assert(out.forall(t => t._2 == 1L && t._3 == 1 && t._5 == 1.0))
      assert(out.forall(t => t._4 == (t._1 + 2000) % 4000))
    }
  }

  test("pl15 equals exact pl7 when every doc fits the anchor budget") {
    val dir = "/root/testdata/sf0.001"
    val exact = SparkEntry.queries("pl7_group_split_leakage")(spark, dir)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(3), r.getLong(4)))).toMap   // (n_neardup, n_cross)
    val sampled = SparkEntry.queries("pl15_split_leakage_sampled")(spark, dir)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    assert(sampled.keySet == exact.keySet)
    for (strategy <- exact.keys)
      assert(sampled(strategy) == exact(strategy), strategy)
  }

  test("output stays <= 3 rows per doc while the full pair lists grow " +
      "with the clique square") {
    for (r <- Seq(8, 16)) {
      val dir = stage(r)
      val fullJac = SparkEntry.queries("d3_ngram_jaccard")(spark, dir).count()
      val topk = SparkEntry.queries("d25_neardup_topk")(spark, dir)
      val perDoc = topk.groupBy("doc_id").count()
        .agg(max("count")).first().getLong(0)
      val rows = topk.count()
      info(s"clique=$r: d3 pairs=$fullJac, d25 rows=$rows")
      // d3 enumerates every undirected clique pair: r(r-1)/2
      assert(fullJac == r.toLong * (r - 1) / 2)
      // d25 is capped at k=3 rows per doc regardless of clique size
      assert(perDoc <= 3L)
      assert(rows == 3L * r)
    }
  }
}
