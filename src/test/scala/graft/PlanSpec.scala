package graft

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan shape assertions: the properties that make these
  * queries scale (filter pushdown into the scan, column pruning,
  * broadcast of dimension tables, map-side partial aggregation,
  * whole-stage codegen) are pinned here so a refactor that silently
  * loses one fails CI, not the 100 TB run.
  */
class PlanSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sfDir = "/root/testdata/sf0.001"

  private lazy val spark = GraftSession(4)

  override def afterAll(): Unit = spark.stop()

  private def plan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sfDir)
    df.queryExecution.executedPlan.toString
  }

  test("p1 filter is pushed into the parquet scan and columns are pruned") {
    val p = plan("p1_project_filter")
    assert(p.contains("PushedFilters:") &&
      p.contains("GreaterThan(l_quantity,45"), p.take(2000))
    // only the 4 selected columns reach the scan
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int," +
      "l_quantity:double,l_extendedprice:double>"), p.take(2000))
  }

  test("src18 DSv2 scan shows pushed filters and a pruned read schema") {
    val p = plan("src18_dsv2_fixed_width")
    // both predicates reach the custom scan (evaluated during line decode)
    assert(p.contains("GraftFixedWidth"), p.take(2000))
    assert(p.contains("PushedFilters: [") &&
      p.contains("GreaterThanOrEqual(s_nationkey,10)") &&
      p.contains("GreaterThan(acctbal_cents,0)"), p.take(2000))
    // the projection prunes s_nationkey OUT of the read schema even
    // though the pushed filter references it
    assert(p.contains("ReadSchema: [s_suppkey,s_name,acctbal_cents]"),
      p.take(2000))
  }

  test("j2 joins the customer dim with a broadcast hash join") {
    val p = plan("j2_inner_join_broadcast")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("SortMergeJoin"), p.take(2000))
  }

  test("a1 aggregates with map-side partial aggregation (two HashAggregate levels)") {
    val p = plan("a1_group_avg")
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(2000))
    assert(p.contains("partial_avg") || p.contains("partial_"), p.take(2000))
  }

  test("f_math scalar pipeline stays inside whole-stage codegen") {
    // AQE reveals the final (codegen-annotated, "*(n)") plan only after
    // execution
    val df = SparkEntry.queries("f_math_funcs")(spark, sfDir)
    df.collect() // count() would plan a different query; collect this one
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("isFinalPlan=true") && p.contains("*("), p.take(2000))
  }

  test("j6 semi-join keyset uses a real left-semi join") {
    val p = plan("j6_semi_join_keyset")
    assert(p.contains("LeftSemi"), p.take(2000))
  }

  test("e1 tumbling window pre-aggregates before the shuffle") {
    val p = plan("e1_tumbling_window")
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(2000))
  }

  test("src4 bucketed join runs with no exchange on either join side") {
    val df = SparkEntry.queries("src4_bucketed_join")(spark, sfDir)
    df.collect() // AQE: final plan only after execution
    // AQE's toString appends an "== Initial Plan ==" section; assert on
    // the final plan only
    val full = df.queryExecution.executedPlan.toString
    val p = full.split("== Initial Plan ==")(0)
    assert(p.contains("SortMergeJoin"), p.take(3000))
    // the only exchange allowed is the post-join groupBy shuffle; the
    // join inputs (everything below the join node) must read bucketed
    // with no Exchange
    val belowJoin = p.substring(p.indexOf("SortMergeJoin"))
    assert(!belowJoin.contains("Exchange"), p.take(3000))
    assert(p.contains("SelectedBucketsCount") && p.contains("Bucketed: true"),
      p.take(3000))
  }

  test("s1 knn dot products use the native codegen graft_dot expression") {
    val p = plan("s1_knn_bruteforce")
    assert(p.contains("graft_dot"), p.take(3000))
    assert(!p.contains("aggregate(zip_with"), p.take(3000))
  }

  test("d3 shingle emission is a codegen'd native Generate fused with the " +
      "scan - no typed ser/de boundary on the shingle path") {
    val p = plan("d3_ngram_jaccard")
    val gen = p.linesIterator.filter(_.contains("Generate graft_shingles"))
      .toSeq
    assert(gen.nonEmpty, p.take(3000))
    // the UDTF rides inside a WholeStageCodegen span (star-annotated),
    // unlike the retired mapPartitions spelling whose
    // Deserialize/SerializeFromObject pair broke codegen around it
    assert(gen.forall(l => l.indexOf("*(") >= 0 &&
      l.indexOf("*(") < l.indexOf("Generate")), gen.mkString("\n"))
    assert(!p.contains("DeserializeToObject"), p.take(3000))
  }

  test("pl4 corpus prep fuses admission+redact+sample into one scan pass " +
      "with a map-side window group limit") {
    val p = plan("pl4_corpus_prep")
    // a single parquet scan: quality filter, sampling predicate, and
    // redaction all evaluate in the scan's codegen stage
    assert("Scan parquet".r.findAllIn(p).size == 1, p.take(3000))
    // the rn=1 dedup survivorship runs as a WindowGroupLimit (map-side
    // pre-filter before the fingerprint shuffle), not a full window sort
    assert(p.contains("WindowGroupLimit"), p.take(3000))
  }

  test("t10 naive Bayes scores with broadcast model joins") {
    val p = plan("t10_naive_bayes")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    // the corpus-sized test explode must not be sort-merge-joined
    assert(!p.contains("SortMergeJoin"), p.take(3000))
  }

  test("e12 funnel stage tables broadcast against the events pass") {
    val df = SparkEntry.queries("e12_funnel")(spark, sfDir)
    // the stage-table construction runs eagerly inside the query fn;
    // pin the plan property on the click-after-view stage instead
    import org.apache.spark.sql.functions._
    val ev = graft.ops.Tables.load(spark, sfDir, "events")
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("t"))
    val v = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("t").as("t_view"))
    val c = ev.filter(col("event_type") === "click")
      .join(v, Seq("user_id"))
      .filter(col("t") > col("t_view"))
    c.collect()
    val p = c.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(df.count() == 3)
  }

  test("d12 decontamination joins stay keyed - no cartesian product") {
    val df = SparkEntry.queries("d12_decontaminate")(spark, sfDir)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(3000))
  }

  test("src5 fact scan is dynamically partition-pruned by the dim subquery") {
    val df = SparkEntry.queries("src5_partition_pruned_join")(spark, sfDir)
    val p = df.queryExecution.executedPlan.toString
    // the partitioned fact scan must carry a runtime pruning filter on
    // the partition column, not a static one
    assert(p.toLowerCase.contains("dynamicpruning"), p.take(3000))
  }

  test("j12 full outer join plans as a sort-merge join (cannot broadcast)") {
    val p = plan("j12_full_outer_join")
    assert(p.contains("SortMergeJoin") && p.contains("FullOuter"),
      p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
  }

  test("CC loop output plan is checkpoint-truncated (d9 lineage pin)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val edges = pairs.union(
      pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
    val (labels, _) = graft.ops.ConnectedComponents.minLabel(edges)
    val p = labels.queryExecution.optimizedPlan.toString
    // each round localCheckpoints, so the RETURNED frame's lineage is a
    // materialized RDD scan — not the stack of per-round joins. If a
    // refactor drops the truncation, the joins reappear here and every
    // d9/d10 round re-pays Catalyst analysis of the growing tree
    // (measured 8.7 s -> 2.4 s at sf0.1).
    assert(p.contains("LogicalRDD") || p.contains("ExistingRDD"), p.take(2000))
    assert(!p.contains("Join"), p.take(2000))
    assert(p.length < 2000,
      s"CC output plan unexpectedly large (${p.length} chars) — lineage leak")
  }

  test("AQE stays default-on and its skew-join rule splits an " +
      "adversarially skewed shuffle join") {
    import org.apache.spark.sql.functions._
    // Posture assertion: GraftSession pins neither AQE nor its skew-join
    // rule off — both must sit at their Spark defaults (on).
    // j9 is the MANUAL salting defense; this automatic split is the
    // first line of defense at 100× scale.
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    assert(spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true")
    // ... and the spec session runs the posture Bench measures: every
    // GraftSession conf
    Map(
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.extensions" -> "graft.GraftExtensions",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.ui.enabled" -> "false",
      "spark.cleaner.periodicGC.interval" -> "2min",
      "spark.sql.codegen.cache.maxEntries" -> "8192"
    ).foreach { case (k, v) => assert(spark.conf.get(k) == v, k) }
    assert(spark.conf.get("spark.sql.warehouse.dir").endsWith("/graft_warehouse"))
    val saved = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes")
      .map(k => k -> spark.conf.getOption(k)).toMap
    try {
      // force the shuffle join and scale the bytes-based detection
      // thresholds down with the test data (production defaults target
      // executor-sized partitions); the payload must be incompressible
      // AND survive into the join output — skew detection reads shuffle
      // bytes, and a pruned constant key column compresses under any
      // threshold
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "256k")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes",
        "128k")
      val fact = spark.range(200000L).select(
        when(pmod(col("id"), lit(10)) =!= 0, lit(0L))
          .otherwise(pmod(col("id"), lit(10000))).as("k"),
        md5(col("id").cast("string")).as("payload"))
      val dim = spark.range(10000L)
        .select(col("id").as("k"), (col("id") * 7).as("v"))
      val df = fact.join(dim, Seq("k"))
        .agg(count(lit(1)).as("n"), max("payload").as("mx"))
      assert(df.collect()(0).getLong(0) == 200000L)
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("skew=true"), p.take(3000))
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("runtime bloom-filter pruning injects on a selective shuffle join") {
    import org.apache.spark.sql.functions._
    // Posture assertion: the optimizer's runtime bloom filter (build a
    // bloom filter from the selective side's join keys, apply it to the
    // fact side BEFORE its shuffle) stays at its Spark default (on) —
    // at 100 TB this is what keeps a 0.1%-selective dim join from
    // shuffling the whole fact table. The bytes thresholds target
    // production scan sizes, so scale them to the test data; injection
    // itself is the optimizer's, not ours.
    assert(spark.conf
      .get("spark.sql.optimizer.runtime.bloomFilter.enabled") == "true")
    val saved = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
      .map(k => k -> spark.conf.getOption(k)).toMap
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter" +
        ".applicationSideScanSizeThreshold", "0")
      val fact = spark.read.parquet(s"$sfDir/lineitem.parquet")
      val dim = spark.read.parquet(s"$sfDir/orders.parquet")
        .filter(col("o_orderpriority") === "1-URGENT")
      val df = fact.join(dim, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"))
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("might_contain"), p.take(4000))
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("TPC-H headline plans: h1 pushes the date filter into the scan, " +
      "h3 takes its top-10 with per-partition heaps, h5 broadcasts " +
      "every dim tier") {
    val p1 = plan("h1_pricing_summary")
    // the shipdate predicate must reach the parquet reader, and the
    // 6-group aggregate must partially combine map-side
    assert(p1.contains("PushedFilters:") && p1.contains("l_shipdate"),
      p1.take(2000))
    assert("HashAggregate".r.findAllIn(p1).size >= 2, p1.take(2000))
    val p3 = plan("h3_shipping_priority")
    // top-10 via TakeOrderedAndProject (per-partition heaps), never a
    // full global sort of the join output
    assert(p3.contains("TakeOrderedAndProject"), p3.take(3000))
    val p5 = plan("h5_local_supplier_volume")
    // customer/supplier/nation dims all broadcast; the only
    // shuffle-join key is the lineitem ⋈ orders orderkey
    assert("BroadcastHashJoin".r.findAllIn(p5).size >= 3, p5.take(3000))
    assert(!p5.contains("CartesianProduct"), p5.take(3000))
  }

  test("TPC-H completion plans: h21's double self-join stays equi-keyed " +
      "with a heap top-k, h19's disjunction keeps part broadcast, h12's " +
      "interval predicate rides the equi join, h17 broadcasts the " +
      "decorrelated threshold") {
    val p21 = plan("h21_waiting_suppliers")
    // EXISTS + NOT EXISTS compile to real semi/anti joins on the shared
    // orderkey — never a nested-loop — and the top-25 never globally
    // sorts the rollup
    assert(p21.contains("LeftSemi") && p21.contains("LeftAnti"),
      p21.take(3000))
    assert(!p21.contains("BroadcastNestedLoopJoin") &&
      !p21.contains("CartesianProduct"), p21.take(3000))
    assert(p21.contains("TakeOrderedAndProject"), p21.take(3000))
    val p19 = plan("h19_disjunctive_revenue")
    // the OR-of-ANDs must not defeat the broadcast equi join
    assert(p19.contains("BroadcastHashJoin"), p19.take(3000))
    assert(!p19.contains("BroadcastNestedLoopJoin") &&
      !p19.contains("CartesianProduct"), p19.take(3000))
    val p12 = plan("h12_priority_shipping")
    // lateness (l_shipdate >= o_orderdate + 90d) references both sides,
    // so it must ride the orderkey equi join as a residual condition,
    // never degrade to a theta join
    assert(!p12.contains("BroadcastNestedLoopJoin") &&
      !p12.contains("CartesianProduct"), p12.take(3000))
    val p17 = plan("h17_small_qty_revenue")
    // Brand#4 part keyset AND the per-part 0.2×avg threshold table both
    // broadcast — the fact is never shuffled on partkey
    assert("BroadcastHashJoin".r.findAllIn(p17).size >= 2, p17.take(3000))
  }

  test("m10 k-means assignment pass is scan-local: literal centroids, " +
      "no join, no exchange before the aggregate") {
    val e = graft.queries.KMeansOps.loadV(spark, sfDir)
    val cent = graft.queries.KMeansOps.seeds(e)
    val assigned = e.withColumn("cluster",
      graft.queries.KMeansOps.assignExpr(cent))
    val p = assigned.queryExecution.executedPlan.toString
    // the per-iteration assignment must never join against a centroid
    // table — centroids ride as literals, so the pass is one scan with
    // zero shuffles (the property that keeps m10/s5/d11 at one
    // corpus-pass per Lloyd round at 100 TB)
    assert(!p.contains("Join"), p.take(2000))
    assert(!p.contains("Exchange"), p.take(2000))
    assert(p.contains("graft_dot"), p.take(2000))
  }

  test("sk7 GK sketch aggregates with map-side partial sketches " +
      "(two ObjectHashAggregate levels around one exchange)") {
    val p = plan("sk7_gk_quantile_mergeable")
    // the custom TypedImperativeAggregate must plan as a REAL two-level
    // aggregate: per-partition sketch build (partial_graft_gk_quantile)
    // below the exchange, merge-eval above it — the shape that makes
    // the shuffle carry serialized sketches instead of raw values
    assert(p.contains("partial_graft_gk_quantile"), p.take(3000))
    assert("ObjectHashAggregate".r.findAllIn(p).size >= 2, p.take(3000))
    // and the rank probe broadcasts the 20-row estimate table, never
    // shuffling the orders scan for it
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
  }

  test("p17 skyline avoids the O(n^2) dominance join: no nested-loop " +
      "or cartesian anywhere, one window over price levels") {
    val p = plan("p17_pareto_frontier")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert(p.contains("Window"), p.take(2000))
  }

  test("g5 link-prediction: wedges stay inside their task (no wedge " +
      "join), the edge set broadcasts for a map-side anti join") {
    val p = plan("g5_link_prediction")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    // the 1.2M-edge packed-long set must broadcast: a shuffled anti
    // join would move the ~30M surviving pairs a second time
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      p.take(3000))
    // the wedge stream must be pre-partitioned by pair key BEFORE the
    // count aggregate (the 65s->12s lesson: map-side partial agg is
    // waste when keys barely repeat within a task)
    assert(p.contains("REPARTITION_BY_COL") ||
      "Exchange hashpartitioning\\(pk".r.findFirstIn(p).isDefined,
      p.take(3000))
    // wedges leave the kernel as ONE primitive Array[Long] row per
    // center expanded by a codegen'd Generate explode — the round-12
    // fix for per-element Long boxing through the Dataset encoder
    // (148M boxed pks = 3x kernel tax + JVM-wide GC debt)
    assert(p.contains("Generate explode"), p.take(3000))
  }

  test("g6 clustering coefficient emits wedges through the same " +
      "no-boxing Generate explode as g5 (round-12 pin)") {
    val p = plan("g6_clustering_coefficient")
    assert(p.contains("Generate explode"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("d18 sorted-neighborhood adjacency is an exploded-offset " +
      "equi-join, never a nested-loop range join") {
    val p = plan("d18_sorted_neighborhood")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
  }

  test("sk4 bloom bit-set probe broadcasts (membership without " +
      "shuffling the probe side)") {
    val p = plan("sk4_bloom_filter")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("dq6 fence lookup broadcasts the 3-row fence table back against " +
      "the cents scan") {
    val p = plan("dq6_iqr_outliers")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("j15 as-of join plans with NO join operator at all: the " +
      "union-ffill composition is windows over one user shuffle, not a " +
      "range join") {
    val p = plan("j15_asof_join")
    // A naive `c.ts >= p.ts` formulation would plan a SortMergeJoin
    // (or worse, a broadcast nested loop) with an O(n·m) probe; the
    // whole point of the tagged-union forward-fill is that the as-of
    // match is resolved by sort order inside ONE user_id partition.
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct")
        && !p.contains("BroadcastNestedLoopJoin")
        && !p.contains("BroadcastHashJoin"), p.take(3000))
    // Exactly two shuffles: hash(user_id, us) deduping the purchase
    // side, hash(user_id) for the forward-fill window; the final
    // per-user aggregation must REUSE the window's partitioning.
    val n = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(n == 2, s"expected 2 shuffles, got $n\n" + p.take(3000))
  }

  test("j16 forward as-of with tolerance keeps the j15 no-join shape " +
      "(windows over one user shuffle, tolerance as a filter)") {
    val p = plan("j16_asof_forward_tolerance")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct")
        && !p.contains("BroadcastNestedLoopJoin")
        && !p.contains("BroadcastHashJoin"), p.take(3000))
    val n = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(n == 2, s"expected 2 shuffles, got $n\n" + p.take(3000))
  }

  test("sql7 correlated scalar subqueries decorrelate: no per-outer-row " +
      "re-execution survives optimization") {
    val p = plan("sql7_correlated_scalar_subquery")
    // Catalyst's RewriteCorrelatedScalarSubquery turns each correlated
    // scalar into aggregate + join; an InSubquery/ScalarSubquery node
    // re-evaluated per row (or a nested-loop join) would be O(n·m).
    assert(!p.contains("CartesianProduct")
        && !p.contains("BroadcastNestedLoopJoin"), p.take(3000))
    assert(p.contains("HashAggregate"), p.take(3000))
  }

  test("pl8 token-budget sampling runs on ONE source shuffle (rank + " +
      "cumsum + aggregate share the partitioning)") {
    val p = plan("pl8_token_budget_sample")
    val n = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(n == 1, s"expected 1 shuffle, got $n\n" + p.take(3000))
  }

  test("w33 OLS trend is one user shuffle: the rank window and the " +
      "sufficient-statistics aggregate reuse the same partitioning") {
    val p = plan("w33_ols_trend")
    val n = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(n == 1, s"expected 1 shuffle, got $n\n" + p.take(3000))
  }

  test("j18 naive band-join predicate is rewritten by BandJoinRewrite: " +
      "explode + equi-join, no nested loop") {
    val p = plan("j18_band_join_auto")
    // the injected optimizer rule must have replaced the theta join —
    // a BroadcastNestedLoopJoin/CartesianProduct here means the naive
    // predicate executed as an O(n·m) compare-everything join
    assert(!p.contains("BroadcastNestedLoopJoin")
        && !p.contains("CartesianProduct"), p.take(3000))
    assert(p.contains("__graft_band_bkt"), p.take(3000))
    assert(p.contains("Generate explode"), p.take(3000))
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin")
        || p.contains("ShuffledHashJoin"), p.take(3000))
  }

  test("t21 TV distance: the full-vocabulary aggregate is map-side " +
      "combined and the totals join back as a broadcast") {
    val p = plan("t21_corpus_tv_distance")
    assert(p.contains("BroadcastNestedLoopJoin")
        || p.contains("BroadcastHashJoin"), p.take(3000))
    assert(p.contains("TakeOrderedAndProject"), p.take(3000))
  }

  test("sql10 UNPIVOT plans as a row-local Expand with no shuffle " +
      "before the final sort") {
    val p = plan("sql10_unpivot_clause")
    assert(p.contains("Expand"), p.take(3000))
    // exactly one SHUFFLE exchange: the range partitioning of the
    // global sort. Count whole-operator occurrences — a bare substring
    // count would also match inside "BroadcastExchange"/AQE wrappers
    // and mislead if a broadcast ever enters this plan.
    assert("(?<!Broadcast)Exchange (hashpartitioning|rangepartitioning|SinglePartition)".r
      .findAllIn(p).size == 1, p.take(3000))
  }

  test("t26 rarity-rank: the vocab-sized rank table joins back as a " +
      "broadcast, never reshuffling the token stream") {
    val p = plan("t26_rarity_rank_filter")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
  }

  test("pl13 water-filling: the source-cardinality allocation tables " +
      "cross back as broadcasts (no full-table exchange after the " +
      "capacity scan)") {
    val p = plan("pl13_water_filling_budget")
    assert(p.contains("BroadcastNestedLoopJoin")
        || p.contains("BroadcastHashJoin"), p.take(3000))
  }

  test("src16 binaryFile ingest scans a binary file relation (the " +
      "media files feed the plan as rows, no driver-side file walk)") {
    val p = plan("src16_binary_media_ingest")
    assert(p.toLowerCase.contains("binaryfile"), p.take(3000))
  }
}
