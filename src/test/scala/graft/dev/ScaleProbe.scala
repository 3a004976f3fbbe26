package graft.dev

import graft.GraftSession
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import scala.util.chaining._

/** Scaling-curve probe for the dedup family: replicate the sf0.1
  * documents table m× (fresh doc_ids) into /tmp parquet and time the
  * registry queries at each multiple. Linear growth in the signature
  * pass and candidate-bounded verify is the 100 TB design claim;
  * quadratic growth would falsify it.
  * usage: Test/runMain graft.dev.ScaleProbe [q1 q2 ...]
  *        Test/runMain graft.dev.ScaleProbe ann   (ANN-family mode:
  *        replicate embeddings m×, time s1/s2/s5/s6 + recall@3 vs the
  *        per-scale brute-force truth)
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("ann")) { annProbe(); return }
    if (args.headOption.contains("semantic")) { semanticProbe(); return }
    if (args.headOption.contains("mixedlm")) { mixedLmProbe(); return }
    if (args.headOption.contains("skew")) { skewProbe(); return }
    if (args.headOption.contains("tpch")) { tpchProbe(); return }
    if (args.headOption.contains("graph")) { graphProbe(); return }
    if (args.headOption.contains("wedge")) { wedgeProbe(); return }
    if (args.headOption.contains("asof")) { asofProbe(); return }
    if (args.headOption.contains("band")) { bandProbe(); return }
    if (args.headOption.contains("stream")) { streamProbe(); return }
    if (args.headOption.contains("streamparts")) { streamPartsProbe(); return }
    if (args.headOption.contains("decade")) { decadeProbe(args.drop(1)); return }
    if (args.headOption.contains("g5waves")) { g5WavesProbe(args.drop(1)); return }
    if (args.headOption.contains("e24fixed")) { e24FixedProbe(args.drop(1)); return }
    if (args.headOption.contains("sf1wide")) { sf1WideProbe(); return }
    if (args.headOption.contains("sf1")) { sf1Probe(); return }
    if (args.headOption.contains("sketch")) { sketchProbe(); return }
    if (args.headOption.contains("substr")) { substrProbe(); return }
    if (args.headOption.contains("sf1full")) { sf1FullProbe(args.drop(1)); return }
    val queries =
      if (args.nonEmpty) args.toSeq
      else Seq("d2_exact_dedup", "d4_minhash_lsh", "d5_simhash",
        "t1_token_count", "pl4_corpus_prep")
    val spark = GraftSession(32)
    spark.sparkContext.setLogLevel("ERROR")
    val src = "/root/testdata/sf0.1"
    for (m <- Seq(1, 2, 4, 8)) {
      val dir = s"${System.getProperty("java.io.tmpdir")}/graft_scale_x$m"
      val docs = spark.read.parquet(s"$src/documents.parquet")
      val n = docs.count()
      (0 until m).map(i =>
          docs.withColumn("doc_id", col("doc_id") + lit(i * n))
            // perturb replica text so replicas are not exact dups of the
            // original (prefix a replica tag token)
            .withColumn("text",
              when(lit(i) === 0, col("text"))
                .otherwise(concat(lit(s"rep$i "), col("text")))))
        .reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      // embeddings/events/etc not needed by the doc-family queries, but
      // Tables.load resolves per table so only documents is read
      queries.foreach { q =>
        val fn = graft.SparkEntry.queries(q)
        fn(spark, dir).count() // warm
        val t0 = System.nanoTime()
        val rows = fn(spark, dir).count()
        spark.catalog.clearCache()
        println(f"SCALE x$m%-2d $q%-22s rows=$rows%-8d ${(System.nanoTime() - t0) / 1e9}%.2fs")
      }
    }
    spark.stop()
  }

  /** TPC-H headline scaling: lineitem + orders replicated m× with
    * offset orderkeys (dims fixed — the realistic shape: facts grow,
    * dimensions don't), h1/h3/h18 timed at each multiple. The claim
    * under test: scan+partial-agg (h1) and broadcast-dim join +
    * orderkey-co-shuffled join (h3/h18) scale LINEARLY in fact rows —
    * no quadratic term, no broadcast regression as facts grow.
    * usage: Test/runMain graft.dev.ScaleProbe tpch
    */
  /** Graph/linkage scaling: replicate lineitem m× with offset supplier
    * AND part keys — each replica is a DISJOINT copy of the supply
    * graph, so nodes and edges both grow m× (the worst case for
    * PageRank: no density amortization) — and customer m× with
    * per-replica name suffixes (blocks stay tight, true matches stay
    * planted). Flat-ish per-m runtime at fixed resources is the design
    * claim: PageRank is join+agg rounds whose shuffle grows linearly,
    * linkage is a 2-key equi-join whose candidate set grows linearly.
    */
  private def graphProbe(): Unit = {
    val spark = GraftSession(32)
    spark.sparkContext.setLogLevel("ERROR")
    val src = "/root/testdata/sf0.1"
    for (m <- Seq(1, 2, 4, 8)) {
      val dir = s"${System.getProperty("java.io.tmpdir")}/graft_scale_graph_x$m"
      val li = spark.read.parquet(s"$src/lineitem.parquet")
      val sStride = li.agg(max("l_suppkey")).first().getLong(0) + 1
      val pStride = li.agg(max("l_partkey")).first().getLong(0) + 1
      (0 until m).map(i => li
          .withColumn("l_suppkey", col("l_suppkey") + lit(i * sStride))
          .withColumn("l_partkey", col("l_partkey") + lit(i * pStride)))
        .reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
      val cust = spark.read.parquet(s"$src/customer.parquet")
      val cStride = cust.agg(max("c_custkey")).first().getLong(0) + 1
      (0 until m).map(i => cust
          .withColumn("c_custkey", col("c_custkey") + lit(i * cStride))
          .withColumn("c_name",
            when(lit(i) === 0, col("c_name"))
              .otherwise(concat(col("c_name"), lit(i.toString)))))
        .reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$dir/customer.parquet")
      for (q <- Seq("g1_pagerank", "j13_fuzzy_record_linkage")) {
        val fn = graft.SparkEntry.queries(q)
        fn(spark, dir).count() // warm
        val t0 = System.nanoTime()
        val rows = fn(spark, dir).count()
        spark.catalog.clearCache()
        println(f"GRAPH x$m%-2d $q%-26s rows=$rows%-8d " +
          f"${(System.nanoTime() - t0) / 1e9}%.2fs")
      }
    }
    spark.stop()
  }

  /** Wedge-join family scaling (g3 triangles / g5 link prediction):
    * replicate lineitem m× with offset ORDER and PART keys so each
    * replica is a disjoint copy of the co-purchase graph — per-center
    * degrees stay constant, so the Σdeg(c)² wedge cost should grow
    * LINEARLY in m (the degree-orientation design claim); shared
    * orderkeys would instead densify the graph and blow the wedge
    * count up quadratically, which is exactly what this probe would
    * expose if the orientation were lost.
    * usage: Test/runMain graft.dev.ScaleProbe wedge
    */
  /** As-of join scaling (j15): replicate events m× with the SAME users
    * but time-shifted copies, so every user's history grows m× deeper.
    * The union-ffill composition is O(n log n) per user partition and
    * should track m·log m; the naive range-join formulation (join on
    * user with p.ts <= c.ts, then argmax) enumerates O(clicks ×
    * purchases) candidate pairs per user and should track m² — the
    * contrast is the design claim behind j15's no-join plan pin.
    * Measured (sf0.1, local[32], 2026-08-13): ffill 0.46 / 0.32 /
    * 0.45 s at x4 / x16 / x64 — flat; naive 0.40 / 0.52 / 1.41 s —
    * already 3× worse at x64 and tracking the pair count, while ffill
    * rides the sort.
    * usage: Test/runMain graft.dev.ScaleProbe asof
    */
  private def asofProbe(): Unit = {
    val spark = GraftSession(32)
    spark.sparkContext.setLogLevel("ERROR")
    val src = "/root/testdata/sf0.1"
    // Deep histories, not wide user counts: same 1500 users, m× more
    // events each — per-user candidate pairs grow m², ffill work m log m.
    for (m <- Seq(4, 16, 64)) {
      val dir =
        s"${System.getProperty("java.io.tmpdir")}/graft_scale_asof_x$m"
      // normalize first (encoding-agnostic), shift in micro-space, and
      // write real timestamps so Tables.load round-trips the copies
      val ev = graft.ops.Tables
        .normalizeTs(spark.read.parquet(s"$src/events.parquet"))
        .withColumn("us", unix_micros(col("ts")))
      val span = ev.agg(max("us") - min("us")).first().getLong(0) + 1
      val n = ev.count()
      (0 until m).map(i => ev
          .withColumn("event_id", col("event_id") + lit(i * n))
          .withColumn("ts", timestamp_micros(col("us") + lit(i * span))))
        .reduce(_ unionByName _)
        .drop("us")
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      // union-ffill (the registry query)
      val fn = graft.SparkEntry.queries("j15_asof_join")
      fn(spark, dir).count() // warm
      var t0 = System.nanoTime()
      val rows = fn(spark, dir).count()
      println(f"ASOF  x$m%-2d ffill rows=$rows%-6d " +
        f"${(System.nanoTime() - t0) / 1e9}%.2fs")
      // custom physical operator (round 9): same semantics as the
      // union-ffill, but a dedicated merge-scan exec (j19's plan)
      val evA = graft.ops.Tables.load(spark, dir, "events")
      val wB = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id", "us").orderBy(col("event_id").desc)
      val purch = evA.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("us"))
        .withColumn("rn",
          org.apache.spark.sql.functions.row_number().over(wB))
        .filter(col("rn") === 1)
        .select(col("user_id").as("p_user"), col("us").as("p_us"))
      val clicks = evA.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("click_us"))
      val execJoin = graft.plans.AsOf.join(clicks, purch,
          "user_id", "click_us", "p_user", "p_us")
        .groupBy("user_id").agg(count(col("p_us")).as("n"))
      execJoin.count() // warm
      t0 = System.nanoTime()
      execJoin.count()
      println(f"ASOF  x$m%-2d asof-exec               " +
        f"${(System.nanoTime() - t0) / 1e9}%.2fs")
      // naive range join + argmax over the candidate pairs
      val e2 = graft.ops.Tables.load(spark, dir, "events")
      val c = e2.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("c_eid"),
          unix_micros(col("ts")).as("c_us"))
      val p = e2.filter(col("event_type") === "purchase")
        .select(col("user_id"), unix_micros(col("ts")).as("p_us"))
      val naive = c.join(p, Seq("user_id"), "left")
        .filter(col("p_us").isNull || col("p_us") <= col("c_us"))
        .groupBy("user_id", "c_eid")
        .agg(max("p_us").as("ref_us"))
        .groupBy("user_id").agg(count(lit(1)).as("n"))
      naive.count() // warm
      t0 = System.nanoTime()
      naive.count()
      println(f"ASOF  x$m%-2d naive-range-join        " +
        f"${(System.nanoTime() - t0) / 1e9}%.2fs")
    }
    spark.stop()
  }

  /** Streaming-family scaling (round-10 ask): the stream gets m× LONGER
    * in event time — replicas of the sf0.1 events table time-shifted
    * end-to-end, chunked into fixed 5-stream-day files and replayed with
    * maxFilesPerTrigger=1, so the watermark advances the same amount per
    * micro-batch at every scale and the batch COUNT grows m× while
    * per-batch work stays constant (a long-running production stream's
    * shape, compressed). Claims under test: (a) wall-time tracks total
    * event volume ~linearly; (b) the state carried BETWEEN micro-batches
    * (max numRowsTotal across the run) is bounded by the watermark
    * HORIZON — windows/sessions/join buffers within ~2 h of the front —
    * and stays FLAT as the stream lifetime grows 8×; (c) the same
    * tumbling aggregate WITHOUT a watermark accumulates every window it
    * has ever seen, so its state grows m× — the contrast that shows the
    * flatness is the watermark's doing, not the workload's. Probes the
    * e1/e9/e19 streaming analogues: tumbling windows, native session
    * windows, and the stream-stream time-range join (both sides buffer;
    * the watermark + 30-min range bound is what lets state drop).
    * Measured 2026-08-14 (local[32], sf0.1 events, 49 micro-batches at
    * 8×): all three watermarked arms hold maxState EXACTLY FLAT across
    * an 8× stream lifetime (tumbling 612, session 16269-16272, join
    * 6852 buffered rows) with near-linear wall-time, while the
    * unwatermarked contrast grows state exactly m×3600 — the flatness
    * is the watermark's doing, proven by differencing.
    * usage: Test/runMain graft.dev.ScaleProbe stream
    */
  private def streamProbe(): Unit = {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.hadoop.fs.Path
    val spark = GraftSession(32)
    spark.sparkContext.setLogLevel("ERROR")
    val src = "/root/testdata/sf0.1"
    for (m <- Seq(1, 2, 4, 8)) {
      val base =
        s"${System.getProperty("java.io.tmpdir")}/graft_scale_stream_x$m"
      val fs = new Path(base)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new Path(base), true)
      val inDir = s"$base/in"
      fs.mkdirs(new Path(inDir))
      val ev0 = graft.ops.Tables
        .normalizeTs(spark.read.parquet(s"$src/events.parquet"))
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
        .withColumn("us", unix_micros(col("ts")))
      val mn = ev0.agg(min("us")).first().getLong(0)
      val span = ev0.agg(max("us")).first().getLong(0) - mn + 1
      val n = ev0.count()
      val chunkUs = 5L * 24 * 3600 * 1000000 // 5 stream-days per file
      val nChunks = ((m * span + chunkUs - 1) / chunkUs).toInt
      val staged = (0 until m).map(i => ev0
          .withColumn("event_id", col("event_id") + lit(i * n))
          .withColumn("us", col("us") + lit(i * span)))
        .reduce(_ unionByName _)
        .withColumn("ts", timestamp_micros(col("us")))
        .withColumn("chunk",
          ((col("us") - lit(mn)) / lit(chunkUs)).cast("int"))
        .drop("us")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      staged.count()
      // sequential writes => strictly increasing file mod-times, so the
      // file source replays chunks in event-time order
      for (cid <- 0 until nChunks) {
        val tmp = s"$base/stage_$cid"
        staged.filter(col("chunk") === cid).drop("chunk")
          .coalesce(1).write.parquet(tmp)
        val part = fs.globStatus(new Path(s"$tmp/part-*.parquet"))(0).getPath
        fs.rename(part, new Path(f"$inDir/chunk_$cid%04d.parquet"))
      }
      staged.unpersist()
      val schema = spark.read.parquet(s"$inDir/chunk_0000.parquet").schema

      def run(name: String, mode: String)(
          xform: DataFrame => DataFrame): Unit = {
        val stream = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(inDir)
        val t0 = System.nanoTime()
        val q = xform(stream).writeStream
          .format("noop").outputMode(mode)
          .option("checkpointLocation", s"$base/ckpt_$name")
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        val sec = (System.nanoTime() - t0) / 1e9
        val prog = q.recentProgress // nChunks <= 48 < the 100-entry cap
        val perBatch = prog.map(_.stateOperators.map(_.numRowsTotal).sum)
        val rows = prog.map(_.numInputRows).sum
        println(f"STREAM x$m%-2d $name%-14s batches=${prog.length}%-3d " +
          f"rows=$rows%-8d maxState=${if (perBatch.nonEmpty) perBatch.max else 0L}%-7d " +
          f"finalState=${if (perBatch.nonEmpty) perBatch.last else 0L}%-7d $sec%7.2fs")
      }

      run("tumbling", "append")(ev =>
        graft.streaming.EventStreams.tumblingCounts(ev))
      run("session", "append")(ev =>
        graft.streaming.EventStreams.sessionCounts(ev))
      run("ssjoin", "append") { ev =>
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id"), col("event_id").as("click_id"),
            col("ts").as("click_ts"))
          .withWatermark("click_ts", "1 hour")
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id").as("p_user"),
            col("event_id").as("purchase_id"), col("ts").as("p_ts"))
          .withWatermark("p_ts", "1 hour")
        clicks.join(purchases,
          col("user_id") === col("p_user") &&
            col("p_ts") >= col("click_ts") &&
            col("p_ts") <= col("click_ts") + expr("INTERVAL 30 MINUTES"))
      }
      // contrast arm: NO watermark => every window ever opened stays in
      // state forever; update mode because unwatermarked aggs can't append
      run("tumbling-nowm", "update") { ev =>
        ev.groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("n"))
      }
    }
    spark.stop()
  }

  /** Streaming shuffle-partition sweep — the measurement behind the
    * registry's `withShufflePartitions(s, 8)` pin on the streaming
    * proof rows. Every stateful operator loads+commits ONE state store
    * per shuffle partition per micro-batch, so at proof scale (60k
    * rows) the per-store fixed overhead dominates and fewer partitions
    * win; as volume grows the per-row work amortizes it and the curve
    * flattens — which is the production sizing rule (partitions track
    * expected STATE, not batch CPU width). Workload: the e24-shaped
    * stream-stream inner join (4 state stores), staged chunk files,
    * AvailableNow. usage: Test/runMain graft.dev.ScaleProbe streamparts
    */
  private def streamPartsProbe(): Unit = {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.hadoop.fs.Path
    val spark = GraftSession(32)
    spark.sparkContext.setLogLevel("ERROR")
    val src = "/root/testdata/sf0.1"
    for (m <- Seq(1, 8)) {
      val base =
        s"${System.getProperty("java.io.tmpdir")}/graft_scale_sparts_x$m"
      val fs = new Path(base)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new Path(base), true)
      val inDir = s"$base/in"
      fs.mkdirs(new Path(inDir))
      val ev0 = graft.ops.Tables
        .normalizeTs(spark.read.parquet(s"$src/events.parquet"))
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"))
        .withColumn("us", unix_micros(col("ts")))
      val mn = ev0.agg(min("us")).first().getLong(0)
      val span = ev0.agg(max("us")).first().getLong(0) - mn + 1
      val n = ev0.count()
      val chunkUs = 5L * 24 * 3600 * 1000000
      val nChunks = ((m * span + chunkUs - 1) / chunkUs).toInt
      val staged = (0 until m).map(i => ev0
          .withColumn("event_id", col("event_id") + lit(i * n))
          .withColumn("us", col("us") + lit(i * span)))
        .reduce(_ unionByName _)
        .withColumn("ts", timestamp_micros(col("us")))
        .withColumn("chunk",
          ((col("us") - lit(mn)) / lit(chunkUs)).cast("int"))
        .drop("us")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      staged.count()
      for (cid <- 0 until nChunks) {
        val tmp = s"$base/stage_$cid"
        staged.filter(col("chunk") === cid).drop("chunk")
          .coalesce(1).write.parquet(tmp)
        val part = fs.globStatus(new Path(s"$tmp/part-*.parquet"))(0).getPath
        fs.rename(part, new Path(f"$inDir/chunk_$cid%04d.parquet"))
      }
      staged.unpersist()
      val schema = spark.read.parquet(s"$inDir/chunk_0000.parquet").schema
      // the rule's derivation for this workload (measured buffered join
      // rows ≈ 6.9k at 1×, grows with the watermark horizon, not m)
      val auto = graft.streaming.StatePartitioning.forExpectedState(7000L)
      println(f"SPARTS x$m%-2d auto-rule derives parts=$auto " +
        "(expectedState=7000)")
      for (parts <- (Seq(auto) ++ Seq(4, 8, 16, 32)).distinct) {
        spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
        val stream = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(inDir)
        val clicks = stream.filter(col("event_type") === "click")
          .select(col("user_id"), col("event_id").as("click_id"),
            col("ts").as("click_ts"))
          .withWatermark("click_ts", "1 hour")
        val purchases = stream.filter(col("event_type") === "purchase")
          .select(col("user_id").as("p_user"),
            col("event_id").as("purchase_id"), col("ts").as("p_ts"))
          .withWatermark("p_ts", "1 hour")
        val joined = clicks.join(purchases,
          col("user_id") === col("p_user") &&
            col("p_ts") >= col("click_ts") &&
            col("p_ts") <= col("click_ts") + expr("INTERVAL 30 MINUTES"))
        val t0 = System.nanoTime()
        val q = joined.writeStream.format("noop").outputMode("append")
          .option("checkpointLocation", s"$base/ckpt_p$parts")
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        val sec = (System.nanoTime() - t0) / 1e9
        val prog = q.recentProgress
        val rows = prog.map(_.numInputRows).sum
        println(f"SPARTS x$m%-2d parts=$parts%-3d batches=${prog.length}%-3d " +
          f"rows=$rows%-8d $sec%7.2fs")
      }
      spark.conf.set("spark.sql.shuffle.partitions", "32")
    }
    spark.stop()
  }

  /** Band-join scaling: part replicated m× (offset keys, SAME price
    * domain so band density per bucket grows m× — the adversarial
    * direction). Claim under test: the bucket-explode equi-join scales
    * with OUTPUT size (pairs grow m² here because both sides grow in a
    * fixed price range — at real scale the price domain grows too and
    * bucket occupancy stays bounded), while the naive theta join
    * re-COMPARES all probe×cand pairs regardless of matches. The probe
    * measures both so the gap, not just the trend, is on record.
    */
  private def bandProbe(): Unit = {
    val spark = GraftSession(32)
    spark.sparkContext.setLogLevel("ERROR")
    val src = "/root/testdata/sf0.1"
    for (m <- Seq(1, 4, 8)) {
      val dir =
        s"${System.getProperty("java.io.tmpdir")}/graft_scale_band_x$m"
      val parts = spark.read.parquet(s"$src/part.parquet")
      val n = parts.count()
      (0 until m).map(i =>
          parts.withColumn("p_partkey", col("p_partkey") + lit(i * n)))
        .reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$dir/part.parquet")
      val fn = graft.SparkEntry.queries("j17_price_band_join")
      fn(spark, dir).count() // warm
      var t0 = System.nanoTime()
      val rows = fn(spark, dir).count()
      println(f"BAND  x$m%-2d bucket-equi rows=$rows%-7d " +
        f"${(System.nanoTime() - t0) / 1e9}%.2fs")
      // naive theta join: same semantics, no bucket key. Written as
      // `< 11` so BandJoinRewrite (which matches only the bare
      // `abs(…) <= δ` shape) does NOT fire — this arm must measure the
      // un-rewritten nested-loop plan the rule exists to prevent.
      val p2 = graft.ops.Tables.load(spark, dir, "part")
        .withColumn("cents",
          floor(col("p_retailprice") * 100 + lit(0.5)).cast("long"))
      val probe = p2.filter(col("p_brand") === "Brand#1")
        .select(col("p_partkey").as("pk"), col("cents").as("pc"))
      val cand = p2.filter(col("p_brand") =!= "Brand#1")
        .select(col("p_partkey").as("ck"), col("cents").as("cc"))
      val naive = probe.join(cand,
          abs(col("pc") - col("cc")) < 11L)
        .groupBy("pk").agg(count(lit(1)).as("n"))
      naive.count() // warm
      t0 = System.nanoTime()
      naive.count()
      println(f"BAND  x$m%-2d naive-theta             " +
        f"${(System.nanoTime() - t0) / 1e9}%.2fs")
    }
    spark.stop()
  }

  private def wedgeProbe(): Unit = {
    val spark = GraftSession(32)
    spark.sparkContext.setLogLevel("ERROR")
    val src = "/root/testdata/sf0.1"
    for (m <- Seq(1, 2, 4, 8)) {
      val dir =
        s"${System.getProperty("java.io.tmpdir")}/graft_scale_wedge_x$m"
      val li = spark.read.parquet(s"$src/lineitem.parquet")
      val oStride = li.agg(max("l_orderkey")).first().getLong(0) + 1
      val pStride = li.agg(max("l_partkey")).first().getLong(0) + 1
      (0 until m).map(i => li
          .withColumn("l_orderkey", col("l_orderkey") + lit(i * oStride))
          .withColumn("l_partkey", col("l_partkey") + lit(i * pStride)))
        .reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
      for (q <- Seq("g3_triangle_count", "g5_link_prediction")) {
        val fn = graft.SparkEntry.queries(q)
        fn(spark, dir).count() // warm
        val t0 = System.nanoTime()
        val rows = fn(spark, dir).count()
        spark.catalog.clearCache()
        println(f"WEDGE x$m%-2d $q%-26s rows=$rows%-8d " +
          f"${(System.nanoTime() - t0) / 1e9}%.2fs")
      }
    }
    spark.stop()
  }

  /** One sf1 headline probe (round-10 ask): the TPC-H re-probe covers
    * 8× fact growth at sf0.1 shapes; this goes one step further — an
    * sf1-EQUIVALENT fact set (lineitem 6M rows, orders 1.5M — the
    * sf0.1 facts replicated 10× with offset orderkeys, dims fixed) and
    * h1/h3/h6/h18 timed once at 1× and once at 10×, with each run's
    * executed-plan JOIN-STRATEGY fingerprint (counts of broadcast /
    * sort-merge / shuffled-hash join nodes after AQE finalizes)
    * recorded next to the time. Two claims, both measured (2026-08-14,
    * local[32]): (a) per-query time stays flat-to-1.4× for 10× fact
    * rows (h1 0.41→0.48 s, h3 0.86→0.95 s, h6 0.24→0.28 s, h18
    * 0.65→0.88 s); (b) the fingerprint changes EXACTLY where it
    * should and nowhere else — dim joins (customer) stay broadcast at
    * both scales, while the fact-fact orders⋈lineitem join in h3/h18
    * transitions bhj→smj at 10× because 1.5M-row orders outgrows the
    * autoBroadcastJoinThreshold. That transition is the at-scale
    * behavior the design WANTS (a fact side must never be pinned as a
    * broadcast build), and the flat times show it costs no cliff: the
    * co-shuffled sort-merge absorbs the growth into idle width.
    * usage: Test/runMain graft.dev.ScaleProbe sf1
    */
  private def sf1Probe(): Unit = {
    val spark = GraftSession(32)
    spark.sparkContext.setLogLevel("ERROR")
    val src = "/root/testdata/sf0.1"
    for (m <- Seq(1, 10)) {
      val dir = s"${System.getProperty("java.io.tmpdir")}/graft_scale_sf1_x$m"
      val li = spark.read.parquet(s"$src/lineitem.parquet")
      val o = spark.read.parquet(s"$src/orders.parquet")
      val keyStride = o.agg(max("o_orderkey")).first().getLong(0) + 1
      (0 until m).map(i => li.withColumn("l_orderkey",
          col("l_orderkey") + lit(i * keyStride)))
        .reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
      (0 until m).map(i => o.withColumn("o_orderkey",
          col("o_orderkey") + lit(i * keyStride)))
        .reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$dir/orders.parquet")
      for (t <- Seq("customer", "supplier", "nation", "region", "part"))
        spark.read.parquet(s"$src/$t.parquet")
          .write.mode("overwrite").parquet(s"$dir/$t.parquet")
      for (q <- Seq("h1_pricing_summary", "h3_shipping_priority",
        "h6_forecast_revenue", "h18_large_orders")) {
        val fn = graft.SparkEntry.queries(q)
        fn(spark, dir).count() // warm
        val t0 = System.nanoTime()
        val df = fn(spark, dir)
        val rows = df.count()
        val sec = (System.nanoTime() - t0) / 1e9
        val plan = df.queryExecution.executedPlan.toString
        def c(s: String) = s.r.findAllMatchIn(plan).length
        spark.catalog.clearCache()
        println(f"SF1 x$m%-2d $q%-22s rows=$rows%-6d $sec%6.2fs " +
          f"joins[bhj=${c("BroadcastHashJoin")} smj=${c("SortMergeJoin")} " +
          f"shj=${c("ShuffledHashJoin")}]")
      }
    }
    spark.stop()
  }

  /** Sketch-vs-exact SHUFFLE BYTES (the 100 TB percentile claim made
    * measurable): orders replicated 1×–64× (same priority groups, same
    * price domain), then the same per-group quantile question answered
    * two ways — `graft_gk_quantile` (map-side GK sketch partials) and
    * exact `percentile` (whose partial aggregation buffers EVERY value
    * into the shuffle). A task-metrics listener sums real shuffle
    * bytes written per run. Claim: the sketch's shuffle stays
    * sketch-sized (KBs, log-growth) at every scale while the exact
    * side's shuffle grows ~m×, because it ships the data itself; at a
    * 1000-executor scale that difference is the whole game.
    * usage: Test/runMain graft.dev.ScaleProbe sketch
    */
  private def sketchProbe(): Unit = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
    val spark = GraftSession(32)
    spark.sparkContext.setLogLevel("ERROR")
    val src = "/root/testdata/sf0.1"
    val bytes = new java.util.concurrent.atomic.AtomicLong(0L)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
        if (te.taskMetrics != null)
          bytes.addAndGet(te.taskMetrics.shuffleWriteMetrics.bytesWritten)
    })
    val o0 = spark.read.parquet(s"$src/orders.parquet")
      .select(col("o_orderkey"), col("o_orderpriority"),
        col("o_totalprice"))
    val stride = o0.agg(max("o_orderkey")).first().getLong(0) + 1
    for (m <- Seq(1, 4, 16, 64)) {
      val dir =
        s"${System.getProperty("java.io.tmpdir")}/graft_scale_sketch_x$m"
      (0 until m).map(i => o0.withColumn("o_orderkey",
          col("o_orderkey") + lit(i * stride)))
        .reduce(_ unionByName _)
        .write.mode("overwrite").parquet(dir)
      val t = spark.read.parquet(dir)
        .selectExpr("o_orderpriority AS grp",
          "CAST(o_totalprice AS DOUBLE) AS v")
      t.createOrReplaceTempView("sk_probe")
      def run(name: String, sql: String): Unit = {
        spark.sql(sql).collect() // warm (also compiles codegen)
        Thread.sleep(500); bytes.set(0L)
        val t0 = System.nanoTime()
        spark.sql(sql).collect()
        val sec = (System.nanoTime() - t0) / 1e9
        Thread.sleep(500) // let the async listener bus drain
        println(f"SKETCH x$m%-3d $name%-10s shuffleKB=${bytes.get / 1024}%-8d" +
          f" $sec%6.2fs")
      }
      run("gk", """SELECT grp, graft_gk_quantile(v, 0.005d,
                  |  array(0.25d, 0.5d, 0.75d, 0.95d)) AS q
                  |FROM sk_probe GROUP BY grp""".stripMargin)
      run("exact", """SELECT grp, percentile(v,
                     |  array(0.25d, 0.5d, 0.75d, 0.95d)) AS q
                     |FROM sk_probe GROUP BY grp""".stripMargin)
    }
    spark.stop()
  }

  /** SECOND-DECADE probe (round-15 ask): everything above 10× was
    * extrapolation until now — build sf3 (30×) and sf10 (100×)
    * equivalents of the sf1full dataset (same faithful construction:
    * offset keys keep dim joins total and the co-purchase graph
    * disjoint; docs/embeddings perturbed per replica; events
    * time-shifted end-to-end) and MEASURE the top shuffle-bound rows
    * there. The rows chosen are the ones whose 100 TB posture is a
    * scaling CLAIM: the anchored/sampled verifies (d25/d26/d27/pl15 —
    * claim: ~linear in corpus at fixed budget), the LSH/cluster path
    * (d4/d9 — claim: candidate-bounded, pair-volume-priced), the
    * wedge kernel (g5 — claim: Σdeg²-priced with volume-scaled
    * repartition), stream-stream join (e24), the star joins (h5/h9),
    * and the depth-sampled Theil–Sen (w38).
    * usage: Test/runMain graft.dev.ScaleProbe decade <m> [q...]
    * emits dev/bench_decade_m<m>.json incrementally.
    */
  /** Fixed-batch e24 replay for the decade probe (round-16, closing
    * the round-15 verdict ask #5): the registry e24 stages the WHOLE
    * corpus as micro-batch 0 — correct for the eviction PROOF, but at
    * 30×/100× the decade number then prices "buffer the full corpus
    * in join state, then evict", i.e. replay shape, not state
    * behavior. This mode stages the SAME corpus as 8 event-time-
    * ordered chunks (+2 sentinel eviction rounds), so the batch count
    * is FIXED (10) at every scale, the committed watermark advances
    * between chunks, and peak state is one chunk + the trailing 1 h +
    * 30 min horizon instead of the corpus. A ~linear decade curve
    * here IS the watermark-bounded-state claim measured; superlinear
    * residue would be state-management cost. Output is sanity-pinned
    * against the batch left join's row count at the same scale.
    * usage: Test/runMain graft.dev.ScaleProbe e24fixed <m>
    * emits dev/bench_decade_e24fixed_m<m>.json
    */
  private def e24FixedProbe(args: Seq[String]): Unit = {
    val m = args.headOption.map(_.toInt).getOrElse(30)
    // 8 shuffle partitions on 32 cores: the streaming state-store
    // sizing rule (state-store commits are per partition per batch)
    val spark = GraftSession.builder(32)
      .config("spark.sql.shuffle.partitions", 8)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir =
      if (m == 1) "/root/testdata/sf0.1"
      else s"${System.getProperty("java.io.tmpdir")}/graft_decade_m$m"
    if (m != 1) buildScaled(spark, "/root/testdata/sf0.1", m, dir)
    val (sec, nBatches, got, ok) = e24FixedRun(spark, dir, m)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"dev/bench_decade_e24fixed_m$m.json"),
      s"""{"metric":"e24_fixed_batches","value":$sec,"unit":"sec",""" +
        s""""m":$m,"batches":$nBatches,"rows":$got,""" +
        s""""rows_match_batch_join":$ok}""" + "\n")
    spark.stop()
  }

  /** The e24 fixed-batch replay core, callable both standalone
    * (`e24fixed` mode) and from decadeProbe (round-16 verdict ask #7:
    * every decade run should report BOTH the replay-scaled registry
    * e24 and this state-scaled number). Returns (sec, batches, rows,
    * rows-match-batch-join). Runs at 8 shuffle partitions (the
    * streaming state-store sizing rule) and restores the session's
    * prior setting on exit.
    */
  private def e24FixedRun(spark: SparkSession, dir: String,
      m: Int): (Double, Long, Long, Boolean) = {
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.hadoop.fs.Path
    val priorParts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    val base = System.getProperty("java.io.tmpdir") + s"/graft_e24fixed_$m"
    val fs = new Path(base).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(base), true)
    val inDir = s"$base/in"; val outDir = s"$base/out"
    val ckpt = s"$base/ckpt"
    fs.mkdirs(new Path(inDir))
    val ev = graft.ops.Tables.load(spark, dir, "events")
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
    def stage(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = s"$base/stage_$name"
      df.coalesce(1).write.parquet(tmp)
      val part = fs.globStatus(new Path(s"$tmp/part-*.parquet"))(0).getPath
      fs.rename(part, new Path(s"$inDir/$name.parquet"))
      fs.delete(new Path(tmp), true)
    }
    // event-time chunk cuts: 7 approx septiles of ts, exact-boundary
    // half-open ranges so every row lands in exactly one chunk
    val tsUs = ev.withColumn("tsus", unix_micros(col("ts")))
    val cuts = tsUs.stat
      .approxQuantile("tsus", (1 to 7).map(_ / 8.0).toArray, 0.001)
      .map(_.toLong)
    val bounds = (Long.MinValue +: cuts.toSeq) :+ Long.MaxValue
    for (i <- 0 until 8)
      stage(tsUs.filter(col("tsus") >= bounds(i) &&
        col("tsus") < bounds(i + 1)).drop("tsus"), f"c$i")
    val maxTs = ev.agg(max(col("ts"))).first().getTimestamp(0)
    def sentinels(hoursAhead: Long) = {
      import spark.implicits._
      val t = new java.sql.Timestamp(maxTs.getTime + hoursAhead * 3600000L)
      Seq((-1L, t, -1L, "click"), (-2L, t, -1L, "purchase"))
        .toDF("event_id", "ts", "user_id", "event_type")
    }
    def runOnce(): Unit = {
      val stream = spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1).parquet(inDir)
      val clicks = stream.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"),
          col("ts").as("click_ts"))
        .withWatermark("click_ts", "1 hour")
      val purchases = stream.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"),
          col("event_id").as("purchase_id"), col("ts").as("p_ts"))
        .withWatermark("p_ts", "1 hour")
      val joined = clicks.join(purchases,
        col("user_id") === col("p_user") &&
          col("p_ts") >= col("click_ts") &&
          col("p_ts") <= col("click_ts") + expr("interval 30 minutes"),
        "left_outer")
      val q = joined.writeStream
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch {
          (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
              batchId: Long) =>
            graft.streaming.EventStreams
              .writeBatchIdempotent(batch, batchId, outDir)
        }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    val t0 = System.nanoTime()
    runOnce() // 8 event-time-ordered micro-batches, watermark advancing
    stage(sentinels(10), "s1"); runOnce()
    stage(sentinels(20), "s2"); runOnce()
    val sec = (System.nanoTime() - t0) / 1e9
    val out = spark.read.parquet(outDir)
    val nBatches = out.select(col("batch_id").cast("long"))
      .distinct().count()
    val got = out.filter(col("user_id") >= 0).count()
    // sanity: the streamed outer join must emit exactly the batch
    // left-join's row count at the same scale
    val want = ev.filter(col("event_type") === "click").as("c")
      .join(ev.filter(col("event_type") === "purchase").as("p"),
        col("c.user_id") === col("p.user_id") &&
          col("p.ts") >= col("c.ts") &&
          col("p.ts") <= col("c.ts") + expr("interval 30 minutes"),
        "left_outer")
      .count()
    val ok = got == want
    println(f"E24FIXED x$m: $sec%.1f s, $nBatches batches, " +
      s"rows=$got want=$want match=$ok")
    spark.conf.set("spark.sql.shuffle.partitions", priorParts)
    (math.round(sec * 1000.0) / 1000.0, nBatches, got, ok)
  }

  private def decadeProbe(args: Seq[String]): Unit = {
    val m = args.headOption.map(_.toInt).getOrElse(30)
    val names = args.drop(1)
    val spark = GraftSession(32)
    spark.sparkContext.setLogLevel("ERROR")
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_decade_m$m"
    buildScaled(spark, "/root/testdata/sf0.1", m, dir)
    ensureCoEdgesMv(spark, dir)
    val defaults = Seq("d25_neardup_topk", "d26_containment_topk",
      "d27_lsh_tuning_sampled", "pl15_split_leakage_sampled",
      "d4_minhash_lsh", "d9_dedup_clusters", "g5_link_prediction",
      "g5b_link_prediction_sampled",
      "e24_stream_stream_left_outer", "e24_fixed_batches",
      "h5_local_supplier_volume",
      "h9_product_type_profit", "w38_theil_sen_sampled")
    val run = if (names.nonEmpty) names else defaults
    val queries = graft.SparkEntry.queries.filter(kv => run.contains(kv._1))
    val results = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val out = s"dev/bench_decade_m$m.json"
    // READ-MERGE-WRITE (round-16 verdict ask #5): a subset re-run used
    // to overwrite the artifact with only the rows it ran, silently
    // dropping prior measurements. Now prior rows are preserved and
    // only the rows run this time are updated; `value` is the sum over
    // the MERGED map. The queries object is our own flat name→number
    // format, so a regex parse is exact.
    def emit(): Unit = mergeDecadeJson(m, results)
    for (name <- run) {
      try {
        if (name == "e24_fixed_batches") {
          // state-scaled streaming number (fixed 10-batch replay) next
          // to the replay-scaled registry e24 — both on every decade run
          val (sec, _, _, ok) = e24FixedRun(spark, dir, m)
          require(ok, "e24 fixed-batch rows != batch left-join rows")
          results(name) = sec
        } else for (fn <- queries.get(name)) {
          val t0 = System.nanoTime()
          val rows = fn(spark, dir).count()
          val sec = (System.nanoTime() - t0) / 1e9
          results(name) = math.round(sec * 1000.0) / 1000.0
          println(f"DECADE x$m $name%-36s rows=$rows%-10d $sec%8.2fs")
        }
      } catch {
        case e: Throwable =>
          println(f"DECADE x$m $name%-36s FAILED " +
            s"${e.getClass.getSimpleName}: ${e.getMessage.take(200)}")
      }
      try {
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = false))
        spark.streams.active.foreach(q =>
          try q.stop() catch { case _: Throwable => () })
      } catch { case _: Throwable => () }
      emit()
    }
    println(f"DECADE x$m total=${results.values.sum}%.1f")
    spark.stop()
  }

  /** READ-MERGE-WRITE of dev/bench_decade_m<m>.json (round-16 verdict
    * ask #5): a subset re-run must not drop previously measured rows.
    * The queries object is our own flat name→number format, so the
    * regex parse is exact; `value` sums the MERGED map.
    */
  private def mergeDecadeJson(m: Int,
      results: scala.collection.Map[String, Double]): Unit = {
    val p = java.nio.file.Paths.get(s"dev/bench_decade_m$m.json")
    val prior = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    if (java.nio.file.Files.exists(p)) {
      val s = java.nio.file.Files.readString(p)
      // tolerate whitespace after colons — the r16 artifacts were
      // written `"queries": {` and the first merge dropped them
      val qKey = s.indexOf("\"queries\"")
      val qIdx = if (qKey >= 0) s.indexOf("{", qKey) else -1
      if (qIdx >= 0) {
        val body = s.substring(qIdx + 1, s.indexOf("}", qIdx))
        """"([A-Za-z0-9_]+)"\s*:\s*([-0-9.Ee+]+)""".r.findAllMatchIn(body)
          .foreach(mm => prior(mm.group(1)) = mm.group(2).toDouble)
      }
    }
    val merged = prior ++ results
    val qs = merged.map { case (k, v) => s""""$k":$v""" }
      .mkString("{", ",", "}")
    java.nio.file.Files.writeString(p,
      s"""{"metric":"total","value":${merged.values.sum},""" +
        s""""unit":"sec","queries":$qs,"sf":"sf0.1 x$m"}""" + "\n")
  }

  /** Materialize the co-purchase edge set ONCE per decade-scale
    * dataset (round-16 verdict ask #3: the shared coEdges rebuild was
    * most of g5b's 100× floor). Derived with the exact query-side
    * function, written to `<dir>/co_edges.parquet`; GraphQueries
    * .coEdges prefers the MV when present. The committed testdata dirs
    * never carry one, so driver-gate verification still executes the
    * full derivation.
    */
  private def ensureCoEdgesMv(spark: SparkSession, dir: String): Unit = {
    val mv = new java.io.File(s"$dir/co_edges.parquet")
    if (mv.exists()) return
    val tmp = s"$dir/_co_edges_stage"
    graft.queries.GraphQueries.coEdges(spark, dir)
      .write.mode("overwrite").parquet(tmp)
    new java.io.File(tmp).renameTo(mv)
    println(s"DECADE materialized co-edge MV at ${mv.getPath}")
  }

  /** Wave-staged EXACT g5 at decade scale (round-16 verdict ask #2 —
    * the only row never RUN at 100×): K sequential waves, each
    * shuffling only its pk-residue class (~1/K of the ~118 GB 100×
    * pair volume), exact because pk classes are disjoint. Emits
    * `g5_link_prediction_waved` into the merged decade JSON.
    * usage: Test/runMain graft.dev.ScaleProbe g5waves <m> [waves]
    */
  private def g5WavesProbe(args: Seq[String]): Unit = {
    val m = args.headOption.map(_.toInt).getOrElse(100)
    val waves = args.drop(1).headOption.map(_.toInt).getOrElse(3)
    val spark = GraftSession(32)
    spark.sparkContext.setLogLevel("ERROR")
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_decade_m$m"
    buildScaled(spark, "/root/testdata/sf0.1", m, dir)
    ensureCoEdgesMv(spark, dir)
    val t0 = System.nanoTime()
    val top = graft.queries.GraphQueries.g5Exact(spark, dir, waves)
      .collect()
    val sec = (System.nanoTime() - t0) / 1e9
    println(f"G5WAVES x$m waves=$waves rows=${top.length} $sec%.1fs")
    top.take(5).foreach(r => println(s"  $r"))
    mergeDecadeJson(m, scala.collection.Map(
      "g5_link_prediction_waved" -> math.round(sec * 1000.0) / 1000.0))
    spark.stop()
  }

  /** The sf1full dataset construction, parameterized by multiplier —
    * shared by the decade probe (the sf1full probe keeps its committed
    * inline copy + resume machinery untouched). Faithful m×: offset
    * keys, per-replica perturbed docs/embeddings, time-shifted events,
    * fixed dims, single-file tables with 1 MB row groups (byte-range
    * parallelism under the one-file testdata contract).
    */
  private def buildScaled(spark: SparkSession, src: String, m: Int,
      dir: String): Unit = {
    def writeSingle(df: org.apache.spark.sql.DataFrame, table: String): Unit = {
      import org.apache.hadoop.fs.Path
      val tmp = s"$dir/_stage_$table"
      df.coalesce(1).write.mode("overwrite")
        .option("parquet.block.size", 1048576).parquet(tmp)
      val fs = new Path(dir).getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      val part = fs.globStatus(new Path(s"$tmp/part-*.parquet"))(0).getPath
      fs.delete(new Path(s"$dir/$table.parquet"), true)
      fs.rename(part, new Path(s"$dir/$table.parquet"))
      fs.delete(new Path(tmp), true)
    }
    if (new java.io.File(s"$dir/_built").exists()) return
    val li = spark.read.parquet(s"$src/lineitem.parquet")
    val o = spark.read.parquet(s"$src/orders.parquet")
    val cust = spark.read.parquet(s"$src/customer.parquet")
    val part = spark.read.parquet(s"$src/part.parquet")
    val supp = spark.read.parquet(s"$src/supplier.parquet")
    val oStride = o.agg(max("o_orderkey")).first().getLong(0) + 1
    val pStride = part.agg(max("p_partkey")).first().getLong(0) + 1
    val sStride = supp.agg(max("s_suppkey")).first().getLong(0) + 1
    val cStride = cust.agg(max("c_custkey")).first().getLong(0) + 1
    (0 until m).map(i => li
        .withColumn("l_orderkey", col("l_orderkey") + lit(i * oStride))
        .withColumn("l_partkey", col("l_partkey") + lit(i * pStride))
        .withColumn("l_suppkey", col("l_suppkey") + lit(i * sStride)))
      .reduce(_ unionByName _)
      .pipe(d => writeSingle(d, "lineitem"))
    (0 until m).map(i => o
        .withColumn("o_orderkey", col("o_orderkey") + lit(i * oStride))
        .withColumn("o_custkey", col("o_custkey") + lit(i * cStride)))
      .reduce(_ unionByName _)
      .pipe(d => writeSingle(d, "orders"))
    (0 until m).map(i => part
        .withColumn("p_partkey", col("p_partkey") + lit(i * pStride)))
      .reduce(_ unionByName _)
      .pipe(d => writeSingle(d, "part"))
    (0 until m).map(i => supp
        .withColumn("s_suppkey", col("s_suppkey") + lit(i * sStride)))
      .reduce(_ unionByName _)
      .pipe(d => writeSingle(d, "supplier"))
    (0 until m).map(i => cust
        .withColumn("c_custkey", col("c_custkey") + lit(i * cStride))
        .withColumn("c_name",
          when(lit(i) === 0, col("c_name"))
            .otherwise(concat(col("c_name"), lit(i.toString)))))
      .reduce(_ unionByName _)
      .pipe(d => writeSingle(d, "customer"))
    for (t <- Seq("nation", "region"))
      writeSingle(spark.read.parquet(s"$src/$t.parquet"), t)
    val docs = spark.read.parquet(s"$src/documents.parquet")
    val nd = docs.count()
    (0 until m).map(i =>
        docs.withColumn("doc_id", col("doc_id") + lit(i * nd))
          .withColumn("text",
            when(lit(i) === 0, col("text"))
              .otherwise(concat(lit(s"rep$i "), col("text")))))
      .reduce(_ unionByName _)
      .pipe(d => writeSingle(d, "documents"))
    val e = spark.read.parquet(s"$src/embeddings.parquet")
    val ne = e.count()
    (0 until m).map(i =>
        e.withColumn("vec_id", col("vec_id") + lit(i * ne))
          .withColumn("embedding",
            if (i == 0) col("embedding")
            else transform(col("embedding"),
              x => x * lit(1.0f + i / 1000.0f))))
      .reduce(_ unionByName _)
      .pipe(d => writeSingle(d, "embeddings"))
    val ev = graft.ops.Tables
      .normalizeTs(spark.read.parquet(s"$src/events.parquet"))
      .withColumn("us", unix_micros(col("ts")))
    val span = ev.agg(max("us") - min("us")).first().getLong(0) + 1
    val nev = ev.count()
    (0 until m).map(i => ev
        .withColumn("event_id", col("event_id") + lit(i * nev))
        .withColumn("ts", timestamp_micros(col("us") + lit(i * span))))
      .reduce(_ unionByName _)
      .drop("us")
      .pipe(d => writeSingle(d, "events"))
    new java.io.File(s"$dir/_built").createNewFile()
    println(s"DECADE built $dir (m=$m)")
  }

  /** FULL registry at sf1 (10× sf0.1) — round-13 ask: the sf1wide probe
    * ran 4 rows at 10×; this runs ALL of them once, Bench-hygiene per
    * query (clearCache + checkpoint-block release + stream drain), and
    * writes BENCH_SF1.json (per-query seconds + failures) for the
    * committed SURVEY §8 table. Dataset shape (the faithful 10×):
    *   - facts ×10 with offset keys: lineitem/orders share an orderkey
    *     stride; part/supplier/customer replicate WITH matching key
    *     offsets so dim joins stay total AND the co-purchase graph
    *     stays disjoint (shared orderkeys would densify it
    *     quadratically — the sf1wide lesson);
    *   - customer names get per-replica suffixes (linkage blocks stay
    *     tight, true matches stay planted);
    *   - events ×10 time-shifted end-to-end (stream lifetime grows
    *     10×, per-batch work constant);
    *   - documents/embeddings ×10 with offset ids and perturbed
    *     content (replica tag prefix / 1+i/100 vector scale);
    *   - nation/region stay fixed (they are fixed at any scale).
    * usage: Test/runMain graft.dev.ScaleProbe sf1full [q...]
    */
  private def sf1FullProbe(only: Seq[String]): Unit = {
    val spark = GraftSession(32)
    spark.sparkContext.setLogLevel("ERROR")
    val src = "/root/testdata/sf0.1"
    val m = 10
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_sf1full"
    // The testdata contract is one parquet FILE per table (e15 streams
    // the events table with pathGlobFilter=events.parquet, which never
    // matches part files inside a directory — the round-13 sf1 run's
    // one failure). Stage each table as a directory, then promote the
    // single part file to the contract name.
    def writeSingle(df: org.apache.spark.sql.DataFrame, table: String): Unit = {
      import org.apache.hadoop.fs.Path
      val tmp = s"$dir/_stage_$table"
      // 1 MB row groups: a coalesce(1) single file with the default
      // 128 MB row group is ONE scan split — the whole corpus fed a
      // single task and the scan-fused kernels serialized (round-13
      // run 2: d16 117 s → 830 s from this alone). Small row groups
      // keep the single-file contract AND byte-range parallelism.
      df.coalesce(1).write.mode("overwrite")
        .option("parquet.block.size", 1048576).parquet(tmp)
      val fs = new Path(dir).getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      val part = fs.globStatus(new Path(s"$tmp/part-*.parquet"))(0).getPath
      fs.delete(new Path(s"$dir/$table.parquet"), true)
      fs.rename(part, new Path(s"$dir/$table.parquet"))
      fs.delete(new Path(tmp), true)
    }
    if (!new java.io.File(s"$dir/_built").exists()) {
      val li = spark.read.parquet(s"$src/lineitem.parquet")
      val o = spark.read.parquet(s"$src/orders.parquet")
      val cust = spark.read.parquet(s"$src/customer.parquet")
      val part = spark.read.parquet(s"$src/part.parquet")
      val supp = spark.read.parquet(s"$src/supplier.parquet")
      val oStride = o.agg(max("o_orderkey")).first().getLong(0) + 1
      val pStride = part.agg(max("p_partkey")).first().getLong(0) + 1
      val sStride = supp.agg(max("s_suppkey")).first().getLong(0) + 1
      val cStride = cust.agg(max("c_custkey")).first().getLong(0) + 1
      (0 until m).map(i => li
          .withColumn("l_orderkey", col("l_orderkey") + lit(i * oStride))
          .withColumn("l_partkey", col("l_partkey") + lit(i * pStride))
          .withColumn("l_suppkey", col("l_suppkey") + lit(i * sStride)))
        .reduce(_ unionByName _)
        .pipe(d => writeSingle(d, "lineitem"))
      (0 until m).map(i => o
          .withColumn("o_orderkey", col("o_orderkey") + lit(i * oStride))
          .withColumn("o_custkey", col("o_custkey") + lit(i * cStride)))
        .reduce(_ unionByName _)
        .pipe(d => writeSingle(d, "orders"))
      (0 until m).map(i => part
          .withColumn("p_partkey", col("p_partkey") + lit(i * pStride)))
        .reduce(_ unionByName _)
        .pipe(d => writeSingle(d, "part"))
      (0 until m).map(i => supp
          .withColumn("s_suppkey", col("s_suppkey") + lit(i * sStride)))
        .reduce(_ unionByName _)
        .pipe(d => writeSingle(d, "supplier"))
      (0 until m).map(i => cust
          .withColumn("c_custkey", col("c_custkey") + lit(i * cStride))
          .withColumn("c_name",
            when(lit(i) === 0, col("c_name"))
              .otherwise(concat(col("c_name"), lit(i.toString)))))
        .reduce(_ unionByName _)
        .pipe(d => writeSingle(d, "customer"))
      for (t <- Seq("nation", "region"))
        writeSingle(spark.read.parquet(s"$src/$t.parquet"), t)
      val docs = spark.read.parquet(s"$src/documents.parquet")
      val nd = docs.count()
      (0 until m).map(i =>
          docs.withColumn("doc_id", col("doc_id") + lit(i * nd))
            .withColumn("text",
              when(lit(i) === 0, col("text"))
                .otherwise(concat(lit(s"rep$i "), col("text")))))
        .reduce(_ unionByName _)
        .pipe(d => writeSingle(d, "documents"))
      val e = spark.read.parquet(s"$src/embeddings.parquet")
      val ne = e.count()
      (0 until m).map(i =>
          e.withColumn("vec_id", col("vec_id") + lit(i * ne))
            .withColumn("embedding",
              if (i == 0) col("embedding")
              else transform(col("embedding"),
                x => x * lit(1.0f + i / 100.0f))))
        .reduce(_ unionByName _)
        .pipe(d => writeSingle(d, "embeddings"))
      val ev = graft.ops.Tables
        .normalizeTs(spark.read.parquet(s"$src/events.parquet"))
        .withColumn("us", unix_micros(col("ts")))
      val span = ev.agg(max("us") - min("us")).first().getLong(0) + 1
      val nev = ev.count()
      (0 until m).map(i => ev
          .withColumn("event_id", col("event_id") + lit(i * nev))
          .withColumn("ts", timestamp_micros(col("us") + lit(i * span))))
        .reduce(_ unionByName _)
        .drop("us")
        .pipe(d => writeSingle(d, "events"))
      new java.io.File(s"$dir/_built").createNewFile()
      println(s"SF1FULL built $dir")
    }
    // `resume` skips rows already recorded in BENCH_SF1.json — the
    // round-13 run died at row 348/372 when the executor heartbeat
    // thread lost the scheduler RPC endpoint after ~6 min of retries
    // (a long-lived shared-JVM hazard the 13-min bench never sees) and
    // took the context down; results are emitted incrementally exactly
    // so a rerun only pays for what's missing.
    val resume = only.contains("resume")
    val names = only.filterNot(_ == "resume")
    val prior: Map[String, Double] =
      if (resume && new java.io.File("BENCH_SF1.json").exists()) {
        val line = scala.io.Source.fromFile("BENCH_SF1.json").mkString
        """"([a-z0-9_]+)":([0-9.]+)""".r.findAllMatchIn(line)
          .filter(m => m.group(1) != "value")
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
      } else Map.empty
    val queries = graft.SparkEntry.queries
      .filter { case (n, _) => names.isEmpty || names.contains(n) }
      .filter { case (n, _) => !prior.contains(n) }
    val results = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    prior.foreach { case (k, v) => results(k) = v }
    val failed = scala.collection.mutable.ListBuffer.empty[String]
    // A SCOPED run (explicit row list) must not clobber the committed
    // full-board representative — the same overwrite footgun the r16
    // verdict flagged for decadeProbe (and which a scoped sanity run
    // hit again in round 18, silently replacing the 383-row
    // BENCH_SF1.json with its 8-row subset until restored from git).
    val outFile =
      if (names.nonEmpty) "dev/BENCH_SF1_scoped.json" else "BENCH_SF1.json"
    def emit(): Unit = {
      val qs = results.map { case (k, v) => s""""$k":$v""" }
        .mkString("{", ",", "}")
      val fj = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
      val line = s"""{"metric":"total","value":${results.values.sum},""" +
        s""""unit":"sec","queries":$qs,"failed":$fj,"sf":"sf1(10x)"}"""
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(outFile), line + "\n")
    }
    // Self-healing: if the shared context dies mid-run (the heartbeat
    // cascade above), rebuild a fresh session and retry the row once —
    // the probe's job is the per-row measurement, not JVM archaeology.
    var cur = spark
    def freshSession(): SparkSession = {
      try cur.stop() catch { case _: Throwable => () }
      GraftSession(32)
    }
    for ((name, fn) <- queries) {
      def attempt(): (Long, Double) = {
        val t0 = System.nanoTime()
        val rows = fn(cur, dir).count()
        (rows, (System.nanoTime() - t0) / 1e9)
      }
      try {
        val (rows, sec) =
          try attempt()
          catch {
            case e: Throwable if cur.sparkContext.isStopped =>
              println(s"SF1FULL [context died during $name — rebuilding " +
                s"session: ${e.getClass.getSimpleName}]")
              cur = freshSession()
              cur.sparkContext.setLogLevel("ERROR")
              attempt()
          }
        results(name) = math.round(sec * 1000.0) / 1000.0
        println(f"SF1FULL $name%-36s rows=$rows%-9d $sec%8.2fs")
      } catch {
        case e: Throwable =>
          failed += name
          println(f"SF1FULL $name%-36s FAILED ${e.getClass.getSimpleName}: " +
            e.getMessage.take(200))
      }
      try {
        cur.catalog.clearCache()
        cur.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = false))
        cur.streams.active.foreach(q =>
          try q.stop() catch { case _: Throwable => () })
      } catch { case _: Throwable => () }
      emit()
    }
    println(f"SF1FULL total=${results.values.sum}%.1f failed=${failed.size}")
    emit()
    cur.stop()
  }

  /** Substring-dedup (d24) scaling — the claim: cost tracks WINDOW
    * count (linear in corpus) plus duplicated-span volume (the join
    * output), never corpus². Two arms at each multiple m:
    *   - dup-heavy: replicas prefixed with one tag token, so every
    *     interior 20-token window of every replica duplicates the
    *     original — drop volume grows ~m× corpus (the adversarial
    *     direction: nearly everything gets removed);
    *   - unique: every TOKEN carries a per-replica suffix, so replicas
    *     share no windows — drop volume stays the per-replica planted
    *     dups only.
    * Both arms must grow ~linearly in m; a corpus² term (all-pairs
    * comparison) would show the dup-heavy arm exploding instead.
    * usage: Test/runMain graft.dev.ScaleProbe substr
    */
  private def substrProbe(): Unit = {
    val spark = GraftSession(32)
    spark.sparkContext.setLogLevel("ERROR")
    val src = "/root/testdata/sf0.1"
    val fn = graft.SparkEntry.queries("d24_substring_dedup")
    for (m <- Seq(1, 2, 4, 8)) {
      val docs = spark.read.parquet(s"$src/documents.parquet")
      val n = docs.count()
      for ((arm, perturb) <- Seq[(String, Int => org.apache.spark.sql.Column)](
        "dup-heavy" -> (i =>
          if (i == 0) col("text") else concat(lit(s"rep$i "), col("text"))),
        "unique" -> (i =>
          if (i == 0) col("text")
          else array_join(transform(split(col("text"), " "),
            t => concat(t, lit(s"_r$i"))), " ")))) {
        val dir = s"${System.getProperty("java.io.tmpdir")}" +
          s"/graft_scale_substr_${arm}_x$m"
        (0 until m).map(i =>
            docs.withColumn("doc_id", col("doc_id") + lit(i * n))
              .withColumn("text", perturb(i)))
          .reduce(_ unionByName _)
          .write.mode("overwrite").parquet(s"$dir/documents.parquet")
        fn(spark, dir).count() // warm
        val t0 = System.nanoTime()
        val removed = fn(spark, dir)
          .agg(sum("n_removed")).first().getLong(0)
        val sec = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = false))
        println(f"SUBSTR x$m%-2d $arm%-10s docs=${m * n}%-7d " +
          f"tokens_removed=$removed%-9d $sec%6.2fs")
      }
    }
    spark.stop()
  }

  private def tpchProbe(): Unit = {
    val spark = GraftSession(32)
    spark.sparkContext.setLogLevel("ERROR")
    val src = "/root/testdata/sf0.1"
    for (m <- Seq(1, 2, 4, 8)) {
      val dir = s"${System.getProperty("java.io.tmpdir")}/graft_scale_tpch_x$m"
      val li = spark.read.parquet(s"$src/lineitem.parquet")
      val o = spark.read.parquet(s"$src/orders.parquet")
      val keyStride = o.agg(max("o_orderkey")).first().getLong(0) + 1
      (0 until m).map(i => li.withColumn("l_orderkey",
          col("l_orderkey") + lit(i * keyStride)))
        .reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
      (0 until m).map(i => o.withColumn("o_orderkey",
          col("o_orderkey") + lit(i * keyStride)))
        .reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$dir/orders.parquet")
      for (t <- Seq("customer", "supplier", "nation", "region", "part"))
        spark.read.parquet(s"$src/$t.parquet")
          .write.mode("overwrite").parquet(s"$dir/$t.parquet")
      // h2/h13/h17/h21 are the suite-completion heavies: bridge
      // DISTINCT, outer-join distribution, decorrelated threshold,
      // triple self-join — the shapes whose scaling could differ from
      // the scan+agg anchors.
      for (q <- Seq("h1_pricing_summary", "h3_shipping_priority",
        "h18_large_orders", "h2_min_cost_supplier",
        "h13_customer_distribution", "h17_small_qty_revenue",
        "h21_waiting_suppliers")) {
        val fn = graft.SparkEntry.queries(q)
        fn(spark, dir).count() // warm
        val t0 = System.nanoTime()
        val rows = fn(spark, dir).count()
        spark.catalog.clearCache()
        println(f"TPCH x$m%-2d $q%-22s rows=$rows%-6d " +
          f"${(System.nanoTime() - t0) / 1e9}%.2fs")
      }
    }
    spark.stop()
  }

  /** AQE skew-join probe: an adversarially skewed shuffle join — 90% of
    * 20M fact rows share ONE join key — timed with the AQE skew-join
    * rule on vs off. j9 is the manual salting defense; at 100× the
    * FIRST defense is AQE's automatic skewed-partition split, so this
    * measures that it actually engages (the executed plan shows
    * `skew=true` on the SMJ) and what it buys. Broadcast is disabled to
    * force the shuffle join, and the detection thresholds are scaled
    * down with the data (production defaults, factor 5 / 256 MB, target
    * real executor-sized partitions) so the probe exercises the same
    * rule the cluster would. AQE itself stays at its default-on
    * posture everywhere in this repo — GraftSession does not pin it.
    * usage: Test/runMain graft.dev.ScaleProbe skew
    */
  private def skewProbe(): Unit = {
    val spark = GraftSession(32)
    spark.sparkContext.setLogLevel("ERROR")
    // incompressible per-row payload (md5 hex) that SURVIVES into the
    // join output: skew detection is shuffle-BYTES-based, and a pruned
    // all-zero hot key column compresses below any threshold (measured:
    // a bare 8-byte key column never triggers the split)
    val n = 10000000L
    val fact = spark.range(n).select(
      when(pmod(col("id"), lit(10)) =!= 0, lit(0L))
        .otherwise(pmod(col("id"), lit(1000000))).as("k"),
      md5(col("id").cast("string")).as("payload"))
    val dim = spark.range(1000000L)
      .select(col("id").as("k"), (col("id") * 7).as("v"))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8m")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4m")
    for (on <- Seq(true, false); rep <- 1 to 2) {
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", on.toString)
      val t0 = System.nanoTime()
      val df = fact.join(dim, Seq("k"))
        .agg(count(lit(1)).as("n_rows"), sum("v").as("checksum"),
          max("payload").as("mx"))
      val row = df.collect()(0)
      val sec = (System.nanoTime() - t0) / 1e9
      val split = df.queryExecution.executedPlan.toString.contains("skew=true")
      println(f"SKEW aqe_skewjoin=$on%-5s rep=$rep $sec%6.2fs " +
        f"skew_split=$split rows=${row.getLong(0)}")
    }
    spark.stop()
  }

  /** sf1-equivalent (10×) probe BEYOND the TPC-H headlines: the graph
    * family's g1/g3 (disjoint supply-graph replicas — nodes AND edges
    * grow 10×, crossing the 4M size-aware broadcast limits) and the
    * dedup family's d4/d9 (document replicas), each with a physical
    * plan fingerprint so the broadcast→shuffle transition at scale is
    * OBSERVED, not assumed. The wedge-replica ladder exercises the
    * node/edge limits synthetically; this runs the real registry rows
    * across the limit. usage: Test/runMain graft.dev.ScaleProbe sf1wide
    */
  private def sf1WideProbe(): Unit = {
    val spark = GraftSession(32)
    spark.sparkContext.setLogLevel("ERROR")
    val src = "/root/testdata/sf0.1"
    for (m <- Seq(1, 10)) {
      val dir = s"${System.getProperty("java.io.tmpdir")}/graft_sf1w_x$m"
      val li = spark.read.parquet(s"$src/lineitem.parquet")
      val sStride = li.agg(max("l_suppkey")).first().getLong(0) + 1
      val pStride = li.agg(max("l_partkey")).first().getLong(0) + 1
      // orderkey MUST offset too: replicas sharing orderkeys put 10
      // replicas' parts on the SAME order, so g3's per-order co-purchase
      // self-join goes quadratic (measured: filled the disk) — that is a
      // 100× workload, not the faithful 10× disjoint-graph shape
      val oStride = li.agg(max("l_orderkey")).first().getLong(0) + 1
      (0 until m).map(i => li
          .withColumn("l_orderkey", col("l_orderkey") + lit(i * oStride))
          .withColumn("l_suppkey", col("l_suppkey") + lit(i * sStride))
          .withColumn("l_partkey", col("l_partkey") + lit(i * pStride)))
        .reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
      val docs = spark.read.parquet(s"$src/documents.parquet")
      val n = docs.count()
      (0 until m).map(i =>
          docs.withColumn("doc_id", col("doc_id") + lit(i * n))
            .withColumn("text",
              when(lit(i) === 0, col("text"))
                .otherwise(concat(lit(s"rep$i "), col("text")))))
        .reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      for (q <- Seq("g1_pagerank", "g3_triangle_count",
        "d4_minhash_lsh", "d9_dedup_clusters")) {
        val fn = graft.SparkEntry.queries(q)
        fn(spark, dir).count() // warm
        val t0 = System.nanoTime()
        val df = fn(spark, dir)
        val rows = df.count()
        val sec = (System.nanoTime() - t0) / 1e9
        val plan = df.queryExecution.executedPlan.toString
        def c(s: String) = s.r.findAllMatchIn(plan).length
        spark.catalog.clearCache()
        println(f"SF1W x$m%-2d $q%-22s rows=$rows%-8d $sec%6.2fs " +
          f"joins[bhj=${c("BroadcastHashJoin")} smj=${c("SortMergeJoin")} " +
          f"shj=${c("ShuffledHashJoin")} bex=${c("BroadcastExchange")}]")
      }
    }
    spark.stop()
  }

  /** REML-EM mixed-model scaling (round 9): the fit's design claim is
    * that per-iteration cost rides the GROUP-cardinality stats frame,
    * not the observation count — groups replicated m× (disjoint group
    * keys, same per-group data) should cost ~flat per EM iteration
    * after the single observation-level groupStats pass. Probes the
    * simulator-shaped model (p=4, q=2) on synthetic groups.
    * usage: Test/runMain graft.dev.ScaleProbe mixedlm
    */
  private def mixedLmProbe(): Unit = {
    val spark = GraftSession(32)
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    import graft.ops.MixedLm
    for (m <- Seq(1, 4, 16, 64)) {
      val nG = 50 * m
      // 40 obs per group, deterministic pseudo-noise, slope+intercept
      // heterogeneity across groups
      val rows = for (g <- 0 until nG; i <- 0 until 40) yield {
        val x = 0.5 + (i % 10)
        val y = (2.0 + 0.03 * (g % 7)) + (0.4 + 0.01 * (g % 5)) * x +
          0.8 * math.sin(3.1 * g + 1.7 * i)
        (s"g$g", y, 1.0, (i % 3).toDouble, 0.0, x)
      }
      val df = rows.toDF("g", "y", "intercept", "cov2", "dead", "x")
      var t0 = System.nanoTime()
      val stats = MixedLm.groupStats(df, "g", "y",
        Seq("intercept", "cov2", "dead", "x")).persist()
      stats.count()
      val tStats = (System.nanoTime() - t0) / 1e9
      t0 = System.nanoTime()
      val fit = MixedLm.fitEm(stats, p = 4, zIdx = Seq(0, 3),
        maxIters = 40, tol = 0.0) // fixed 40 iterations: comparable work
      val tFit = (System.nanoTime() - t0) / 1e9
      stats.unpersist()
      println(f"MIXEDLM x$m%-3d groups=$nG%-5d obs=${nG * 40}%-7d " +
        f"stats=$tStats%5.2fs em40=$tFit%6.2fs " +
        f"(${tFit / 40 * 1000}%5.1f ms/iter) beta_x=${fit.beta(3)}%.4f")
    }
    spark.stop()
  }

  /** Semantic-dedup / LSH / IVF family probe (round-9 ask): documents
    * AND embeddings replicated m× (disjoint ids, perturbed content) so
    * d4 (MinHash LSH), s5 (kmeans IVF) and d11 (cell-blocked semantic
    * dedup) are all timed on the same corpus multiples. d11's design
    * cost is Σ|cell|²: at FIXED k the per-cell population grows m× and
    * pair work m² — the expected cliff this probe makes visible — while
    * the production posture scales k with the corpus so cells stay
    * bounded. The scaled-k arm (k = k₀·m, same Lloyd machinery, same
    * 0.45 threshold) measures exactly that defense; registry rows stay
    * at the oracle-pinned k.
    * usage: Test/runMain graft.dev.ScaleProbe semantic
    */
  private def semanticProbe(): Unit = {
    val spark = GraftSession(32)
    spark.sparkContext.setLogLevel("ERROR")
    import graft.queries.KMeansOps
    val src = "/root/testdata/sf0.1"
    for (m <- Seq(1, 2, 4, 8)) {
      val dir = s"${System.getProperty("java.io.tmpdir")}/graft_scale_sem_x$m"
      val docs = spark.read.parquet(s"$src/documents.parquet")
      val nd = docs.count()
      (0 until m).map(i =>
          docs.withColumn("doc_id", col("doc_id") + lit(i * nd))
            .withColumn("text",
              when(lit(i) === 0, col("text"))
                .otherwise(concat(lit(s"rep$i "), col("text")))))
        .reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val e = spark.read.parquet(s"$src/embeddings.parquet")
      val ne = e.count()
      (0 until m).map(i =>
          e.withColumn("vec_id", col("vec_id") + lit(i * ne))
            .withColumn("embedding",
              if (i == 0) col("embedding")
              else transform(col("embedding"),
                x => x * lit(1.0f + i / 100.0f))))
        .reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      for (q <- Seq("d4_minhash_lsh", "s5_ivf_kmeans", "d11_semantic_dedup")) {
        val fn = graft.SparkEntry.queries(q)
        fn(spark, dir).count() // warm
        val t0 = System.nanoTime()
        val rows = fn(spark, dir).count()
        spark.catalog.clearCache()
        println(f"SEM x$m%-2d $q%-22s rows=$rows%-9d " +
          f"${(System.nanoTime() - t0) / 1e9}%.2fs")
      }
      // scaled-k arm: cells stay ~constant size as the corpus grows
      def dot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
        graft.ops.LinAlg.dot(a, b)
      def pairsWithK(kk: Int): (Long, Double, Long) = {
        val ev = KMeansOps.loadV(spark, dir)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val cent = KMeansOps.lloyd(ev, KMeansOps.iters, kk).last.cent
        val assigned = ev.withColumn("cell", KMeansOps.assignExpr(cent))
          .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val cellSq = assigned.groupBy("cell").count()
          .agg(sum(col("count") * col("count"))).first().getLong(0)
        val a = assigned.select(col("cell"), col("vec_id").as("va"),
          col("v").as("xa"), col("nrm").as("na"))
        val b = assigned.select(col("cell"), col("vec_id").as("vb"),
          col("v").as("xb"), col("nrm").as("nb"))
        val q = a.join(b, Seq("cell")).filter(col("va") < col("vb"))
          .filter(round(dot(col("xa"), col("xb"))
            / (col("na") * col("nb")), 4) >= 0.45)
        q.count() // warm
        val t0 = System.nanoTime()
        val rows = q.count()
        val sec = (System.nanoTime() - t0) / 1e9
        ev.unpersist(); assigned.unpersist()
        spark.catalog.clearCache()
        (rows, sec, cellSq)
      }
      val (rF, sF, cF) = pairsWithK(KMeansOps.k)
      val (rS, sS, cS) = pairsWithK(KMeansOps.k * m)
      println(f"SEM x$m%-2d d11-fixed-k${KMeansOps.k}%-12s rows=$rF%-9d " +
        f"$sF%.2fs sum_cell2=$cF")
      println(f"SEM x$m%-2d d11-scaled-k${KMeansOps.k * m}%-11s rows=$rS%-9d " +
        f"$sS%.2fs sum_cell2=$cS")
    }
    spark.stop()
  }

  /** ANN scaling: corpus replicated m× with perturbed vectors (replica
    * i scales every component by 1+i/100 — near but not exact dups);
    * the query set stays the 10 original vec_id<10 vectors, so runtime
    * growth isolates corpus-side cost. Recall@3 is measured against
    * the per-scale brute-force truth.
    */
  private def annProbe(): Unit = {
    val spark = GraftSession(32)
    spark.sparkContext.setLogLevel("ERROR")
    val src = "/root/testdata/sf0.1"
    for (m <- Seq(1, 2, 4, 8)) {
      val dir = s"${System.getProperty("java.io.tmpdir")}/graft_scale_ann_x$m"
      val e = spark.read.parquet(s"$src/embeddings.parquet")
      val n = e.count()
      (0 until m).map(i =>
          e.withColumn("vec_id", col("vec_id") + lit(i * n))
            .withColumn("embedding",
              if (i == 0) col("embedding")
              else transform(col("embedding"),
                x => x * lit(1.0f + i / 100.0f))))
        .reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      val truth = graft.SparkEntry.queries("s1_knn_bruteforce")(spark, dir)
        .select("query_id", "neighbor_id").persist()
      val nTruth = truth.count()
      spark.catalog.clearCache() // keep s1's internals out of the timings
      truth.persist(); truth.count()
      for (q <- Seq("s1_knn_bruteforce", "s2_lsh_ann", "s5_ivf_kmeans",
        "s6_lsh_multiprobe", "s12_pq_adc", "s13_pq_rerank")) {
        val fn = graft.SparkEntry.queries(q)
        fn(spark, dir).count() // warm
        spark.catalog.clearCache(); truth.persist(); truth.count()
        val t0 = System.nanoTime()
        val top = fn(spark, dir).select("query_id", "neighbor_id")
        val hit = top.join(truth, Seq("query_id", "neighbor_id"),
          "left_semi").count()
        val sec = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache(); truth.persist(); truth.count()
        println(f"ANN x$m%-2d $q%-20s recall@3=${hit.toDouble / nTruth}%.2f" +
          f"  $sec%.2fs")
      }
      truth.unpersist()
    }
    spark.stop()
  }
}
