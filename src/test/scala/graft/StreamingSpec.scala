package graft

import java.sql.Timestamp
import graft.streaming.{EventStreams, StreamReplay}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
    event_type: String, value: Double)

class StreamingSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sfDir = "/root/testdata/sf0.001"

  private lazy val spark = GraftSession(2)

  override def afterAll(): Unit = spark.stop()

  private def ts(s: String) = Timestamp.valueOf(s)

  /** One registry row on sf0.001, run as Bench runs it. */
  private def runRow(name: String): Long =
    Runner.run(spark)(SparkEntry.queries(name)(spark, sfDir).count())
      .fold(why => fail(s"$name failed: $why"), identity)

  private val events = Seq(
    Ev(1, ts("2024-01-01 00:05:00"), 1, "click", 1.0),
    Ev(2, ts("2024-01-01 00:45:00"), 1, "click", 2.0),
    Ev(3, ts("2024-01-01 01:05:00"), 2, "view", 3.0),
    Ev(4, ts("2024-01-01 01:15:00"), 1, "click", 4.0),
    Ev(5, ts("2024-01-01 02:30:00"), 2, "view", 5.0))

  test("tumblingCounts over a MemoryStream equals the batch run") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    mem.addData(events: _*)
    val streamed = StreamReplay.toMemory(EventStreams.tumblingCounts(mem.toDF()),
        "t_spec", "complete").rows
      .select("window_start", "event_type", "n", "sum_value")
      .orderBy("window_start", "event_type").collect().map(_.toSeq).toSeq
    val batched = EventStreams.tumblingCounts(events.toDF())
      .orderBy("window_start", "event_type")
      .collect().map(_.toSeq).toSeq
    assert(streamed == batched)
    // hour 00: 2 clicks; hour 01: 1 click + 1 view; hour 02: 1 view
    assert(batched.map(r => (r(1), r(2))) ==
      Seq(("click", 2L), ("click", 1L), ("view", 1L), ("view", 1L)))
  }

  test("dedupWithinWatermark keeps one row per key within the horizon") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    // user 1 clicks twice within the hour -> 1 survivor; the view and
    // user 2's click are distinct keys
    mem.addData(
      Ev(1, ts("2024-01-01 00:05:00"), 1, "click", 1.0),
      Ev(2, ts("2024-01-01 00:25:00"), 1, "click", 2.0),
      Ev(3, ts("2024-01-01 00:30:00"), 1, "view", 3.0),
      Ev(4, ts("2024-01-01 00:40:00"), 2, "click", 4.0))
    val out = StreamReplay.toMemory(EventStreams.dedupWithinWatermark(mem.toDF()),
        "dd_spec", "append").rows
      .groupBy("user_id", "event_type").count().orderBy("user_id", "event_type")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(out == Seq((1L, "click", 1L), (1L, "view", 1L), (2L, "click", 1L)))
  }

  test("slidingCounts puts each event in exactly two overlapping windows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    mem.addData(events: _*)
    val streamed = StreamReplay.toMemory(EventStreams.slidingCounts(mem.toDF()),
        "sl_spec", "complete").rows
      .select("window_start", "event_type", "n", "sum_value")
      .orderBy("window_start", "event_type").collect().map(_.toSeq).toSeq
    val batched = EventStreams.slidingCounts(events.toDF())
      .orderBy("window_start", "event_type").collect().map(_.toSeq).toSeq
    assert(streamed == batched)
    // every event contributes to exactly 2 windows
    assert(batched.map(_(2).asInstanceOf[Long]).sum == 2L * events.size)
  }

  test("enrichWithDim attaches static dim rows without stream state") {
    import spark.implicits._
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("cust_id", "tier")
    val out = EventStreams.enrichWithDim(events.toDF(), dim, "user_id", "cust_id")
      .groupBy("tier").count().orderBy("tier")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(out == Seq(("gold", 3L), ("silver", 2L)))
  }

  test("runningUserTotals accumulates state across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = StreamReplay.start(spark, EventStreams.runningUserTotals(mem.toDF())
      .writeStream.format("memory").queryName("st_spec").outputMode("update"))
    mem.addData(events.take(2): _*) // user 1: 2 events, 3.0 total
    q.processAllAvailable()
    mem.addData(events.drop(2): _*) // +1 user-1 event, 2 user-2 events
    q.processAllAvailable()
    q.stop()
    // the LAST update per user reflects state carried across batches
    val out = spark.sql(
      """SELECT user_id, n_events, total_value FROM (
           SELECT *, row_number() OVER (PARTITION BY user_id
             ORDER BY n_events DESC) AS rk FROM st_spec)
         WHERE rk = 1 ORDER BY user_id""")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(out == Seq((1L, 3L, 7.0), (2L, 2L, 8.0)))
  }

  test("runningUserTotalsTws (transformWithState) carries state like " +
      "flatMapGroupsWithState") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    StreamReplay.withRocksDbStateStore(spark) {
      val mem = MemoryStream[Ev]
      val q = StreamReplay.start(spark, EventStreams.runningUserTotalsTws(mem.toDF())
        .writeStream.format("memory").queryName("tws_spec").outputMode("update"))
      mem.addData(events.take(2): _*) // user 1: 2 events, 3.0 total
      q.processAllAvailable()
      mem.addData(events.drop(2): _*) // +1 user-1 event, 2 user-2 events
      q.processAllAvailable()
      q.stop()
      val out = spark.sql(
        """SELECT user_id, n_events, total_value FROM (
             SELECT *, row_number() OVER (PARTITION BY user_id
               ORDER BY n_events DESC) AS rk FROM tws_spec)
           WHERE rk = 1 ORDER BY user_id""")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      assert(out == Seq((1L, 3L, 7.0), (2L, 2L, 8.0)))
    }
  }

  test("replay conf pins restore the session's prior values, also when the body throws") {
    val parts = "spark.sql.shuffle.partitions"
    val store = "spark.sql.streaming.stateStore.providerClass"
    val (priorParts, priorStore) = (spark.conf.get(parts), spark.conf.getOption(store))
    intercept[IllegalStateException](StreamReplay.withShufflePartitions(spark, 8) {
      assert(spark.conf.get(parts) == "8")
      throw new IllegalStateException("row failed")
    })
    assert(spark.conf.get(parts) == priorParts)
    intercept[IllegalStateException](StreamReplay.withRocksDbStateStore(spark) {
      assert(spark.conf.get(store).endsWith("RocksDBStateStoreProvider"))
      throw new IllegalStateException("row failed")
    })
    assert(spark.conf.getOption(store) == priorStore)
    // a stream start pins artifact isolation off on the session for the
    // start alone; the session's own setting, explicit or unset, is back
    // after a start that returns and after one that throws
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val iso = "spark.sql.artifact.isolation.enabled"
    val ckpt = StreamReplay.dirs(spark, "graft_spec_iso").ckpt
    for (prior <- Seq(None, Some("true"))) {
      prior.fold(spark.conf.unset(iso))(spark.conf.set(iso, _))
      val mem = MemoryStream[Ev]
      StreamReplay.start(spark, mem.toDF().writeStream.format("noop")).stop()
      assert(spark.conf.getAll.get(iso) == prior)
      // a file sink with no path fails inside start()
      intercept[IllegalArgumentException](StreamReplay.start(spark,
        mem.toDF().writeStream.format("parquet").option("checkpointLocation", ckpt)))
      assert(spark.conf.getAll.get(iso) == prior)
    }
    spark.conf.unset(iso)
  }

  test("a streaming row run again compiles no generated code") {
    import org.apache.spark.metrics.source.CodegenMetrics
    // e15's foreachBatch writes run on the stream's cloned session
    val rows = Seq("e21_stream_static_enrich", "e15_foreachbatch_sink_equiv")
    rows.foreach(runRow) // the first run compiles every generated class
    // the count is JVM-wide: a compile anywhere in this JVM moves it
    def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val again = rows.map { r =>
      val before = compiles
      runRow(r)
      r -> (compiles - before)
    }
    assert(again.forall(_._2 == 0L), again.mkString(", "))
  }

  test("foreachBatch sink lands every micro-batch in parquet with batch ids") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val out = StreamReplay.dirs(spark, "graft_spec_fb").out
    val mem = MemoryStream[Ev]
    val q = StreamReplay.start(spark, EventStreams.sinkViaForeachBatch(
      EventStreams.tumblingCounts(mem.toDF()), out))
    mem.addData(events.take(2): _*)
    q.processAllAvailable()
    mem.addData(events.drop(2): _*)
    q.processAllAvailable()
    q.stop()
    val landed = spark.read.parquet(out)
    // both micro-batches landed, tagged distinctly; the second is batch
    // 1, or batch 2 when the watermark's no-data batch ran in between
    val ids = StreamReplay.batchIds(spark, out)
    assert(ids.size == 2 && ids.contains(0L), ids)
    // the LAST update per (window, type) equals the batch answer
    val last = landed
      .withColumn("rk", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("window_start", "event_type")
          .orderBy(org.apache.spark.sql.functions.col("batch_id").desc)))
      .filter($"rk" === 1)
      .select("window_start", "event_type", "n", "sum_value")
      .orderBy("window_start", "event_type")
      .collect().map(_.toSeq).toSeq
    val batched = EventStreams.tumblingCounts(events.toDF())
      .orderBy("window_start", "event_type")
      .collect().map(_.toSeq).toSeq
    assert(last == batched)
  }

  test("batchIds lists the batch_id=N directories alone and starts no Spark job") {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    val out = StreamReplay.dirs(spark, "graft_spec_bids").out
    for (b <- Seq(0L, 7L))
      EventStreams.writeBatchIdempotent(events.toDF(), b, out)
    // what a sink directory holds besides its partitions: the job's
    // marker, a commit's scratch dirs, whose own batch_id=N children
    // must not count, and checksum sidecars
    val fs = new Path(out).getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq("_temporary/0/batch_id=9", ".spark-staging-1/batch_id=9")
      .foreach(p => fs.mkdirs(new Path(s"$out/$p")))
    Seq("_SUCCESS", ".batch_id=8.crc").foreach(f => fs.create(new Path(s"$out/$f")).close())
    val (ids, jobs) = SparkJobs.during(spark)(StreamReplay.batchIds(spark, out))
    assert(ids == Set(0L, 7L))
    assert(jobs == 0, s"$jobs Spark jobs to list batch ids")
  }

  test("e37's orphan is a live copy of half0 that only the sink log excludes") {
    import org.apache.spark.sql.functions.col
    runRow("e37_file_sink_txn_log")
    val d = StreamReplay.Dirs(s"${System.getProperty("java.io.tmpdir")}/graft_e37")
    val half0 = graft.ops.Tables.load(spark, sfDir, "events")
      .filter(col("event_id") % 2 === 0)
      .select("event_id", "user_id", "event_type", "value")
    val n = half0.count()
    val orphan = spark.read.parquet(s"${d.out}/orphan_uncommitted.parquet")
    assert(n > 0 && orphan.count() == n)
    assert(orphan.exceptAll(half0).isEmpty && half0.exceptAll(orphan).isEmpty)
    // a glob read lists the directory, not the _spark_metadata log
    val listed = spark.read.parquet(s"${d.out}/*.parquet")
    assert(listed.filter(col("event_id") % 2 === 0).count() == 2 * n)
  }

  test("sessionCounts groups by 30-min gaps per user") {
    import spark.implicits._
    val out = EventStreams.sessionCounts(events.toDF())
      .orderBy("user_id", "session_start")
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSeq
    // user 1: events at 00:05 | 00:45+01:15 (chained gap <30m) -> 2 sessions
    // user 2: 01:05 | 02:30 -> 2 sessions
    assert(out == Seq((1L, 1L), (1L, 2L), (2L, 1L), (2L, 1L)))
  }

  test("watermark BOUNDS state-store size: rows plateau under the 1-hour " +
      "horizon and grow without end when no watermark is set") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    // 12 micro-batches, each one event in a NEW hour window — so a
    // stream that keeps every window accumulates 12 state rows, while
    // the 1-hour watermark (e17 proves its drop semantics; this proves
    // its STATE contract, the property that matters at 100 TB) retains
    // only the windows still inside the horizon.
    def run(withWm: Boolean): Seq[Long] = {
      val mem = MemoryStream[Ev]
      val agg =
        if (withWm) EventStreams.tumblingCounts(mem.toDF())
        else mem.toDF()
          .groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("n"))
      val q = StreamReplay.start(spark, agg.writeStream.format("memory")
        .queryName(s"state_probe_$withWm")
        .outputMode(if (withWm) "update" else "complete"))
      val sizes = (0 until 12).map { h =>
        mem.addData(Ev(h, ts(f"2024-01-01 $h%02d:15:00"), h, "click", 1.0))
        q.processAllAvailable()
        q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      }
      q.stop()
      sizes
    }
    val bounded = run(withWm = true)
    val unbounded = run(withWm = false)
    info(s"state rows with 1h watermark: ${bounded.mkString(",")}")
    info(s"state rows without watermark: ${unbounded.mkString(",")}")
    // no watermark: every hour window stays in the store forever
    assert(unbounded.last >= 12L, unbounded.mkString(","))
    // watermark: eviction keeps only the horizon (plus the one-batch
    // lag with which the watermark trails event time)
    assert(bounded.max <= 4L, bounded.mkString(","))
    assert(bounded.last <= 4L, bounded.mkString(","))
  }

  test("the events table stream declares the file's schema, normalizes ts " +
      "like Tables.load, and starts no job once the table is resolved") {
    val resolved = graft.ops.Tables.load(spark, sfDir, "events")
    val (stream, jobs) = SparkJobs.during(spark)(StreamReplay.tableStream(spark, sfDir, "events"))
    assert(jobs == 0, s"$jobs jobs")
    assert(stream.queryExecution.logical.collectLeaves().map(_.schema) ==
      Seq(spark.read.parquet(s"$sfDir/events.parquet").schema))
    assert(stream.schema == resolved.schema)
  }

  test("the events stream replayed into a memory sink equals the batch table") {
    import org.apache.spark.sql.functions._
    // a sum of row hashes ignores row order
    def rowsAndHash(df: org.apache.spark.sql.DataFrame) = df.agg(count(lit(1)),
      sum(xxhash64(df.columns.toSeq.sorted.map(col): _*).cast("decimal(38,0)"))).first()
    val replayed = StreamReplay.toMemory(
      StreamReplay.tableStream(spark, sfDir, "events"), "spec_events", "append").rows
    val want = rowsAndHash(graft.ops.Tables.load(spark, sfDir, "events"))
    assert(want.getLong(0) > 0 && rowsAndHash(replayed) == want)
    Runner.drainStreams(spark)
  }

  test("Runner.drainStreams drops the memory-sink views e39 and e40 leave") {
    def views() = spark.catalog.listTables().collect()
      .filter(_.isTemporary).map(_.name).toSet
    val before = views()
    Seq("e39_stream_quantile_sketch", "e40_stream_bloom_dedup").foreach(runRow)
    val left = views() -- before
    assert(left.size == 2, s"expected one sink view per row, got $left")
    Runner.drainStreams(spark)
    assert(views() == before)
  }

  test("a streaming proof row reuses one scratch dir across calls") {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def scratch() = tmp.list().filter(_.startsWith("graft_")).toSet
    runRow("e16_stream_checkpoint_resume")
    val once = scratch()
    runRow("e16_stream_checkpoint_resume")
    assert(once.contains("graft_e16"), once)
    assert(scratch() == once)
  }

  test("data-derived state estimates reproduce the r13 hand estimates' " +
      "partition counts at proof scale") {
    import graft.streaming.{StateEstimates => SE, StatePartitioning => SP}
    // Each streaming proof row's StatePartitioning input is now computed
    // from the batch-side table (SURVEY §2.9 / EventQueries call-sites).
    // The round-13 hand estimates at proof scale were 0–7000 rows, all of
    // which the rule maps to its floor of 4 — the derived values must
    // land on the same pin, and each must be a sane non-degenerate count.
    val derived = Map(
      "hour_windows (e10/e17/e38)" -> SE.hourWindowKeys(spark, sfDir),
      "sessions (e11)" -> SE.sessionCount(spark, sfDir),
      "user keys (e14/e18)" -> SE.approxKeys(spark, sfDir, "user_id"),
      "dedup keys (e20)" ->
        SE.approxKeys(spark, sfDir, "concat(user_id, '|', event_type)"),
      "join buffer (e19/e24)" ->
        SE.joinBufferRows(spark, sfDir, Seq("click", "purchase")),
      "sketch keys (e39)" -> SE.approxKeys(spark, sfDir, "event_type"),
      "bloom keys (e40)" ->
        SE.approxKeys(spark, sfDir, "source", table = "documents"))
    derived.foreach { case (site, rows) =>
      info(f"$site%-28s -> $rows rows -> ${SP.forExpectedState(rows)} parts")
      assert(rows > 0L, s"$site derived a degenerate state estimate")
      assert(SP.forExpectedState(rows) == 4,
        s"$site: derived $rows rows no longer lands on the floor pin " +
          "the r13 hand estimates produced at proof scale")
    }
    // the estimates stay ordered the way the state shapes are nested:
    // per-(user,type) dedup keys >= per-user keys >= per-type sketch
    // keys. Assert the ordering on EXACT distinct counts — the
    // production estimators stay approximate (HLL++ ±2% is the right
    // trade there), but two approx counts of CLOSE cardinalities could
    // invert the ordering at proof scale and flake the test.
    def exactKeys(keyExpr: String): Long =
      graft.ops.Tables.load(spark, sfDir, "events")
        .selectExpr(s"count(DISTINCT $keyExpr) AS k").first().getLong(0)
    val exDedup = exactKeys("concat(user_id, '|', event_type)")
    val exUser = exactKeys("user_id")
    val exSketch = exactKeys("event_type")
    assert(exDedup >= exUser && exUser >= exSketch)
    // stateless passthroughs pin the floor by definition
    assert(SP.forExpectedState(0L) == 4)
  }
}
