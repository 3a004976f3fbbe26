package graft.queries

import graft.Q
import graft.ops.Tables
import graft.streaming.{EventStreams, StreamReplay}
import graft.streaming.StreamReplay.{withRocksDbStateStore, withShufflePartitions}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Event-stream analytics over the `events` table (event_id, ts,
  * user_id, event_type, value, props). The reference is pure batch
  * (SURVEY.md §2.9), so these express the classic streaming shapes —
  * tumbling windows, sessionization, rates — as batch queries; the same
  * logic runs under Structured Streaming by swapping read→readStream
  * (see graft.streaming). At scale each query shuffles only on its
  * aggregation key (event_type / user_id), never the raw event rows
  * more than once.
  */
object EventQueries {

  /** e1's batch answer, which e10's stream replay must equal. */
  private val hourWindowSql =
    """SELECT event_type, date_trunc('hour', ts) AS hour_window,
                   count(*) AS n, round(sum(value), 4) AS sum_value
            FROM events GROUP BY 1, 2 ORDER BY 1, 2"""

  /** Tumbling 1-hour window aggregation — Spark's native `window()`
    * operator; the batch analogue of a streaming windowed count.
    */
  private val e1 = Q(
    "e1_tumbling_window",
    (s, dir) => {
      Tables.load(s, dir, "events")
        .groupBy(col("event_type"),
          window(col("ts"), "1 hour").getField("start").as("hour_window"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("sum_value"))
        .orderBy("event_type", "hour_window")
    },
    Some(hourWindowSql))

  /** Sessionization: a new session starts after a >30-min silence per
    * user. lag-gap flag + running sum = session id — the batch analogue
    * of a streaming session window / mapGroupsWithState.
    */
  private val e2 = Q(
    "e2_sessionize",
    (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.load(s, dir, "events")
        .withColumn("ts_us", unix_micros(col("ts")))
        .withColumn("gap", col("ts_us") - lag("ts_us", 1).over(w))
        .withColumn("new_sess",
          when(col("gap").isNull || col("gap") > 1800000000L, 1).otherwise(0))
        .withColumn("session_id", sum("new_sess").over(wRun))
        .groupBy("user_id", "session_id")
        .agg(count(lit(1)).as("n_events"),
          min("ts_us").as("session_start"),
          (max("ts_us") - min("ts_us")).as("duration_us"))
        .orderBy("user_id", "session_id")
    },
    Some("""WITH g AS (
              SELECT user_id, event_id, epoch_us(ts) AS ts_us,
                CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                       OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                     THEN 1 ELSE 0 END AS new_sess
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
            sess AS (
              SELECT user_id, ts_us,
                CAST(sum(new_sess) OVER (PARTITION BY user_id
                  ORDER BY ts_us, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
                  AS session_id
              FROM g)
            SELECT user_id, session_id, count(*) AS n_events,
                   min(ts_us) AS session_start,
                   max(ts_us) - min(ts_us) AS duration_us
            FROM sess GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** Semi-structured props: JSON field extraction + typed aggregation
    * (get_json_object stays inside codegen — no UDF).
    */
  private val e3 = Q(
    "e3_json_props",
    (s, dir) => {
      Tables.load(s, dir, "events")
        .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
        .groupBy("event_type")
        .agg(round(avg("k"), 4).as("avg_k"),
          max("k").as("max_k"), count(lit(1)).as("n"))
        .orderBy("event_type")
    },
    Some("""SELECT event_type,
                   round(avg(CAST(json_extract_string(props, '$.k') AS INT)), 4)
                     AS avg_k,
                   max(CAST(json_extract_string(props, '$.k') AS INT)) AS max_k,
                   count(*) AS n
            FROM events GROUP BY 1 ORDER BY 1"""))

  /** Per-user activity profile: pivot event_type counts to a wide
    * feature row (values pinned — no extra distinct job at scale).
    */
  private val e4 = Q(
    "e4_user_activity_pivot",
    (s, dir) => {
      val types = Seq("click", "error", "purchase", "signup", "view")
      val piv = Tables.load(s, dir, "events")
        .groupBy("user_id")
        .pivot("event_type", types)
        .agg(count(lit(1)))
      types.foldLeft(piv)((df, t) =>
          df.withColumn(t, coalesce(col(t), lit(0L))))
        .orderBy("user_id")
    },
    Some("""SELECT user_id,
                   count(CASE WHEN event_type='click' THEN 1 END) AS click,
                   count(CASE WHEN event_type='error' THEN 1 END) AS error,
                   count(CASE WHEN event_type='purchase' THEN 1 END) AS purchase,
                   count(CASE WHEN event_type='signup' THEN 1 END) AS signup,
                   count(CASE WHEN event_type='view' THEN 1 END) AS view
            FROM events GROUP BY 1 ORDER BY 1"""))

  /** Daily event rate + 7-day trailing moving average per type — the
    * two-level (pre-aggregate, then window over the small rollup)
    * pattern that keeps the window cheap at 100 TB.
    */
  private val e5 = Q(
    "e5_daily_moving_avg",
    (s, dir) => {
      val w = Window.partitionBy("event_type").orderBy("day")
        .rowsBetween(-6, Window.currentRow)
      Tables.load(s, dir, "events")
        .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
        .withColumn("ma7", round(avg("n").over(w), 4))
        .orderBy("event_type", "day")
    },
    Some("""SELECT event_type, day, n,
                   round(avg(n) OVER (PARTITION BY event_type ORDER BY day
                     ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 4) AS ma7
            FROM (
              SELECT event_type, date_trunc('day', ts) AS day, count(*) AS n
              FROM events GROUP BY 1, 2)
            ORDER BY 1, 2"""))

  /** As-of join — an operator Spark lacks natively: each purchase is
    * joined to the user's most recent prior-or-simultaneous click.
    * Composed scalably as union-tag + running last_value(ignoreNulls)
    * over one (user, time) window — ONE shuffle, no range-condition
    * join. (The oracle replicates the identical window formulation so
    * tie semantics match exactly; DuckDB's native ASOF JOIN breaks
    * ties differently.)
    */
  private val e6 = Q(
    "e6_asof_join",
    (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.load(s, dir, "events")
        .filter(col("event_type").isin("click", "purchase"))
        .withColumn("ts_us", unix_micros(col("ts")))
        .withColumn("last_click_val",
          last(when(col("event_type") === "click", col("value")),
            ignoreNulls = true).over(w))
        .withColumn("last_click_ts",
          last(when(col("event_type") === "click", col("ts_us")),
            ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"),
          col("value").as("purchase_value"), col("last_click_val"),
          (col("ts_us") - col("last_click_ts")).as("gap_us"))
        .orderBy("event_id")
    },
    Some("""SELECT event_id, user_id, value AS purchase_value,
                   last_click_val, ts_us - last_click_ts AS gap_us
            FROM (
              SELECT event_id, user_id, event_type, value, epoch_us(ts) AS ts_us,
                last_value(CASE WHEN event_type = 'click' THEN value END
                  IGNORE NULLS) OVER w AS last_click_val,
                last_value(CASE WHEN event_type = 'click' THEN epoch_us(ts) END
                  IGNORE NULLS) OVER w AS last_click_ts
              FROM events WHERE event_type IN ('click', 'purchase')
              WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
            WHERE event_type = 'purchase' ORDER BY event_id"""))

  /** Range join — errors within ±5 minutes of a purchase by the same
    * user. A naive theta join is O(n²) per user; the scale pattern is
    * time-bucket blocking: each error probes its own 5-min bucket ±1
    * (explode 3 candidate buckets), equi-join on (user, bucket), then
    * the exact range filter. The shuffle carries equi-keys only.
    */
  private val e7 = Q(
    "e7_range_join",
    (s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .withColumn("ts_us", unix_micros(col("ts")))
      val bucket = (col("ts_us") / lit(300000000L)).cast("long")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"),
          col("ts_us").as("p_ts"), bucket.as("bk"))
      val errors = ev.filter(col("event_type") === "error")
        .select(col("user_id"), col("event_id").as("error_id"),
          col("ts_us").as("e_ts"),
          explode(array(bucket - 1, bucket, bucket + 1)).as("bk"))
      errors.join(purchases, Seq("user_id", "bk"))
        .filter(abs(col("e_ts") - col("p_ts")) <= 300000000L)
        .select(col("user_id"), col("error_id"), col("purchase_id"),
          (col("e_ts") - col("p_ts")).as("gap_us"))
        .distinct()
        .orderBy("user_id", "error_id", "purchase_id")
    },
    Some("""SELECT DISTINCT e.user_id, e.event_id AS error_id,
                   p.event_id AS purchase_id,
                   epoch_us(e.ts) - epoch_us(p.ts) AS gap_us
            FROM events e JOIN events p
              ON e.user_id = p.user_id
             AND e.event_type = 'error' AND p.event_type = 'purchase'
             AND abs(epoch_us(e.ts) - epoch_us(p.ts)) <= 300000000
            ORDER BY 1, 2, 3"""))

  /** Sliding event-time window (10-min length, 5-min slide): each event
    * lands in exactly two overlapping windows. Spark's `window()` with a
    * slide expands the assignment map-side; the shuffle still carries
    * only (type, window) partial aggregates. The oracle replays the
    * assignment as a 2-way UNION ALL on 5-min buckets.
    */
  private val e8 = Q(
    "e8_sliding_window",
    (s, dir) => {
      Tables.load(s, dir, "events")
        .groupBy(col("event_type"),
          window(col("ts"), "10 minutes", "5 minutes")
            .getField("start").as("win_start"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("sum_value"))
        .orderBy("event_type", "win_start")
    },
    Some("""WITH assigned AS (
              SELECT event_type, value,
                     time_bucket(INTERVAL '5 minutes', ts) AS win_start
              FROM events
              UNION ALL
              SELECT event_type, value,
                     time_bucket(INTERVAL '5 minutes', ts)
                       - INTERVAL '5 minutes' AS win_start
              FROM events)
            SELECT event_type, win_start, count(*) AS n,
                   round(sum(value), 4) AS sum_value
            FROM assigned GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** Native session_window in BATCH mode — the engine-managed merge of
    * events within a 30-min gap, cross-validated against an
    * independent formulation: the oracle rebuilds sessions with the
    * lag + running-sum construction (new session when gap ≥ 30 min,
    * matching session_window's half-open [start, start+gap) merge
    * rule). Two different algorithms, same answer — the strongest kind
    * of oracle.
    */
  private val e9 = Q(
    "e9_session_window_native",
    (s, dir) => {
      Tables.load(s, dir, "events")
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).as("n_events"),
          round(sum("value"), 4).as("session_value"))
        .select(col("user_id"),
          unix_micros(col("session_window.start")).as("session_start"),
          col("n_events"), col("session_value"))
        .orderBy("user_id", "session_start")
    },
    Some(sessionOracleSql))

  /** The independent lag/running-sum session construction — the single
    * source of truth both e9 (native batch session_window) and e11
    * (streaming session_window replay) are hash-checked against, so
    * the two proofs can never silently assert different gap semantics.
    */
  // lazy: referenced by e9, whose val initializes before this point in
  // the object's declaration order
  private lazy val sessionOracleSql =
    """WITH g AS (
      |  SELECT user_id, event_id, value, epoch_us(ts) AS ts_us,
      |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
      |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w
      |              >= 1800000000
      |         THEN 1 ELSE 0 END AS new_sess
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
      |sess AS (
      |  SELECT user_id, ts_us, value,
      |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
      |      ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM g)
      |SELECT user_id, min(ts_us) AS session_start,
      |       count(*) AS n_events,
      |       round(sum(value), 4) AS session_value
      |FROM sess GROUP BY user_id, sid
      |ORDER BY user_id, session_start""".stripMargin

  /** The production spelling of [[StreamReplay.withShufflePartitions]]:
    * DERIVE the partition count from the state volume the query's
    * stores are expected to carry (keys × windows in the watermark
    * horizon, or buffered join rows in the time-range bound), via the
    * measured [[graft.streaming.StatePartitioning]] rule. Since round 14 the
    * expected-state input itself is COMPUTED from the replayed batch
    * table by the estimator matching each operator's state shape
    * ([[graft.streaming.StateEstimates]]) — no hand-supplied counts
    * left. At proof scale every estimator derives the rule's floor
    * (4 stores, asserted in StreamingSpec against the r13 hand
    * estimates), which the streamparts sweep measured FASTER than the
    * old hand-pinned 8 at both 1× and 8× volume (9.6 vs 12.6 s,
    * 44.6 vs 69.8 s).
    */
  private def withStateSizedPartitions[A](s: SparkSession,
      expectedStateRows: Long)(body: => A): A =
    withShufflePartitions(s,
      graft.streaming.StatePartitioning.forExpectedState(expectedStateRows))(body)

  private def est = graft.streaming.StateEstimates

  /** The columns a passthrough-sink row (e15, e16, e23, e37) streams. */
  private def passthrough(ev: DataFrame): DataFrame =
    ev.select("event_id", "user_id", "event_type", "value")

  /** What a passthrough-sink row verifies: per event type, the row count
    * and the rounded value sum, which match the whole table's only if
    * every row landed exactly once. */
  private def typeRollup(landed: DataFrame): DataFrame =
    landed.groupBy("event_type")
      .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("sum_value"))
      .orderBy("event_type")

  private val typeRollupSql =
    """SELECT event_type, count(*) AS n,
                   round(sum(value), 4) AS sum_value
            FROM events GROUP BY 1 ORDER BY 1"""

  /** The last emission per `key` of an update-mode sink whose `order`
    * column strictly increases per key across micro-batches, so the pick
    * is deterministic: the key's final state. */
  private def latestPerKey(sink: DataFrame, key: String, order: String): DataFrame =
    sink.withColumn("rk", row_number().over(
        Window.partitionBy(key).orderBy(col(order).desc)))
      .filter(col("rk") === 1)

  /** e14/e18's verified output: each user's final running totals. */
  private def finalUserTotals(sink: DataFrame): DataFrame =
    latestPerKey(sink, "user_id", "n_events")
      .select(col("user_id"), col("n_events"),
        round(col("total_value"), 4).as("total_value"))
      .orderBy("user_id")

  private val userTotalsSql =
    """SELECT user_id, count(*) AS n_events,
                   round(sum(value), 4) AS total_value
            FROM events GROUP BY 1 ORDER BY 1"""

  /** Streaming batch-equivalence (X24 promoted into the verified
    * surface): the events parquet is replayed through Structured
    * Streaming — `readStream` → the SAME tumbling-window aggregation
    * the batch e1 query uses ([[graft.streaming.EventStreams
    * .tumblingCounts]]) → memory sink, AvailableNow trigger (process
    * everything, then stop). The returned DataFrame is the sink table,
    * and the DuckDB oracle is e1's batch SQL — so the driver
    * hash-proves that the incremental execution produces exactly the
    * batch answer. Complete output mode because the memory sink must
    * hold the final aggregate state.
    */
  private val e10 = Q(
    "e10_stream_batch_equiv",
    (s, dir) => withStateSizedPartitions(s,
        expectedStateRows = est.hourWindowKeys(s, dir)) {
      StreamReplay.toMemory(EventStreams.tumblingCounts(
          StreamReplay.tableStream(s, dir, "events")), "equiv", "complete").rows
        .select(col("event_type"),
          col("window_start").as("hour_window"),
          col("n"), round(col("sum_value"), 4).as("sum_value"))
        .orderBy("event_type", "hour_window")
    },
    Some(hourWindowSql))

  /** Second stream-batch equivalence row: the events parquet replayed
    * through `readStream` → the SAME native session_window aggregation
    * the batch e9 query uses ([[graft.streaming.EventStreams
    * .sessionCounts]], 30-min gap) → memory sink, AvailableNow. The
    * oracle is e9's independent lag/running-sum SQL — so the driver
    * hash-proves incremental SESSION state management (merge-on-overlap
    * windows, not just fixed tumbling buckets) against a construction
    * that shares no code with it.
    */
  private val e11 = Q(
    "e11_stream_session_equiv",
    (s, dir) => withStateSizedPartitions(s,
        expectedStateRows = est.sessionCount(s, dir)) {
      StreamReplay.toMemory(EventStreams.sessionCounts(
          StreamReplay.tableStream(s, dir, "events")), "sess", "complete").rows
        .select(col("user_id"),
          unix_micros(col("session_start")).as("session_start"),
          col("n_events"), round(col("session_value"), 4).as("session_value"))
        .orderBy("user_id", "session_start")
    },
    Some(sessionOracleSql))

  /** Third stream-batch equivalence row (X62 promoted into the
    * verified surface): the events parquet replayed through the
    * Spark 4 transformWithState API —
    * [[graft.streaming.RunningTotalsProcessor]], typed ValueState per
    * user in the RocksDB state store — in Update output mode, so the
    * memory sink accumulates one row per (user, micro-batch) and the
    * FINAL state per user is the update with the highest n_events
    * (strictly increasing per key, so the pick is deterministic). The
    * DuckDB oracle is the plain batch running-totals SQL: the driver
    * hash-proves that arbitrary keyed state managed by the processor
    * lands on exactly the batch answer.
    */
  private val e14 = Q(
    "e14_stream_tws_equiv",
    (s, dir) => withRocksDbStateStore(s) {
      withStateSizedPartitions(s,
          expectedStateRows = est.approxKeys(s, dir, "user_id")) {
        finalUserTotals(StreamReplay.toMemory(EventStreams.runningUserTotalsTws(
          StreamReplay.tableStream(s, dir, "events")).toDF(), "tws", "update").rows)
      }
    },
    Some(userTotalsSql))

  /** foreachBatch exactly-once sink proof (X78 promoted into the
    * verified surface): the events stream lands in partitioned parquet
    * via [[graft.streaming.EventStreams.sinkViaForeachBatch]], then the
    * crash-recovery path is driven DELIBERATELY — batch 0 is
    * redelivered through the same
    * [[graft.streaming.EventStreams.writeBatchIdempotent]] call the
    * sink uses (what the checkpoint does after a failure between write
    * and commit). The dynamic partition overwrite rewrites the
    * `batch_id=0` partition instead of appending, so the re-read
    * aggregate still hash-matches the batch oracle: at-least-once
    * redelivery + idempotent writes = exactly-once output. The
    * single-batch check lists the sink's partition directories
    * ([[StreamReplay.batchIds]]) and the re-read declares the written
    * schema ([[StreamReplay.readBatchSink]]): neither starts a job.
    */
  private val e15 = Q(
    "e15_foreachbatch_sink_equiv",
    // stateless passthrough sink: no keyed state -> rule floor
    (s, dir) => withStateSizedPartitions(s, expectedStateRows = 0L) {
      val out = StreamReplay.dirs(s, "graft_e15").out
      StreamReplay.runToEnd(s, EventStreams.sinkViaForeachBatch(
        passthrough(StreamReplay.tableStream(s, dir, "events")), out))
      // single-file source + AvailableNow = one micro-batch; assert it
      // so the redelivery below provably replays batch 0's exact content
      val bids = StreamReplay.batchIds(s, out)
      require(bids == Set(0L), s"expected the single micro-batch 0, got $bids")
      val ev = passthrough(Tables.load(s, dir, "events"))
      EventStreams.writeBatchIdempotent(ev, 0L, out)
      typeRollup(StreamReplay.readBatchSink(s, out, ev.schema))
    },
    Some(typeRollupSql))

  /** Checkpoint RESUME proof (the other half of exactly-once, after
    * e15's idempotent redelivery): the events table is split into two
    * parquet files; the stream (file source → foreachBatch parquet
    * sink, explicit checkpointLocation) is started with only file 1
    * present, runs to completion under AvailableNow, and STOPS. File 2
    * is then added and the query is STARTED AGAIN from the same
    * checkpoint — the source's committed offsets make the second run
    * process ONLY file 2 (as batch 1; a broken checkpoint would
    * re-process file 1 as a duplicate or skip file 2). The re-read
    * aggregate hash-matches the whole-table batch oracle, and the
    * batch-id set {0,1}, listed from the sink's partition directories,
    * is asserted loudly.
    */
  private val e16 = Q(
    "e16_stream_checkpoint_resume",
    // stateless passthrough: offsets only, no keyed state -> rule floor
    (s, dir) => withStateSizedPartitions(s, expectedStateRows = 0L) {
      val d = StreamReplay.dirs(s, "graft_e16")
      val ev = passthrough(Tables.load(s, dir, "events"))
      def runOnce(): Unit = StreamReplay.runToEnd(s, EventStreams
        .sinkViaForeachBatch(s.readStream.schema(ev.schema).parquet(d.in), d.out)
        .option("checkpointLocation", d.ckpt))
      StreamReplay.stage(ev.filter(col("event_id") % 2 === 0), s"${d.in}/half0.parquet")
      runOnce() // processes half0 as batch 0, commits offsets
      StreamReplay.stage(ev.filter(col("event_id") % 2 =!= 0), s"${d.in}/half1.parquet")
      runOnce() // RESUMES: only half1, as batch 1
      val bids = StreamReplay.batchIds(s, d.out)
      require(bids == Set(0L, 1L),
        s"checkpoint resume broken: batch ids $bids (expected {0, 1})")
      typeRollup(StreamReplay.readBatchSink(s, d.out, ev.schema))
    },
    Some(typeRollupSql))

  /** Watermark LATE-DATA semantics proof: the oldest hour of events is
    * delivered in a SECOND micro-batch, after the on-time remainder
    * has advanced the watermark far past its windows — so the
    * streaming tumbling aggregate (update mode, 1-hour watermark) must
    * DROP every late row, and the final state equals the batch answer
    * over the on-time subset only. The oracle recomputes exactly that
    * subset (ts ≥ min(ts)+1h) in DuckDB — if the engine failed to drop
    * late rows (or dropped the wrong boundary rows) the hash breaks.
    * Complete-mode replays (e10/e11) prove batch equivalence; this row
    * proves the watermark CONTRACT, which is what bounds state at
    * 100 TB stream scale.
    */
  private val e17 = Q(
    "e17_watermark_late_drop",
    (s, dir) => withStateSizedPartitions(s,
        expectedStateRows = est.hourWindowKeys(s, dir)) {
      val d = StreamReplay.dirs(s, "graft_e17")
      val ev = Tables.load(s, dir, "events")
        .select(col("event_id"), col("ts"), col("event_type"), col("value"))
      val cutoff = ev.agg((min(col("ts"))
        + expr("INTERVAL 1 HOUR")).as("c")).first().getTimestamp(0)
      val onTime = ev.filter(col("ts") >= lit(cutoff))
      val late = ev.filter(col("ts") < lit(cutoff))
      require(late.count() > 0 && onTime.count() > 0,
        "late-drop proof is vacuous: need rows on both sides of cutoff")
      // Sufficiency precondition, not just non-vacuity: batch 1 drops
      // EVERY late row only if each late window's END (≤ the hour-ceiling
      // of cutoff, since late ts < cutoff and windows are hour buckets)
      // is ≤ the watermark batch 0 commits (max on-time ts − 1h). A
      // regenerated events fixture spanning < ~3 hours would otherwise
      // pass the non-vacuity guard yet surface as a confusing hash
      // mismatch downstream — fail loudly here instead.
      val maxTs = onTime.agg(max(col("ts"))).first().getTimestamp(0)
      val hourMs = 3600000L
      val ceilCutoffMs = ((cutoff.getTime + hourMs - 1) / hourMs) * hourMs
      require(maxTs.getTime - hourMs >= ceilCutoffMs,
        s"late-drop proof precondition broken: watermark " +
          s"${maxTs.getTime - hourMs} ms < latest late window end " +
          s"$ceilCutoffMs ms — the events fixture must span ≥ 3 hours")
      val counts = EventStreams.tumblingCounts(s.readStream.schema(ev.schema).parquet(d.in))
      def runOnce(): Unit = StreamReplay.runToEnd(s, EventStreams
        .sinkViaForeachBatch(counts, d.out)
        .option("checkpointLocation", d.ckpt))
      StreamReplay.stage(onTime, s"${d.in}/a_ontime.parquet")
      runOnce() // batch 0: on-time; commits watermark = max(ts) - 1h
      StreamReplay.stage(late, s"${d.in}/b_late.parquet")
      runOnce() // batch 1: every row is below the watermark -> dropped
      val w = Window.partitionBy("event_type", "window_start")
        .orderBy(col("batch_id").cast("long").desc)
      StreamReplay.readBatchSink(s, d.out, counts.schema)
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1) // last update per window (batch 0's)
        .select(col("event_type"),
          col("window_start").as("hour_window"),
          col("n"), round(col("sum_value"), 4).as("sum_value"))
        .orderBy("event_type", "hour_window")
    },
    Some("""WITH b AS (
              SELECT min(ts) + INTERVAL 1 HOUR AS cutoff FROM events)
            SELECT event_type, date_trunc('hour', ts) AS hour_window,
                   count(*) AS n, round(sum(value), 4) AS sum_value
            FROM events, b WHERE ts >= b.cutoff
            GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** flatMapGroupsWithState batch-equivalence (the last spec-only
    * streaming path lifted into the verified surface): the events
    * parquet replayed through
    * [[graft.streaming.EventStreams.runningUserTotals]] — arbitrary
    * per-user (count, total) state via the classic
    * flatMapGroupsWithState API, Update output mode — into a memory
    * sink, mirroring e14's shape (e14 proves the Spark 4
    * transformWithState successor; this row proves the original API on
    * the default HDFS-backed state store). The sink holds one row per
    * (user, micro-batch); n_events is strictly increasing per key, so
    * the max-n_events row is the final state, and the DuckDB oracle is
    * the plain batch running-totals SQL.
    */
  private val e18 = Q(
    "e18_stream_fmgws_equiv",
    (s, dir) => withStateSizedPartitions(s,
        expectedStateRows = est.approxKeys(s, dir, "user_id")) {
      finalUserTotals(StreamReplay.toMemory(EventStreams.runningUserTotals(
        StreamReplay.tableStream(s, dir, "events")).toDF(), "fmgws", "update").rows)
    },
    Some(userTotalsSql))

  /** STREAM-STREAM join (the last big Structured Streaming feature
    * class, driver-verified): clicks and purchases — two watermarked
    * streams derived from the replayed events — inner-joined on
    * user_id with the ±time-range attribution condition
    * (purchase within 30 min AFTER the click). Stream-stream joins are
    * the hardest streaming state problem (BOTH sides buffer, and only
    * the watermark + time-range bound lets the engine drop state), so
    * the hash-proof here is that the incremental join emits EXACTLY
    * the batch join's pairs. Append mode: inner-join matches emit as
    * found; the DuckDB oracle is the plain batch self-join.
    */
  private val e19 = Q(
    "e19_stream_stream_join",
    (s, dir) => withStateSizedPartitions(s,
        expectedStateRows = est.joinBufferRows(s, dir,
          Seq("click", "purchase"))) {
      StreamReplay.toMemory(StreamReplay.attributionJoin(
          StreamReplay.tableStream(s, dir, "events")), "ss_join", "append").rows
        .select(col("user_id"), col("click_id"), col("purchase_id"),
          (unix_micros(col("p_ts")) - unix_micros(col("click_ts")))
            .as("gap_us"))
        .orderBy("user_id", "click_id", "purchase_id")
    },
    Some("""SELECT c.user_id, c.event_id AS click_id,
                   p.event_id AS purchase_id,
                   epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
            FROM events c JOIN events p
              ON c.user_id = p.user_id
             AND c.event_type = 'click' AND p.event_type = 'purchase'
             AND p.ts >= c.ts
             AND p.ts <= c.ts + INTERVAL 30 MINUTE
            ORDER BY 1, 2, 3"""))

  /** Funnel analysis: view → click → purchase, strictly ordered per
    * user (each stage's first occurrence must follow the previous
    * stage's). Each stage is a per-user min-aggregate joined onto the
    * next stage's filtered events — the stage tables are
    * user-cardinality (≪ event-cardinality), so at scale each join
    * broadcasts a stage table against one shuffle-partitioned pass of
    * the events, and the final rollup is three scalar counts.
    */
  private val e12 = Q(
    "e12_funnel",
    (s, dir) => {
      import org.apache.spark.storage.StorageLevel
      val ev = Tables.load(s, dir, "events")
        .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("t"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      // stage tables stay persisted (each feeds the next stage's join
      // AND its own count, and cache-once is the 100 TB-sound shape —
      // pruning specializes the branches, so without the cache each
      // stage would recompute per consumer; verified: no exchange
      // reuse fires here), but the three stage counts are now one LAZY
      // union computed by the caller's single action instead of three
      // sequential driver count() jobs (round-18 opt; guide §5, §2.6).
      val v = ev.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min("t").as("t_view"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val c = ev.filter(col("event_type") === "click")
        .join(v, Seq("user_id"))
        .filter(col("t") > col("t_view"))
        .groupBy("user_id").agg(min("t").as("t_click"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val p = ev.filter(col("event_type") === "purchase")
        .join(c, Seq("user_id"))
        .filter(col("t") > col("t_click"))
        .groupBy("user_id").agg(min("t").as("t_purchase"))
      def cnt(df: org.apache.spark.sql.DataFrame, stage: String) = df
        .agg(count(lit(1)).as("n_users"))
        .select(lit(stage).as("stage"), col("n_users"))
      cnt(v, "1_view")
        .unionByName(cnt(c, "2_click_after_view"))
        .unionByName(cnt(p, "3_purchase_after_click"))
        .crossJoin(broadcast(v.agg(count(lit(1)).as("nv"))))
        // empty-first-stage guard: emit NULL (not NaN/Inf) when no
        // 'view' events exist, matching the oracle's CASE
        .withColumn("conv_from_first",
          when(col("nv") > 0,
            round(col("n_users").cast("double") / col("nv").cast("double"), 4))
            .otherwise(lit(null).cast("double")))
        .select("stage", "n_users", "conv_from_first")
        .orderBy("stage")
    },
    Some("""WITH v AS (
              SELECT user_id, min(epoch_us(ts)) AS t_view
              FROM events WHERE event_type = 'view' GROUP BY 1),
            c AS (
              SELECT e.user_id, min(epoch_us(e.ts)) AS t_click
              FROM events e JOIN v USING (user_id)
              WHERE e.event_type = 'click' AND epoch_us(e.ts) > v.t_view
              GROUP BY 1),
            p AS (
              SELECT e.user_id, min(epoch_us(e.ts)) AS t_purchase
              FROM events e JOIN c USING (user_id)
              WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > c.t_click
              GROUP BY 1),
            stages AS (
              SELECT '1_view' AS stage, (SELECT count(*) FROM v) AS n_users
              UNION ALL
              SELECT '2_click_after_view', (SELECT count(*) FROM c)
              UNION ALL
              SELECT '3_purchase_after_click', (SELECT count(*) FROM p))
            SELECT stage, n_users,
                   CASE WHEN (SELECT count(*) FROM v) > 0
                     THEN round(n_users * 1.0
                       / (SELECT count(*) FROM v), 4) END AS conv_from_first
            FROM stages ORDER BY stage"""))

  /** Retention cohorts: users grouped by first-signup day, tracked by
    * which later WEEKS they made a purchase in — the classic cohort ×
    * offset retention matrix. Two per-user aggregates plus one
    * distinct-(user, week) activity set, then a broadcast-joinable
    * cohort rollup; at scale the only corpus-sized shuffle is the
    * user-keyed first-signup aggregate.
    */
  private val e13 = Q(
    "e13_retention_cohorts",
    (s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .select(col("user_id"), col("event_type"), to_date(col("ts")).as("day"))
      val cohort = ev.filter(col("event_type") === "signup")
        .groupBy("user_id").agg(min("day").as("cohort_day"))
      val act = ev.filter(col("event_type") === "purchase")
        .select("user_id", "day").distinct()
      val offs = act.join(cohort, Seq("user_id"))
        .withColumn("wk", floor(datediff(col("day"), col("cohort_day")) / 7))
        .filter(col("wk") >= 0)
        .select("user_id", "cohort_day", "wk").distinct()
      cohort.join(offs.drop("cohort_day"), Seq("user_id"), "left")
        .groupBy("cohort_day")
        .agg(countDistinct("user_id").as("n_users"),
          countDistinct(when(col("wk") === 0, col("user_id"))).as("w0"),
          countDistinct(when(col("wk") === 1, col("user_id"))).as("w1"),
          countDistinct(when(col("wk") === 2, col("user_id"))).as("w2"),
          countDistinct(when(col("wk") === 3, col("user_id"))).as("w3"))
        .orderBy("cohort_day")
    },
    Some("""WITH cohort AS (
              SELECT user_id, min(CAST(ts AS DATE)) AS cohort_day
              FROM events WHERE event_type = 'signup' GROUP BY 1),
            act AS (
              SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
              FROM events WHERE event_type = 'purchase'),
            offs AS (
              SELECT DISTINCT a.user_id,
                CAST(floor(date_diff('day', c.cohort_day, a.day) / 7.0)
                  AS BIGINT) AS wk
              FROM act a JOIN cohort c USING (user_id)
              WHERE date_diff('day', c.cohort_day, a.day) >= 0)
            SELECT c.cohort_day,
                   count(DISTINCT c.user_id) AS n_users,
                   count(DISTINCT CASE WHEN o.wk = 0 THEN c.user_id END) AS w0,
                   count(DISTINCT CASE WHEN o.wk = 1 THEN c.user_id END) AS w1,
                   count(DISTINCT CASE WHEN o.wk = 2 THEN c.user_id END) AS w2,
                   count(DISTINCT CASE WHEN o.wk = 3 THEN c.user_id END) AS w3
            FROM cohort c LEFT JOIN offs o USING (user_id)
            GROUP BY 1 ORDER BY 1"""))

  /** Streaming DEDUPLICATION equivalence (X114): the events parquet
    * replayed through [[graft.streaming.EventStreams
    * .dedupWithinWatermark]] — `dropDuplicatesWithinWatermark` on
    * (user_id, event_type) under a 1-hour watermark, the streaming
    * analogue of the batch exact-dedup family with state bounded by
    * the watermark horizon instead of the stream's full history.
    * Append mode: each key's FIRST arrival is emitted, later arrivals
    * within the horizon are dropped. WHICH physical row survives
    * depends on intra-batch processing order, so the verified output
    * is the per-key emission count: the driver hash-proves the stream
    * emits EXACTLY ONE row per distinct key (any duplicate leak or
    * over-drop breaks the hash). The replay is a single AvailableNow
    * micro-batch, so no state is evicted mid-run and the guarantee is
    * exact dedup — the oracle is batch DISTINCT.
    */
  private val e20 = Q(
    "e20_stream_dedup_equiv",
    (s, dir) => withStateSizedPartitions(s, expectedStateRows =
        est.approxKeys(s, dir, "concat(user_id, '|', event_type)")) {
      StreamReplay.toMemory(EventStreams.dedupWithinWatermark(
          StreamReplay.tableStream(s, dir, "events")), "dedup", "append").rows
        .groupBy("user_id", "event_type")
        .agg(count(lit(1)).as("n_emitted"))
        .orderBy("user_id", "event_type")
    },
    Some("""SELECT DISTINCT user_id, event_type,
                   CAST(1 AS BIGINT) AS n_emitted
            FROM events ORDER BY 1, 2"""))

  /** STREAM-STATIC enrichment equivalence (X129, promoting the last
    * spec-only streaming path to a driver row): the events stream left-
    * joins a bounded customer dimension via
    * [[graft.streaming.EventStreams.enrichWithDim]] — `broadcast(dim)`
    * per micro-batch, NO stream-side shuffle and NO state store (the
    * standard pattern for attaching slowly-changing metadata at any
    * stream rate; contrast e19 where BOTH sides buffer). Append mode:
    * enriched rows flow straight through; the verified output is the
    * per-segment rollup, hash-proven equal to the batch left join.
    * Unmatched users coalesce to a sentinel segment on both engines
    * (NULL group ordering differs Spark-vs-DuckDB, so no NULL keys).
    */
  private val e21 = Q(
    "e21_stream_static_enrich",
    // broadcast join: no state store -> rule floor
    (s, dir) => withStateSizedPartitions(s, expectedStateRows = 0L) {
      val dim = Tables.load(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
      StreamReplay.toMemory(EventStreams.enrichWithDim(
          StreamReplay.tableStream(s, dir, "events"), dim, "user_id", "c_custkey"),
        "enrich", "append").rows
        .withColumn("segment",
          coalesce(col("c_mktsegment"), lit("UNMATCHED")))
        .groupBy("segment")
        .agg(count(lit(1)).as("n"),
          round(sum("value"), 4).as("sum_value"))
        .orderBy("segment")
    },
    Some("""SELECT coalesce(c_mktsegment, 'UNMATCHED') AS segment,
                   count(*) AS n, round(sum(value), 4) AS sum_value
            FROM events e LEFT JOIN customer c
              ON e.user_id = c.c_custkey
            GROUP BY 1 ORDER BY 1"""))

  /** E22 (X141, beyond the reference): OHLC BARS — the canonical
    * downsampling of a value stream to per-bucket open/high/low/close/
    * volume (market bars, sensor roll-ups, metric dashboards). Open
    * and close are ORDER-dependent, so both engines pick them by the
    * same total order ((ts, event_id) ascending / descending
    * row_number — no arg_min/struct-key dependence); high/low/count
    * are plain aggregates of stored values (no arithmetic → exact),
    * volume is the repo-standard rounded sum. Scale shape: ONE
    * exchange on (type, day); the two window row_numbers and the
    * final aggregate all consume that same partitioning (two in-
    * partition sorts, no second shuffle).
    */
  private val e22 = Q(
    "e22_ohlc_bars",
    (s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .withColumn("day", date_trunc("day", col("ts")))
      val asc = Window.partitionBy("event_type", "day")
        .orderBy(col("ts").asc, col("event_id").asc)
      val desc = Window.partitionBy("event_type", "day")
        .orderBy(col("ts").desc, col("event_id").desc)
      ev.withColumn("rn_a", row_number().over(asc))
        .withColumn("rn_d", row_number().over(desc))
        .groupBy("event_type", "day")
        .agg(
          max(when(col("rn_a") === 1, col("value"))).as("open"),
          max("value").as("high"),
          min("value").as("low"),
          max(when(col("rn_d") === 1, col("value"))).as("close"),
          count(lit(1)).as("n_events"),
          round(sum("value"), 4).as("volume"))
        .orderBy("event_type", "day")
    },
    Some("""WITH rn AS (
              SELECT event_type, date_trunc('day', ts) AS day, value,
                     row_number() OVER (
                       PARTITION BY event_type, date_trunc('day', ts)
                       ORDER BY ts ASC, event_id ASC) AS rn_a,
                     row_number() OVER (
                       PARTITION BY event_type, date_trunc('day', ts)
                       ORDER BY ts DESC, event_id DESC) AS rn_d
              FROM events)
            SELECT event_type, day,
                   max(CASE WHEN rn_a = 1 THEN value END) AS open,
                   max(value) AS high,
                   min(value) AS low,
                   max(CASE WHEN rn_d = 1 THEN value END) AS close,
                   CAST(count(*) AS BIGINT) AS n_events,
                   round(sum(value), 4) AS volume
            FROM rn GROUP BY event_type, day
            ORDER BY event_type, day"""))

  /** E23 (X143, beyond the reference): SOURCE RATE LIMITING
    * (`maxFilesPerTrigger`) — the backpressure knob that turns an
    * unbounded catch-up into BOUNDED micro-batches (without it, a
    * stream restarted after a day of downtime loads the whole backlog
    * as ONE batch and OOMs; with it, state and shuffle per trigger
    * stay sized to one file). Proof: 4 staged files under
    * maxFilesPerTrigger=1 + AvailableNow must produce EXACTLY 4
    * micro-batches (require on the idempotent sink's batch ids, listed
    * from its partition directories), and
    * the concatenated output must equal the batch rollup — both the
    * pacing contract and the no-loss/no-dup contract, hash-verified.
    */
  private val e23 = Q(
    "e23_stream_rate_limit",
    // stateless passthrough: pacing proof, no keyed state -> rule floor
    (s, dir) => withStateSizedPartitions(s, expectedStateRows = 0L) {
      val d = StreamReplay.dirs(s, "graft_e23")
      val ev = passthrough(Tables.load(s, dir, "events"))
      for (i <- 0 to 3)
        StreamReplay.stage(ev.filter(col("event_id") % 4 === i), s"${d.in}/q$i.parquet")
      StreamReplay.runToEnd(s, EventStreams.sinkViaForeachBatch(
          s.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1).parquet(d.in), d.out)
        .option("checkpointLocation", d.ckpt))
      val bids = StreamReplay.batchIds(s, d.out)
      require(bids == Set(0L, 1L, 2L, 3L),
        s"rate limit broken: batch ids $bids (expected {0,1,2,3} — " +
          "one micro-batch per staged file)")
      typeRollup(StreamReplay.readBatchSink(s, d.out, ev.schema))
    },
    Some(typeRollupSql))

  /** E24 (X151): STREAM-STREAM LEFT OUTER join — the attribution join
    * including the clicks that never converted. Outer results are the
    * hard part of streaming joins: an unmatched click can only emit
    * its null-extended row once the watermark proves no in-range
    * purchase can still arrive (click_ts + 30 min < watermark), i.e.
    * null emission IS state eviction. The proof stages the real events
    * as batch 0, then two far-future sentinel click/purchase pairs
    * (user −1, +10 h and +20 h) in separate runs so the committed
    * watermark advances past every real click's eviction deadline
    * (watermark-for-batch-N is computed from batch N−1's max, so one
    * sentinel round is NOT enough — the second round forces the
    * eviction batch to actually run). The concatenated idempotent
    * foreachBatch output, sentinels filtered, must hash-equal the
    * plain batch LEFT JOIN in DuckDB: inner pairs AND null-extended
    * rows, no dupes, no losses. Scale: watermark-bounded state is what
    * makes a 100 TB/day attribution join runnable at all — state holds
    * only the trailing 1 h + 30 min per side.
    */
  private val e24 = Q(
    "e24_stream_stream_left_outer",
    (s, dir) => withStateSizedPartitions(s,
        expectedStateRows = est.joinBufferRows(s, dir,
          Seq("click", "purchase"))) {
      val d = StreamReplay.dirs(s, "graft_e24")
      val ev = Tables.load(s, dir, "events")
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"))
      val maxTs = ev.agg(max(col("ts"))).first().getTimestamp(0)
      val joined = StreamReplay.attributionJoin(
        s.readStream.schema(ev.schema).parquet(d.in), "left_outer")
      def runOnce(): Unit = StreamReplay.runToEnd(s, EventStreams
        .sinkViaForeachBatch(joined, d.out)
        .outputMode("append") // stream-stream joins run only in append
        .option("checkpointLocation", d.ckpt))
      StreamReplay.stage(ev, s"${d.in}/a_events.parquet")
      runOnce() // inner matches emit as found; outer rows still held
      // eviction: every real unmatched click emits its null-extended row
      StreamReplay.sentinelRounds(s, d.in, maxTs)(runOnce())
      StreamReplay.readBatchSink(s, d.out, joined.schema)
        .filter(col("user_id") >= 0)
        .select(col("user_id"), col("click_id"), col("purchase_id"),
          (unix_micros(col("p_ts")) - unix_micros(col("click_ts")))
            .as("gap_us"))
        .orderBy(col("user_id"), col("click_id"),
          coalesce(col("purchase_id"), lit(-1L)))
    },
    Some("""SELECT c.user_id, c.event_id AS click_id,
                   p.event_id AS purchase_id,
                   epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
            FROM events c LEFT JOIN events p
              ON c.user_id = p.user_id
             AND p.event_type = 'purchase'
             AND p.ts >= c.ts
             AND p.ts <= c.ts + INTERVAL 30 MINUTE
            WHERE c.event_type = 'click'
            ORDER BY c.user_id, c.event_id,
                     coalesce(p.event_id, -1)"""))

  /** Variable-length interval coalescing (beyond the reference): each
    * event opens an interval [ts, ts + value-scaled duration]; merge
    * overlapping/adjacent intervals per user. Unlike e2's fixed-gap
    * sessionize, durations vary per row, so the merge needs the classic
    * running-max-of-end scan: a new island starts where this start
    * exceeds the max end of every earlier interval. One shuffle on
    * user_id; the window is per-user, so it scales with the largest
    * single user, not the corpus. All arithmetic in integral
    * microseconds (unix_micros ↔ epoch_us), so island boundaries are
    * bit-identical cross-engine.
    */
  private val e25 = Q(
    "e25_interval_coalesce",
    (s, dir) => {
      val iv = Tables.load(s, dir, "events")
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("start_us"),
          (unix_micros(col("ts")) +
            floor(col("value") * 60000000L).cast("long")).as("end_us"))
      val w = Window.partitionBy("user_id").orderBy("start_us", "event_id")
      val prevMax = max("end_us").over(
        w.rowsBetween(Window.unboundedPreceding, -1))
      val islands = iv
        .withColumn("new_island",
          when(prevMax.isNull || col("start_us") > prevMax, 1L)
            .otherwise(0L))
        .withColumn("island", sum("new_island").over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      islands.groupBy("user_id", "island")
        .agg(min("start_us").as("merged_start_us"),
          max("end_us").as("merged_end_us"),
          count(lit(1)).as("n_events"))
        .orderBy("user_id", "island")
    },
    Some("""WITH iv AS (
              SELECT user_id, event_id,
                     epoch_us(ts) AS start_us,
                     epoch_us(ts) + CAST(FLOOR(value * 60000000) AS BIGINT)
                       AS end_us
              FROM events),
            flagged AS (
              SELECT user_id, start_us, end_us,
                CASE WHEN max(end_us) OVER (PARTITION BY user_id
                       ORDER BY start_us, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                     IS NULL
                  OR start_us > max(end_us) OVER (PARTITION BY user_id
                       ORDER BY start_us, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                THEN 1 ELSE 0 END AS new_island,
                event_id
              FROM iv),
            islands AS (
              SELECT user_id, start_us, end_us,
                CAST(sum(new_island) OVER (PARTITION BY user_id
                  ORDER BY start_us, event_id
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS island
              FROM flagged)
            SELECT user_id, island,
                   min(start_us) AS merged_start_us,
                   max(end_us) AS merged_end_us,
                   count(*) AS n_events
            FROM islands GROUP BY 1, 2
            ORDER BY user_id, island"""))

  /** E26 (beyond the reference): first-order Markov transition matrix
    * of event types — P(next | current) estimated per user-adjacent
    * pair. One lead() per user partition, then a count roll-up on the
    * 5×5 type pairs; probabilities are single IEEE divisions of
    * integer counts. The transition matrix is THE sequence summary a
    * behavioral pipeline feeds downstream (session simulators, anomaly
    * scores); at scale the only row-level work is the per-user lead.
    */
  private val e26 = Q(
    "e26_markov_transitions",
    (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      Tables.load(s, dir, "events")
        .withColumn("nxt", lead("event_type", 1).over(w))
        .filter(col("nxt").isNotNull)
        .groupBy(col("event_type").as("src"), col("nxt").as("dst"))
        .agg(count(lit(1)).as("n"))
        .withColumn("row_total",
          sum("n").over(Window.partitionBy("src")))
        .select(col("src"), col("dst"), col("n"), col("row_total"),
          (col("n").cast("double") / col("row_total").cast("double"))
            .as("p"))
        .orderBy("src", "dst")
    },
    Some("""WITH nxt AS (
              SELECT event_type AS src,
                lead(event_type) OVER (PARTITION BY user_id
                  ORDER BY ts, event_id) AS dst
              FROM events),
            cnt AS (
              SELECT src, dst, CAST(count(*) AS BIGINT) AS n
              FROM nxt WHERE dst IS NOT NULL GROUP BY 1, 2),
            tot AS (
              SELECT src, dst, n,
                CAST(sum(n) OVER (PARTITION BY src) AS BIGINT)
                  AS row_total
              FROM cnt)
            SELECT src, dst, n, row_total,
                   CAST(n AS DOUBLE) / CAST(row_total AS DOUBLE) AS p
            FROM tot ORDER BY src, dst"""))

  /** E27 (beyond the reference): Fano-factor burstiness per event type
    * — variance-to-mean ratio of per-hour counts, the standard
    * overdispersion screen (F≈1 Poisson, F>1 bursty). Zero-count
    * hours matter, so n is the GLOBAL distinct-hour count (zeros add
    * nothing to Σx or Σx²): F = (n·Σx² − (Σx)²)/(n·Σx) over integer
    * sufficient statistics with ONE final division. Two bounded
    * aggregations, nothing row-level after the hour bucketing.
    */
  private val e27 = Q(
    "e27_fano_burstiness",
    (s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .select(col("event_type"),
          expr("unix_micros(ts) DIV 3600000000").as("hr"))
      val buckets = ev.groupBy("event_type", "hr")
        .agg(count(lit(1)).as("x"))
      val nHours = ev.agg(countDistinct("hr").as("n_hours"))
      buckets.groupBy("event_type")
        .agg(sum("x").as("n_events"),
          sum(col("x") * col("x")).as("sxx"))
        .crossJoin(nHours)
        .select(col("event_type"), col("n_hours"), col("n_events"),
          col("sxx"),
          ((col("n_hours") * col("sxx") -
            col("n_events") * col("n_events")).cast("double") /
            (col("n_hours") * col("n_events")).cast("double"))
            .as("fano"))
        .orderBy("event_type")
    },
    Some("""WITH ev AS (
              SELECT event_type, epoch_us(ts) // 3600000000 AS hr
              FROM events),
            buckets AS (
              SELECT event_type, hr, CAST(count(*) AS BIGINT) AS x
              FROM ev GROUP BY 1, 2),
            nh AS (SELECT CAST(count(DISTINCT hr) AS BIGINT) AS n_hours
                   FROM ev),
            st AS (
              SELECT event_type, CAST(sum(x) AS BIGINT) AS n_events,
                     CAST(sum(x * x) AS BIGINT) AS sxx
              FROM buckets GROUP BY 1)
            SELECT event_type, n_hours, n_events, sxx,
                   CAST(n_hours * sxx - n_events * n_events AS DOUBLE) /
                     CAST(n_hours * n_events AS DOUBLE) AS fano
            FROM st CROSS JOIN nh
            ORDER BY event_type"""))

  /** E28 (beyond the reference): strict local-peak detection per user
    * — an interior event whose value exceeds BOTH neighbors (lag and
    * lead over the per-user order). Pure comparisons, no arithmetic at
    * all; the per-user summary reports peak count and the highest
    * peak. The signal-processing primitive under alerting/changepoint
    * UIs; one per-user window pass at any scale.
    */
  private val e28 = Q(
    "e28_local_peaks",
    (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      Tables.load(s, dir, "events")
        .withColumn("prev", lag("value", 1).over(w))
        .withColumn("nxt", lead("value", 1).over(w))
        .filter(col("prev").isNotNull && col("nxt").isNotNull &&
          col("value") > col("prev") && col("value") > col("nxt"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_peaks"), max("value").as("max_peak"))
        .orderBy("user_id")
    },
    Some("""WITH seq0 AS (
              SELECT user_id, value,
                lag(value) OVER w AS prev,
                lead(value) OVER w AS nxt
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
            SELECT user_id, CAST(count(*) AS BIGINT) AS n_peaks,
                   max(value) AS max_peak
            FROM seq0
            WHERE prev IS NOT NULL AND nxt IS NOT NULL
              AND value > prev AND value > nxt
            GROUP BY user_id
            ORDER BY user_id"""))

  /** E29 (beyond the reference): inter-arrival gap profile per event
    * type — lag-difference in integral microseconds, then min/max/mean
    * (mean = ONE division of a <2^53 integer sum). The latency-
    * distribution primitive behind rate alerting; one per-type window
    * pass, integer arithmetic end-to-end.
    */
  private val e29 = Q(
    "e29_interarrival",
    (s, dir) => {
      val w = Window.partitionBy("event_type").orderBy("ts", "event_id")
      Tables.load(s, dir, "events")
        .withColumn("us", unix_micros(col("ts")))
        .withColumn("gap", col("us") - lag("us", 1).over(w))
        .filter(col("gap").isNotNull)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_gaps"),
          min("gap").as("min_gap_us"),
          max("gap").as("max_gap_us"),
          sum("gap").as("sum_gap_us"))
        .withColumn("mean_gap_us",
          col("sum_gap_us").cast("double") / col("n_gaps").cast("double"))
        .orderBy("event_type")
    },
    Some("""WITH g AS (
              SELECT event_type,
                epoch_us(ts) - lag(epoch_us(ts)) OVER (
                  PARTITION BY event_type ORDER BY ts, event_id) AS gap
              FROM events)
            SELECT event_type, CAST(count(*) AS BIGINT) AS n_gaps,
                   min(gap) AS min_gap_us, max(gap) AS max_gap_us,
                   CAST(sum(gap) AS BIGINT) AS sum_gap_us,
                   CAST(sum(gap) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                     AS mean_gap_us
            FROM g WHERE gap IS NOT NULL
            GROUP BY event_type ORDER BY event_type"""))

  /** E30 (X191, beyond the reference): TIME-WEIGHTED AVERAGE (TWAP) per
    * user — the sensor/price rollup where each reading holds until the
    * next one, so its weight is the interval it was live, not 1. Pure
    * step-function integration: value in exact cents, holding interval
    * in exact integral microseconds (lead − current under the total
    * order (ts, event_id)), Σ(cents·dt) and Σ(dt) as exact BIGINTs
    * (max |cents|·span ≈ 1e16 ≪ 2^63 at any plausible SF), and the
    * TWAP itself ONE IEEE division of the two — deterministic
    * cross-engine. The last reading per user has no successor and
    * drops, per the classical left-closed convention. One shuffle on
    * user_id; the window and the aggregation share it.
    */
  private val e30 = Q(
    "e30_twap",
    (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      Tables.load(s, dir, "events")
        .withColumn("us", unix_micros(col("ts")))
        .withColumn("cents", round(col("value") * 100).cast("long"))
        .withColumn("dt", lead("us", 1).over(w) - col("us"))
        .filter(col("dt").isNotNull)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_intervals"),
          sum("dt").as("span_us"),
          sum(col("cents") * col("dt")).as("wsum"))
        .select(col("user_id"), col("n_intervals"), col("span_us"),
          (col("wsum").cast("double") / col("span_us").cast("double") /
            lit(100.0)).as("twap"))
        .orderBy("user_id")
    },
    Some("""WITH t AS (
              SELECT user_id,
                     CAST(round(value * 100) AS BIGINT) AS cents,
                     lead(epoch_us(ts)) OVER (PARTITION BY user_id
                       ORDER BY ts, event_id) - epoch_us(ts) AS dt
              FROM events)
            SELECT user_id, CAST(count(*) AS BIGINT) AS n_intervals,
                   CAST(sum(dt) AS BIGINT) AS span_us,
                   CAST(sum(cents * dt) AS DOUBLE) /
                     CAST(sum(dt) AS DOUBLE) / 100.0 AS twap
            FROM t WHERE dt IS NOT NULL
            GROUP BY 1 ORDER BY 1"""))

  /** E31 (X194, beyond the reference): DAU / WAU / STICKINESS — the
    * product-analytics rollup needing a SLIDING distinct count, which
    * neither Spark nor most engines support as a window function.
    * Scalable rewrite: dedupe to (user, active_day) first (the big
    * shrink), then explode each activity day to the 7 trailing-window
    * ends it serves, dedupe (user, window_end), count. Work is 7× the
    * DEDUPED activity table — linear, partitioned on user/day, no
    * window-function state. Stickiness = DAU/WAU, ONE division of two
    * exact BIGINTs. Output restricted to days with direct activity.
    */
  private val e31 = Q(
    "e31_active_user_ratio",
    (s, dir) => {
      val acts = Tables.load(s, dir, "events")
        .select(col("user_id"), to_date(col("ts")).as("day"))
        .distinct()
      val dau = acts.groupBy("day").agg(count(lit(1)).as("dau"))
      val wau = acts
        .select(col("user_id"),
          explode(expr("sequence(day, date_add(day, 6))")).as("wend"))
        .distinct()
        .groupBy("wend").agg(count(lit(1)).as("wau"))
      dau.join(wau, col("day") === col("wend"))
        .select(col("day"), col("dau"), col("wau"),
          (col("dau").cast("double") / col("wau").cast("double"))
            .as("stickiness"))
        .orderBy("day")
    },
    Some("""WITH acts AS (
              SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
              FROM events),
            dau AS (
              SELECT day, CAST(count(*) AS BIGINT) AS dau
              FROM acts GROUP BY 1),
            we AS (
              SELECT DISTINCT user_id, day + CAST(t.i AS INTEGER) AS wend
              FROM acts, range(7) t(i)),
            wau AS (
              SELECT wend, CAST(count(*) AS BIGINT) AS wau
              FROM we GROUP BY 1)
            SELECT d.day, d.dau, w.wau,
                   CAST(d.dau AS DOUBLE) / CAST(w.wau AS DOUBLE)
                     AS stickiness
            FROM dau d JOIN wau w ON d.day = w.wend
            ORDER BY d.day"""))

  /** E32 (X197, beyond the reference): AUTOCORRELATION FUNCTION of the
    * hourly event-count series at lags 1-5 — the standard seasonality/
    * persistence diagnostic a forecasting pipeline runs before model
    * choice (is the load series bursty? daily-periodic? white?).
    *
    * Determinism playbook (the t15/m33 integer-sums trick, here for a
    * two-pass statistic): hourly counts are BIGINTs, so every moment the
    * ACF needs — Σc, Σc², Σ c_t·c_{t−l}, the edge sums A_l/B_l — is an
    * EXACT integer; the textbook r_l is rewritten over n²-scaled integer
    * numerator/denominator and evaluated with ONE final double division,
    * so both engines produce bit-identical doubles with no rounding
    * tolerance. Scale shape: one groupBy(hour) shuffle (map-side
    * combined), one O(series)-sized window pass for the 5 lag columns
    * (the series is |hours|, not |events|), one 6-group aggregate, and a
    * broadcast of the 1-row global moments.
    */
  private val e32 = Q(
    "e32_acf",
    (s, dir) => {
      val ser = Tables.load(s, dir, "events")
        .groupBy(date_trunc("hour", col("ts")).as("hr"))
        .agg(count(lit(1)).as("c"))
      // global window: the series is |distinct hours| rows (thousands),
      // not |events| — a single sort task is the right plan here
      val w = Window.orderBy("hr")
      val lagged = ser.select(
        (col("c") +: (1 to 5).map(l => lag("c", l).over(w).as(s"c_$l"))): _*)
      val pairs = lagged
        .select(col("c"), expr(
          "stack(5, 1, c_1, 2, c_2, 3, c_3, 4, c_4, 5, c_5) AS (l, c_lag)"))
        .filter(col("c_lag").isNotNull)
      val glob = ser.agg(count(lit(1)).as("n"), sum("c").as("s"),
        sum(col("c") * col("c")).as("ss"))
      pairs
        .groupBy("l")
        .agg(sum(col("c") * col("c_lag")).as("scc"),
          sum("c").as("sa"), sum("c_lag").as("sb"),
          count(lit(1)).as("n_pairs"))
        .crossJoin(broadcast(glob))
        .select(col("l").cast("int").as("lag"), col("n_pairs"),
          ((col("n") * col("n") * col("scc")
            - col("n") * col("s") * (col("sa") + col("sb"))
            + (col("n") - col("l")) * col("s") * col("s")).cast("double")
            / (col("n") * col("n") * col("ss")
              - col("n") * col("s") * col("s")).cast("double")).as("acf"))
        .orderBy("lag")
    },
    Some("""WITH ser AS (
              SELECT date_trunc('hour', ts) AS hr,
                     CAST(count(*) AS BIGINT) AS c
              FROM events GROUP BY 1),
            gmom AS (
              SELECT CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(c) AS BIGINT) AS s,
                     CAST(sum(c * c) AS BIGINT) AS ss
              FROM ser),
            lagged AS (
              SELECT c,
                lag(c, 1) OVER w AS c_1, lag(c, 2) OVER w AS c_2,
                lag(c, 3) OVER w AS c_3, lag(c, 4) OVER w AS c_4,
                lag(c, 5) OVER w AS c_5
              FROM ser WINDOW w AS (ORDER BY hr)),
            pairs AS (
              SELECT c, 1 AS l, c_1 AS c_lag FROM lagged WHERE c_1 IS NOT NULL
              UNION ALL
              SELECT c, 2, c_2 FROM lagged WHERE c_2 IS NOT NULL
              UNION ALL
              SELECT c, 3, c_3 FROM lagged WHERE c_3 IS NOT NULL
              UNION ALL
              SELECT c, 4, c_4 FROM lagged WHERE c_4 IS NOT NULL
              UNION ALL
              SELECT c, 5, c_5 FROM lagged WHERE c_5 IS NOT NULL),
            agg AS (
              SELECT l, CAST(sum(c * c_lag) AS BIGINT) AS scc,
                     CAST(sum(c) AS BIGINT) AS sa,
                     CAST(sum(c_lag) AS BIGINT) AS sb,
                     CAST(count(*) AS BIGINT) AS n_pairs
              FROM pairs GROUP BY 1)
            SELECT l AS lag, n_pairs,
                   CAST(n * n * scc - n * s * (sa + sb) + (n - l) * s * s
                     AS DOUBLE)
                   / CAST(n * n * ss - n * s * s AS DOUBLE) AS acf
            FROM agg, gmom ORDER BY 1"""))

  /** E33 (X208, beyond the reference): BEHAVIORAL TRIGRAM MINING — the
    * top-15 most common 3-step event-type journeys across all users
    * (the sequence-pattern summary behind funnel DISCOVERY, where e12
    * checks a KNOWN funnel and e26 stops at pairwise transitions).
    * Two lead() columns over each user's time-ordered stream build the
    * trigrams in one window pass — no self-joins, no explode of
    * per-user histories — then one global count and a top-15 under the
    * TOTAL order (count desc, trigram asc) so the cutoff is
    * deterministic. Scale: |events| rows through one user-keyed
    * shuffle + a 125-key aggregate (|event_types|³ bound).
    */
  private val e33 = Q(
    "e33_event_trigrams",
    (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      Tables.load(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type"))
        .withColumn("t2", lead("event_type", 1).over(w))
        .withColumn("t3", lead("event_type", 2).over(w))
        .filter(col("t3").isNotNull)
        .select(concat_ws(">", col("event_type"), col("t2"), col("t3"))
          .as("trigram"))
        .groupBy("trigram").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("trigram"))
        .limit(15)
    },
    Some("""WITH seq AS (
              SELECT user_id, event_type,
                     lead(event_type, 1) OVER w AS t2,
                     lead(event_type, 2) OVER w AS t3
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
            SELECT event_type || '>' || t2 || '>' || t3 AS trigram,
                   CAST(count(*) AS BIGINT) AS n
            FROM seq WHERE t3 IS NOT NULL
            GROUP BY 1 ORDER BY n DESC, trigram LIMIT 15"""))

  /** E34 (X213, beyond the reference): TIME-TO-CONVERT distribution —
    * per user, latency from the FIRST view to the first purchase
    * STRICTLY after it, summarized as exact-integer order statistics.
    * The quantiles are DISCRETE (the rank-⌈n/2⌉ and rank-⌈9n/10⌉
    * elements under the total order (delta, user_id)) so no
    * interpolation arithmetic exists to diverge cross-engine; indices
    * are computed with integer division only. Mean is ONE division of
    * exact BIGINT Σdelta. Scale: both event scans prune on event_type
    * at the parquet level; the rank runs over the PRE-AGGREGATED
    * one-row-per-converting-user table (the m33 Gini device), never
    * the raw event log.
    */
  private val e34 = Q(
    "e34_time_to_convert",
    (s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .withColumn("us", unix_micros(col("ts")))
      val firstView = ev.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min("us").as("v_us"))
      val deltas = ev.filter(col("event_type") === "purchase")
        .join(firstView, Seq("user_id"))
        .filter(col("us") > col("v_us"))
        .groupBy("user_id")
        .agg((min("us") - min("v_us")).as("delta"))
      val wRank = Window.orderBy(col("delta"), col("user_id"))
      deltas
        .withColumn("rk", row_number().over(wRank))
        .withColumn("n", count(lit(1)).over(
          Window.partitionBy(lit(1))))
        .agg(count(lit(1)).as("n_users"),
          min("delta").as("min_us"),
          max(when(col("rk") === expr("(n + 1) div 2"), col("delta")))
            .as("p50_us"),
          max(when(col("rk") === expr("(9 * n + 9) div 10"), col("delta")))
            .as("p90_us"),
          max("delta").as("max_us"),
          (sum("delta").cast("double") / count(lit(1)).cast("double"))
            .as("mean_us"))
    },
    Some("""WITH fv AS (
              SELECT user_id, min(epoch_us(ts)) AS v_us
              FROM events WHERE event_type = 'view' GROUP BY 1),
            d AS (
              SELECT e.user_id,
                     min(epoch_us(e.ts)) - min(fv.v_us) AS delta
              FROM events e JOIN fv USING (user_id)
              WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > fv.v_us
              GROUP BY e.user_id),
            rk AS (
              SELECT delta,
                     row_number() OVER (ORDER BY delta, user_id) AS rk,
                     count(*) OVER () AS n
              FROM d)
            SELECT CAST(count(*) AS BIGINT) AS n_users,
                   min(delta) AS min_us,
                   max(CASE WHEN rk = (n + 1) // 2 THEN delta END) AS p50_us,
                   max(CASE WHEN rk = (9 * n + 9) // 10 THEN delta END)
                     AS p90_us,
                   max(delta) AS max_us,
                   CAST(sum(delta) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                     AS mean_us
            FROM rk"""))

  /** X236 e35: FIRST-/LAST-TOUCH purchase attribution — the marketing
    * attribution matrix (which channel opened the journey × which
    * channel closed it) over each user's event stream. Last-touch =
    * the most recent non-purchase event strictly before the purchase,
    * via last(..., ignoreNulls) over an UNBOUNDED-PRECEDING-to-1-
    * PRECEDING frame (the w4 first-non-null device with an
    * exclusive-current frame); first-touch = first_value over the
    * user's whole ordered stream. Purchases with no preceding touch
    * attribute to 'none' on both axes via COALESCE. Revenue stays in
    * exact cents. Scale: ONE user-keyed shuffle feeds both window
    * passes and the 36-cell-bounded aggregate; no self-join against
    * the purchase subset.
    */
  private val e35 = Q(
    "e35_touch_attribution",
    (s, dir) => {
      val wOrd = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val attributed = graft.ops.Tables.load(s, dir, "events")
        .withColumn("cents", round(col("value") * 100).cast("long"))
        .withColumn("first_touch",
          first(col("event_type")).over(wOrd))
        .withColumn("last_touch",
          last(when(col("event_type") =!= "purchase", col("event_type")),
            ignoreNulls = true)
            .over(wOrd.rowsBetween(Window.unboundedPreceding, -1)))
        .filter(col("event_type") === "purchase")
      attributed
        .groupBy(
          coalesce(col("first_touch"), lit("none")).as("first_touch"),
          coalesce(col("last_touch"), lit("none")).as("last_touch"))
        .agg(count(lit(1)).as("n_purchases"),
          sum("cents").as("revenue_cents"),
          sum("event_id").as("event_id_sum"))
        .orderBy("first_touch", "last_touch")
    },
    Some("""WITH attributed AS (
              SELECT event_type,
                     CAST(round(value * 100) AS BIGINT) AS cents,
                     event_id,
                     first_value(event_type) OVER wo AS first_touch,
                     last_value(CASE WHEN event_type <> 'purchase'
                                THEN event_type END IGNORE NULLS)
                       OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                               AND 1 PRECEDING) AS last_touch
              FROM events
              WINDOW wo AS (PARTITION BY user_id ORDER BY ts, event_id))
            SELECT coalesce(first_touch, 'none') AS first_touch,
                   coalesce(last_touch, 'none') AS last_touch,
                   CAST(count(*) AS BIGINT) AS n_purchases,
                   CAST(sum(cents) AS BIGINT) AS revenue_cents,
                   CAST(sum(event_id) AS BIGINT) AS event_id_sum
            FROM attributed
            WHERE event_type = 'purchase'
            GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** X243 e36: DIURNAL CONCENTRATION profile per event type — the
    * seasonality-shape number a scheduler or anomaly baseline needs
    * ("how peaked is this event's hour-of-day histogram?"). Modal hour
    * by exact-integer argmax under the (count desc, hour) total order;
    * concentration = 24·n_modal/n (ONE pinned division; 1.0 = uniform,
    * 24 = everything in one hour). The full 24-bucket histogram stays
    * exact; only the summary ratio is a double. Scale: one map-side
    * (type, hour) aggregate — 120 cells regardless of corpus size —
    * then a 120-row window argmax.
    */
  private val e36 = Q(
    "e36_diurnal_concentration",
    (s, dir) => {
      val byHour = graft.ops.Tables.load(s, dir, "events")
        .withColumn("hr", hour(col("ts")).cast("long"))
        .groupBy("event_type", "hr")
        .agg(count(lit(1)).as("n_hr"))
      val w = Window.partitionBy("event_type")
        .orderBy(col("n_hr").desc, col("hr"))
      byHour
        .withColumn("rn", row_number().over(w))
        .groupBy("event_type")
        .agg(sum("n_hr").as("n"),
          count(lit(1)).as("n_active_hours"),
          min(when(col("rn") === 1, col("hr"))).as("modal_hour"),
          min(when(col("rn") === 1, col("n_hr"))).as("n_modal"))
        .withColumn("concentration",
          lit(24.0) * col("n_modal").cast("double")
            / col("n").cast("double"))
        .orderBy("event_type")
    },
    Some("""WITH by_hour AS (
              SELECT event_type,
                     CAST(hour(ts) AS BIGINT) AS hr,
                     CAST(count(*) AS BIGINT) AS n_hr
              FROM events GROUP BY 1, 2),
            ranked AS (
              SELECT event_type, hr, n_hr,
                     row_number() OVER (PARTITION BY event_type
                       ORDER BY n_hr DESC, hr) AS rn
              FROM by_hour)
            SELECT event_type, CAST(sum(n_hr) AS BIGINT) AS n,
                   CAST(count(*) AS BIGINT) AS n_active_hours,
                   min(CASE WHEN rn = 1 THEN hr END) AS modal_hour,
                   min(CASE WHEN rn = 1 THEN n_hr END) AS n_modal,
                   24.0 * CAST(min(CASE WHEN rn = 1 THEN n_hr END)
                     AS DOUBLE) / CAST(sum(n_hr) AS DOUBLE)
                     AS concentration
            FROM ranked GROUP BY event_type ORDER BY event_type"""))

  /** X280 e37: NATIVE FILE-SINK transaction log — the production
    * parquet sink's exactly-once story, which is NOT the files
    * themselves but the `_spark_metadata` commit log beside them: only
    * files recorded by a committed batch are part of the dataset.
    * Proven from both sides: (a) resume — the stream (file source →
    * projection → `writeStream.format("parquet")`, Append) runs to
    * completion on half the events, stops, and restarts from the same
    * checkpoint after the second half lands, so the sink accumulates
    * each row exactly once across two separately-committed batches;
    * (b) orphan exclusion — a VALID duplicate parquet file (a byte
    * copy of half0, what a killed task leaves behind) is dropped
    * into the sink directory BYPASSING the log, and the read-back —
    * which goes through `_spark_metadata` — must exclude it: if the
    * log were ignored, every half0 row would count twice and the hash
    * against the whole-table batch oracle breaks. e15/e16 prove
    * foreachBatch idempotence and source offsets; this row proves the
    * built-in sink's own commit protocol, the one a 100 TB pipeline
    * actually lands files with.
    */
  private val e37 = Q(
    "e37_file_sink_txn_log",
    // stateless passthrough: commit-log proof, no keyed state -> rule floor
    (s, dir) => withStateSizedPartitions(s, expectedStateRows = 0L) {
      import org.apache.hadoop.fs.{FileUtil, Path}
      val d = StreamReplay.dirs(s, "graft_e37")
      val ev = passthrough(Tables.load(s, dir, "events"))
      def runOnce(): Unit = StreamReplay.runToEnd(s, 
        s.readStream.schema(ev.schema).parquet(d.in)
          .writeStream.format("parquet")
          .option("path", d.out)
          .option("checkpointLocation", d.ckpt)
          .outputMode("append"))
      val half0 = new Path(s"${d.in}/half0.parquet")
      StreamReplay.stage(ev.filter(col("event_id") % 2 === 0), half0.toString)
      runOnce() // batch 0 commits half0 into the sink's metadata log
      StreamReplay.stage(ev.filter(col("event_id") % 2 =!= 0), s"${d.in}/half1.parquet")
      runOnce() // resume: batch 1 appends only half1
      // Simulate a failed task's leftover: a VALID duplicate data file
      // in the sink dir that no batch ever committed — a byte copy of
      // half0, no Spark write.
      val conf = s.sparkContext.hadoopConfiguration
      val fs = half0.getFileSystem(conf)
      FileUtil.copy(fs, half0, fs, new Path(s"${d.out}/orphan_uncommitted.parquet"), false, conf)
      require(fs.exists(new Path(s"${d.out}/_spark_metadata")),
        "file sink wrote no _spark_metadata commit log")
      // Read THROUGH the sink (Spark detects _spark_metadata and lists
      // from the log, not the directory) — the orphan must not count.
      typeRollup(StreamReplay.readSink(s, d.out, ev.schema))
    },
    Some(typeRollupSql))

  /** X287 e38: APPEND-MODE windowed aggregation through the FILE SINK —
    * the production pattern for landing finalized hourly aggregates in
    * storage, and the one append semantics the family didn't yet pin:
    * in Append mode a window row is written ONCE, only after the
    * watermark passes its end — so the sink must contain exactly the
    * finalized windows and NOT the trailing ones still open. Three
    * time-ordered deliveries (early ⇒ mid ⇒ a sentinel batch holding
    * only the max-ts rows) drive the watermark so that after the last
    * run every window ending ≤ max(ts) − 1h is finalized and emitted,
    * while the open tail remains withheld (asserted loudly). The cut is
    * max-based, NOT one-batch-lagged: an AvailableNow trigger runs a final
    * state-eviction batch after the watermark advances past the last
    * data — round-9 finding, caught by the explicit boundary assertion
    * below on the sf0.001 dataset, where the sink held exactly one more
    * window (866) than the lagged cut predicted (865); the r8 oracle's
    * second-max formula only matched sf0.01 because the two cuts happen
    * to coincide there (no hour-aligned window end falls between them —
    * precisely the advisor-flagged ambiguity). The DuckDB oracle
    * recomputes exactly the finalized-window subset from the batch
    * table; hash equality proves both the once-only append contract and
    * the watermark finalization boundary. Complements e17 (update-mode
    * late-DROP) and e37 (file-sink commit log) with the append-mode
    * WITHHOLD.
    */
  private val e38 = Q(
    "e38_append_window_file_sink",
    (s, dir) => withStateSizedPartitions(s,
        expectedStateRows = est.hourWindowKeys(s, dir)) {
      val d = StreamReplay.dirs(s, "graft_e38")
      val ev = Tables.load(s, dir, "events")
        .select(col("event_id"), col("ts"), col("event_type"), col("value"))
      val b = ev.agg(min("ts").as("mn"), max("ts").as("mx")).first()
      val (mn, mx) = (b.getTimestamp(0), b.getTimestamp(1))
      val tSplit = new java.sql.Timestamp(mn.getTime + 2 * 3600000L)
      val early = ev.filter(col("ts") < lit(tSplit))
      val mid = ev.filter(col("ts") >= lit(tSplit) && col("ts") < lit(mx))
      val sentinel = ev.filter(col("ts") === lit(mx))
      // one conditional-sum job instead of three separate count() jobs
      val nonEmpty = ev.agg(
        sum(when(col("ts") < lit(tSplit), 1L).otherwise(0L)),
        sum(when(col("ts") >= lit(tSplit) && col("ts") < lit(mx), 1L)
          .otherwise(0L)),
        sum(when(col("ts") === lit(mx), 1L).otherwise(0L))).first()
      require(nonEmpty.getLong(0) > 0 && nonEmpty.getLong(1) > 0 &&
        nonEmpty.getLong(2) > 0,
        "append-withhold proof is vacuous: need all three deliveries")
      val counts = EventStreams.tumblingCounts(s.readStream.schema(ev.schema).parquet(d.in))
      def stageAndRun(part: DataFrame, name: String): Unit = {
        StreamReplay.stage(part, s"${d.in}/$name.parquet")
        StreamReplay.runToEnd(s, counts
          .writeStream.format("parquet")
          .option("path", d.out)
          .option("checkpointLocation", d.ckpt)
          .outputMode("append"))
      }
      stageAndRun(early, "a_early")
      stageAndRun(mid, "b_mid")
      stageAndRun(sentinel, "c_sentinel")
      val sink = StreamReplay.readSink(s, d.out, counts.schema)
      // The withhold half of the proof: open tail windows must be absent.
      val nAll = ev.select(date_trunc("hour", col("ts")), col("event_type"))
        .distinct().count()
      val nSink = sink.count()
      require(nSink > 0 && nSink < nAll,
        s"append withhold broken: sink has $nSink of $nAll windows " +
          "(expected a nonempty strict subset)")
      // Assert the finalization cut EXPLICITLY against the sink so a
      // divergence fails here with a named cause, never as an opaque
      // hash mismatch. The cut is max(ts) − 1h: AvailableNow runs a
      // final eviction batch after the watermark advances past the
      // last data (verified empirically — sf0.001 finalizes one window
      // MORE than a one-batch-lag cut would, sf0.01 coincides).
      val tsMax = mx // already aggregated above — no second max(ts) job
      val nExpected = ev
        .filter(date_trunc("hour", col("ts")) + expr("INTERVAL 1 HOUR")
          <= lit(tsMax) - expr("INTERVAL 1 HOUR"))
        .select(date_trunc("hour", col("ts")), col("event_type"))
        .distinct().count()
      require(nSink == nExpected,
        s"e38 watermark-cut assumption broke: sink finalized $nSink " +
          s"windows but the max-ts cut ($tsMax − 1h) predicts " +
          s"$nExpected — AvailableNow's final eviction batch did not " +
          "run (or ran twice); re-derive the oracle boundary for this " +
          "dataset")
      sink
        .select(col("event_type"), col("window_start").as("hour_window"),
          col("n"), round(col("sum_value"), 4).as("sum_value"))
        .orderBy("event_type", "hour_window")
    },
    Some("""WITH mx AS (SELECT max(ts) AS mt FROM events)
            SELECT event_type, date_trunc('hour', ts) AS hour_window,
                   count(*) AS n, round(sum(value), 4) AS sum_value
            FROM events, mx
            WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR
                    <= mx.mt - INTERVAL 1 HOUR
            GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** X300 e39: STREAMING QUANTILES WITHOUT BUFFERING — the GK sketch
    * (sk7's engine) as per-key RocksDB state under `transformWithState`
    * ([[graft.streaming.QuantileSketchProcessor]]): the events table is
    * staged into three time-ordered chunk files and replayed one per
    * micro-batch, so the per-event-type sketch provably SURVIVES
    * serialization between batches (three non-empty batches asserted
    * loudly) and accumulates incrementally — the production p50/p95
    * monitoring pattern where state is the sketch's log-sized tuple
    * list, never the stream. Verdict posture (sk7's, streamed): the
    * LAST emission per key (n strictly increasing) carries the final
    * p50/p95 estimates, whose exact ranks over the batch table must
    * land within ⌈φn⌉ ± ⌈0.02n⌉ (GK at ε=0.01 guarantees half the
    * gate); the hash covers event_type, φ, n, the exact quantile, and
    * the verdict bit. DuckDB passes its own t-digest through the
    * identical predicate.
    */
  private val e39 = Q(
    "e39_stream_quantile_sketch",
    // one log-sized sketch row per key
    (s, dir) => withStateSizedPartitions(s,
        expectedStateRows = est.approxKeys(s, dir, "event_type")) {
      withRocksDbStateStore(s) {
        val d = StreamReplay.dirs(s, "graft_e39")
        val ev = Tables.load(s, dir, "events")
          .select(col("event_type"), col("value").cast("double").as("v"),
            col("ts"), col("event_id"))
        // three time-ordered chunks, replayed in staging order
        val chunked = ev.withColumn("chunk",
          ntile(3).over(Window.orderBy("ts", "event_id")))
        val staged = chunked.select("chunk", "event_type", "v")
        for (c <- 1 to 3)
          StreamReplay.stage(staged.filter(col("chunk") === c).drop("chunk"),
            f"${d.in}/chunk_$c%02d.parquet")
        val sink = StreamReplay.toMemory(EventStreams.streamingTypeQuantiles(
          s.readStream.schema(staged.drop("chunk").schema)
            .option("maxFilesPerTrigger", "1").parquet(d.in)).toDF(), "e39", "update")
        val live = sink.query.recentProgress.count(_.numInputRows > 0)
        require(live == 3,
          s"e39 expected 3 non-empty micro-batches (one per staged " +
            s"chunk), got $live — sketch-state persistence across " +
            "batches is not being exercised")
        val fin = latestPerKey(sink.rows, "event_type", "n")
          .select(col("event_type"), col("n"), col("q50"), col("q95"))
        val est = fin.select(col("event_type"), col("n"),
          explode(map(lit(0.5), col("q50"), lit(0.95), col("q95")))
            .as(Seq("phi", "est")))
        val exact = ev.groupBy("event_type")
          .agg(expr("percentile(v, array(0.5d, 0.95d))").as("ex"))
          .select(col("event_type"),
            explode(map(lit(0.5), element_at(col("ex"), 1),
              lit(0.95), element_at(col("ex"), 2)))
              .as(Seq("phi", "exact_v")))
        val joined = est.join(exact, Seq("event_type", "phi"))
        ev.join(broadcast(joined), Seq("event_type"))
          .groupBy("event_type", "phi", "n", "est", "exact_v")
          .agg(
            sum(when(col("v") < col("est"), 1L).otherwise(0L))
              .as("rank_lo"),
            sum(when(col("v") <= col("est"), 1L).otherwise(0L))
              .as("rank_hi"))
          .select(col("event_type"), col("phi"), col("n"),
            round(col("exact_v"), 4).as("exact_q"),
            (col("rank_lo") + 1 <= ceil(col("phi") * col("n"))
                + ceil(lit(0.02) * col("n"))
              && col("rank_hi") >= ceil(col("phi") * col("n"))
                - ceil(lit(0.02) * col("n")))
              .cast("int").as("stream_within_eps"))
          .orderBy("event_type", "phi")
      }
    },
    Some("""WITH o AS (SELECT event_type, CAST(value AS DOUBLE) AS v
                       FROM events),
            est AS (
              SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                     CAST(phi AS DOUBLE) AS phi,
                     CASE phi WHEN 0.5 THEN approx_quantile(v, 0.5)
                              ELSE approx_quantile(v, 0.95) END AS e,
                     CASE phi WHEN 0.5 THEN quantile_cont(v, 0.5)
                              ELSE quantile_cont(v, 0.95) END AS exact_v
              FROM o CROSS JOIN (VALUES (0.5), (0.95)) AS p(phi)
              GROUP BY event_type, phi),
            rk AS (
              SELECT e.event_type, e.phi, e.n, e.exact_v,
                     sum(CASE WHEN o.v < e.e THEN 1 ELSE 0 END) AS rank_lo,
                     sum(CASE WHEN o.v <= e.e THEN 1 ELSE 0 END) AS rank_hi
              FROM est e JOIN o ON o.event_type = e.event_type
              GROUP BY e.event_type, e.phi, e.n, e.exact_v)
            SELECT event_type, phi, n, round(exact_v, 4) AS exact_q,
                   CAST(CASE WHEN rank_lo + 1 <= ceil(phi * n)
                                                 + ceil(0.02 * n)
                              AND rank_hi >= ceil(phi * n)
                                             - ceil(0.02 * n)
                        THEN 1 ELSE 0 END AS INT) AS stream_within_eps
            FROM rk ORDER BY event_type, phi"""))

  /** X309 e40: STREAMING BLOOM ADMISSION — ingest-time dedup whose
    * state CANNOT grow with the stream: a fixed 16-byte bit set per
    * source (m=128 — deliberately undersized for the corpus so the
    * collision path is EXERCISED, not just argued; production sizes m
    * to the corpus) in RocksDB ValueState
    * ([[graft.streaming.BloomAdmissionProcessor]]) instead of the
    * ever-growing fingerprint set an exact streaming dedup needs. The
    * documents table is staged into three doc_id-ordered chunks
    * replayed one per micro-batch (state provably survives
    * serialization; 3 non-empty batches require()d), each doc admitted
    * iff one of its 3 md5-derived positions is unset. Every output
    * column is hash-proven: the admission sequence is a pure function
    * of the data (doc_id fold order + the cross-engine md5 position
    * device), and because a rejected doc's positions are already all
    * set, bit-set-before-doc reduces to non-recursive first-setter
    * arithmetic — min(doc_id) per (source, position) — which is the
    * DuckDB replay. Diagnostics: exact duplicates are provably always
    * rejected (same fp → same positions, all set by the original);
    * bloom_fp marks the distinct docs lost to position collisions —
    * the price of O(1) state, reported exactly per doc.
    */
  private val e40 = Q(
    "e40_stream_bloom_dedup",
    // one bloom-bitset state row per source (documents stream)
    (s, dir) => withStateSizedPartitions(s,
        expectedStateRows = est.approxKeys(s, dir, "source",
          table = "documents")) {
      withRocksDbStateStore(s) {
        val in = StreamReplay.dirs(s, "graft_e40").in
        val d = Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            graft.ops.Corpus.fingerprint(col("text")).as("fp"))
        val chunked = d.withColumn("chunk",
          ntile(3).over(Window.orderBy("doc_id")))
        val staged = chunked.select("chunk", "source", "doc_id", "fp")
        for (c <- 1 to 3)
          StreamReplay.stage(staged.filter(col("chunk") === c).drop("chunk"),
            f"$in/chunk_$c%02d.parquet")
        val sink = StreamReplay.toMemory(EventStreams.streamingBloomAdmission(
          s.readStream.schema(staged.drop("chunk").schema)
            .option("maxFilesPerTrigger", "1").parquet(in)).toDF(), "e40", "update")
        val live = sink.query.recentProgress.count(_.numInputRows > 0)
        require(live == 3,
          s"e40 expected 3 non-empty micro-batches (one per staged " +
            s"chunk), got $live — bloom-state persistence across " +
            "batches is not being exercised")
        val admits = sink.rows
          .select(col("doc_id"), col("source"), col("admit"))
        val firstFp = d.groupBy("source", "fp")
          .agg(min("doc_id").as("ffd"))
        admits.join(d.select("doc_id", "fp"), Seq("doc_id"))
          .join(broadcast(firstFp), Seq("source", "fp"))
          .select(col("doc_id"), col("source"), col("admit"),
            (col("doc_id") > col("ffd")).cast("int").as("exact_dup"),
            (col("admit") === 0 && col("doc_id") === col("ffd"))
              .cast("int").as("bloom_fp"))
          .orderBy("doc_id")
      }
    },
    Some("""WITH d AS (
              SELECT doc_id, source,
                     md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
                       AS fp
              FROM documents),
            pos AS (
              SELECT DISTINCT doc_id, source,
                ('0x' || substr(md5(CAST(i AS VARCHAR) || ':' || fp),
                  1, 15))::BIGINT % 128 AS pos
              FROM d CROSS JOIN (VALUES (0), (1), (2)) AS t(i)),
            firstset AS (
              SELECT source, pos, min(doc_id) AS fd
              FROM pos GROUP BY 1, 2),
            adm AS (
              SELECT p.doc_id, p.source,
                     max(CASE WHEN f.fd = p.doc_id THEN 1 ELSE 0 END)
                       AS admit
              FROM pos p JOIN firstset f
                ON p.source = f.source AND p.pos = f.pos
              GROUP BY 1, 2),
            firstfp AS (
              SELECT source, fp, min(doc_id) AS ffd FROM d GROUP BY 1, 2)
            SELECT d.doc_id, d.source, a.admit,
                   CAST(d.doc_id > ff.ffd AS INT) AS exact_dup,
                   CAST(a.admit = 0 AND d.doc_id = ff.ffd AS INT)
                     AS bloom_fp
            FROM d
            JOIN adm a ON d.doc_id = a.doc_id
            JOIN firstfp ff ON d.source = ff.source AND d.fp = ff.fp
            ORDER BY d.doc_id"""))

  def all: Seq[Q] =
    Seq(e1, e2, e3, e4, e5, e6, e7, e8, e9, e10, e11, e12, e13, e14, e15,
      e16, e17, e18, e19, e20, e21, e22, e23, e24, e25, e26, e27, e28,
      e29, e30, e31, e32, e33, e34, e35, e36, e37, e38, e39, e40)
}
