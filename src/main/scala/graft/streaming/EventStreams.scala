package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout,
  OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** Running per-user aggregate state (top-level for Encoder derivation). */
case class UserRunning(user_id: Long, n_events: Long, total_value: Double)

/** Spark 4 arbitrary-state processor: the transformWithState successor
  * of flatMapGroupsWithState — state lives in named, individually-typed
  * handles (here one ValueState) managed by the state store (RocksDB
  * provider required), with per-state TTL instead of a single
  * whole-group timeout. Same semantics as
  * [[EventStreams.runningUserTotals]]: a running (count, total) per
  * user emitted every micro-batch.
  */
class RunningTotalsProcessor
    extends StatefulProcessor[Long, (Long, Double), UserRunning] {
  @transient private var state: ValueState[UserRunning] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    state = getHandle.getValueState[UserRunning]("running",
      Encoders.product[UserRunning], TTLConfig.NONE)

  override def handleInputRows(key: Long, rows: Iterator[(Long, Double)],
      timerValues: TimerValues): Iterator[UserRunning] = {
    val prev =
      if (state.exists()) state.get() else UserRunning(key, 0L, 0.0)
    var n = prev.n_events
    var tot = prev.total_value
    rows.foreach { case (_, v) => n += 1; tot += v }
    val next = UserRunning(key, n, tot)
    state.update(next)
    Iterator.single(next)
  }
}

/** Per-event-type streaming quantile emission (top-level for Encoder
  * derivation): total count plus the current GK p50/p95 estimates. */
case class TypeQuantiles(event_type: String, n: Long, q50: Double,
    q95: Double)

/** Streaming quantiles WITHOUT buffering raw values: a
  * [[graft.ops.GkSketch]] per key lives in the state store as its
  * serialized bytes (one ValueState[Array[Byte]] handle), each
  * micro-batch deserializes, inserts the batch's rows, re-serializes,
  * and emits the current estimates — the production p50/p95 monitoring
  * pattern. State per key is the sketch's O((1/ε)·log(εn)) tuples, NOT
  * the stream: a stream 1000× longer carries (log-factor) near-equal
  * state, while any exact streaming percentile would hold every value
  * ever seen. The GK bound is insertion-order-independent, so the
  * arbitrary per-batch arrival order never threatens the ⌈εn⌉ rank
  * guarantee that e39 verifies against the batch-exact ranks.
  */
class QuantileSketchProcessor
    extends StatefulProcessor[String, (String, Double), TypeQuantiles] {
  @transient private var state: ValueState[Array[Byte]] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    state = getHandle.getValueState[Array[Byte]]("gk_sketch",
      Encoders.BINARY, TTLConfig.NONE)

  override def handleInputRows(key: String, rows: Iterator[(String, Double)],
      timerValues: TimerValues): Iterator[TypeQuantiles] = {
    val sk =
      if (state.exists()) graft.ops.GkSketch.deserialize(state.get())
      else new graft.ops.GkSketch(0.01)
    rows.foreach { case (_, v) => sk.insert(v) }
    state.update(sk.serialize())
    Iterator.single(TypeQuantiles(key, sk.n, sk.query(0.5), sk.query(0.95)))
  }
}

/** One streaming admission decision (top-level for Encoder derivation). */
case class DocAdmit(doc_id: Long, source: String, admit: Int)

/** Streaming corpus admission with a BOUNDED Bloom bit set per source —
  * the ingest-time dedup gate whose state CANNOT grow with the stream:
  * an exact streaming dedup must hold every fingerprint ever seen
  * (state = corpus size); this processor holds a FIXED m=128 k=3 bit
  * set (16 bytes; deliberately undersized for the test corpus so the
  * collision path is exercised and accounted — production sizes m to
  * the expected corpus) per source in one ValueState, admitting a document
  * iff at least one of its 3 md5-derived positions is still unset, then
  * setting them. Exact duplicates are always rejected (same
  * fingerprint → same positions, provably all set by the original);
  * distinct docs are rejected only on full position collision, and the
  * e40 row reports those false positives exactly by comparing against
  * the batch fingerprint history. Determinism: batch rows are folded in
  * doc_id order and positions use the repo's cross-engine md5 device,
  * so the admission sequence is a pure function of the data —
  * replayable in DuckDB with first-setter window arithmetic (no
  * recursion needed: a rejected doc's positions are already all set, so
  * "every processed doc sets its bits" ≡ "every admitted doc sets its
  * bits", and bit-set-before-doc-d reduces to min(doc_id) per
  * (source, position) < d).
  */
class BloomAdmissionProcessor
    extends StatefulProcessor[String, (String, Long, String), DocAdmit] {
  @transient private var state: ValueState[Array[Byte]] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    state = getHandle.getValueState[Array[Byte]]("bloom_bits",
      Encoders.BINARY, TTLConfig.NONE)

  override def handleInputRows(key: String,
      rows: Iterator[(String, Long, String)],
      timerValues: TimerValues): Iterator[DocAdmit] = {
    // 128 bits = 16 B per source — the WHOLE point: state is constant
    // in the stream length (an exact dedup's fingerprint set is not)
    val bits = if (state.exists()) state.get() else new Array[Byte](16)
    val out = rows.toArray.sortBy(_._2).map { case (_, docId, fp) =>
      val ps = EventStreams.bloomPositions(fp)
      val admit = ps.exists(p => (bits(p >>> 3) & (1 << (p & 7))) == 0)
      ps.foreach(p => bits(p >>> 3) = (bits(p >>> 3) | (1 << (p & 7))).toByte)
      DocAdmit(docId, key, if (admit) 1 else 0)
    }
    state.update(bits)
    out.iterator
  }
}

/** Structured Streaming surface. The reference is pure batch
  * (SURVEY.md §2.9), so streaming is an engine capability, not a parity
  * requirement: these transforms are written against an unbounded
  * DataFrame and run identically over `read` (batch) and `readStream`
  * (incremental) inputs — the Spark idiom for a unified engine.
  *
  * Scale notes: both aggregations are keyed by (window/session ×
  * event_type/user) so state is bounded by the watermark horizon, not
  * the stream length; late events beyond 1 hour are dropped instead of
  * growing state without bound.
  */
object EventStreams {

  /** Tumbling 1-hour window counts per event type, 1-hour watermark.
    * Streaming analogue of the batch `e1_tumbling_window` query.
    */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** Native session windows (30-min gap) per user — the streaming
    * analogue of the batch `e2_sessionize` lag/running-sum query,
    * expressed with Spark's session_window so state expiry is handled
    * by the engine.
    */
  def sessionCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum("value").as("session_value"))
      .select(col("session_window.start").as("session_start"),
        col("user_id"), col("n_events"), col("session_value"))

  /** Streaming deduplication: drop repeated (user_id, event_type)
    * occurrences within the watermark horizon — the streaming analogue
    * of the batch exact-dedup family (X1), with state bounded by the
    * 1-hour watermark instead of the stream's full history.
    */
  def dedupWithinWatermark(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("user_id", "event_type")

  /** Sliding 10-min windows every 5 min (each event in two windows),
    * 1-hour watermark — the streaming analogue of the batch
    * `e8_sliding_window` query. State is (windows-in-horizon ×
    * event types), bounded by the watermark.
    */
  def slidingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "10 minutes", "5 minutes"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** Stream-static broadcast enrichment: join the unbounded event
    * stream against a bounded dimension (re-read per micro-batch,
    * broadcast — no stream-side shuffle, no state). The standard
    * pattern for attaching slowly-changing metadata at any stream rate.
    */
  def enrichWithDim(events: DataFrame, dim: DataFrame,
      eventKey: String, dimKey: String): DataFrame =
    events.join(broadcast(dim), events(eventKey) === dim(dimKey), "left")

  /** Custom keyed state via flatMapGroupsWithState: a running per-user
    * (event count, value total) updated every micro-batch — the
    * arbitrary-state API for logic session_window/agg can't express.
    * NoTimeout here because the demo key space is bounded; an unbounded
    * keyspace at scale would use GroupStateTimeout.EventTimeTimeout and
    * drop idle keys past the watermark.
    */
  def runningUserTotals(events: DataFrame): Dataset[UserRunning] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.selectExpr("user_id", "value").as[(Long, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[UserRunning, UserRunning](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[(Long, Double)],
            state: GroupState[UserRunning]) =>
          val prev = state.getOption.getOrElse(UserRunning(uid, 0L, 0.0))
          var n = prev.n_events
          var tot = prev.total_value
          it.foreach { case (_, v) => n += 1; tot += v }
          val next = UserRunning(uid, n, tot)
          state.update(next)
          Iterator.single(next)
      }
  }

  /** [[runningUserTotals]] re-expressed on the Spark 4
    * transformWithState API (see [[RunningTotalsProcessor]]). Requires
    * the RocksDB state store provider:
    * `spark.sql.streaming.stateStore.providerClass =
    * org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider`.
    */
  def runningUserTotalsTws(events: DataFrame): Dataset[UserRunning] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.selectExpr("user_id", "value").as[(Long, Double)]
      .groupByKey(_._1)
      .transformWithState(new RunningTotalsProcessor,
        TimeMode.None(), OutputMode.Update())
  }

  /** Per-event-type streaming GK quantiles via [[QuantileSketchProcessor]];
    * expects (event_type, v: double) columns. */
  def streamingTypeQuantiles(events: DataFrame): Dataset[TypeQuantiles] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.selectExpr("event_type", "v").as[(String, Double)]
      .groupByKey(_._1)
      .transformWithState(new QuantileSketchProcessor,
        TimeMode.None(), OutputMode.Update())
  }

  /** The cross-engine position device for [[BloomAdmissionProcessor]]:
    * pos_i = first 15 hex chars of md5("i:fp") as a 60-bit integer,
    * mod 128 — byte-identical to Spark
    * `conv(substr(md5(...),1,15),16,10) % 128` and DuckDB
    * `('0x'||substr(md5(...),1,15))::BIGINT % 128`. Distinct
    * positions (two hashes may collide on one slot). */
  def bloomPositions(fp: String): Array[Int] = {
    val md5 = graft.ops.Hashing.newMd5()
    (0 to 2).map { i =>
      (java.lang.Long.parseLong(md5.hex(s"$i:$fp").substring(0, 15), 16)
        % 128L).toInt
    }.distinct.toArray
  }

  /** Per-source streaming Bloom admission via [[BloomAdmissionProcessor]];
    * expects (source, doc_id, fp) columns. */
  def streamingBloomAdmission(docs: DataFrame): Dataset[DocAdmit] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.selectExpr("source", "doc_id", "fp").as[(String, Long, String)]
      .groupByKey(_._1)
      .transformWithState(new BloomAdmissionProcessor,
        TimeMode.None(), OutputMode.Update())
  }

  /** foreachBatch incremental sink: apply an arbitrary batch write per
    * micro-batch — the production pattern for sinks Structured
    * Streaming lacks natively (JDBC upserts, multi-table fan-out,
    * partitioned parquet layouts). Each micro-batch lands in its own
    * `batch_id=` partition via DYNAMIC partition overwrite, so a
    * post-crash redelivery of the same batchId rewrites that partition
    * instead of appending duplicates — the idempotence that upgrades
    * the checkpoint's at-least-once redelivery to exactly-once output.
    */
  def sinkViaForeachBatch(agg: DataFrame, outDir: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    agg.writeStream
      .outputMode("update")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        writeBatchIdempotent(batch, batchId, outDir)
      }

  /** The per-batch write [[sinkViaForeachBatch]] runs — a NAMED method
    * so the crash-recovery path is testable: redelivering a batchId
    * (what the checkpoint does after a failure between write and
    * commit) re-invokes this very function, and the dynamic partition
    * overwrite rewrites that `batch_id=` partition instead of
    * appending duplicates. e15 drives exactly that in the registry.
    */
  def writeBatchIdempotent(batch: Dataset[org.apache.spark.sql.Row],
      batchId: Long, outDir: String): Unit =
    batch.withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .parquet(outDir)
}
