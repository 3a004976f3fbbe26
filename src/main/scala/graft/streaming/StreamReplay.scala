package graft.streaming

import java.util.concurrent.atomic.AtomicInteger

import graft.ops.Tables
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.types.{IntegerType, StructType}

/** The one way the streaming proofs and probes stage and replay files:
  * a clean `in/out/ckpt` layout, fixtures staged as single flat parquet
  * files a file-source stream lists, a base table as a stream, the
  * start (without artifact isolation, see [[start]]) and the
  * run-to-end of a replay and its memory-sink and batch-id read-backs,
  * the click→purchase attribution join they replay with its eviction
  * sentinels, and the session confs a replay pins around its body.
  *
  * A proof's bookkeeping starts no Spark job: a parquet sink is read
  * back with the schema it was written with ([[readSink]]), and a
  * foreachBatch sink's batch ids come from its directory listing
  * ([[batchIds]]).
  */
object StreamReplay {

  /** `<tmpdir>/<name>`, emptied, with an empty `in/` for staged files;
    * `out` and `ckpt` are created by the sink and the checkpoint. */
  final case class Dirs(base: String) {
    val in: String = s"$base/in"
    val out: String = s"$base/out"
    val ckpt: String = s"$base/ckpt"
  }

  def dirs(s: SparkSession, name: String): Dirs = {
    val d = Dirs(s"${System.getProperty("java.io.tmpdir")}/$name")
    val fs = new Path(d.base).getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new Path(d.base), true)
    fs.mkdirs(new Path(d.in))
    d
  }

  /** Writes `df` as the ONE parquet file `path` (replacing it): the
    * file-source stream lists flat files, and the testdata contract is
    * one file per table ([[tableStream]] selects it by file name, which
    * never matches part files inside a directory). coalesce(1)
    * is fixture staging — never copy it into a real sink, where one
    * task would serialize the whole write. Sequential calls give
    * strictly increasing mod-times, so the file source replays staged
    * files in staging order. `rowGroupBytes` caps the parquet row
    * group: a corpus-sized single file with the default 128 MB row
    * group is ONE scan split, which fed whole scans to a single task
    * (round-13 sf1: d16 117 s → 830 s from this alone).
    */
  def stage(df: DataFrame, path: String, rowGroupBytes: Option[Long] = None): Unit = {
    val target = new Path(path)
    // '_'-prefixed: Spark's file listing skips it while it exists
    val tmp = new Path(target.getParent, s"_stage_${target.getName}")
    val w = df.coalesce(1).write.mode("overwrite")
    rowGroupBytes.foreach(b => w.option("parquet.block.size", b))
    w.parquet(tmp.toString)
    val fs = tmp.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    val part = fs.globStatus(new Path(tmp, "part-*.parquet"))(0).getPath
    fs.delete(target, true)
    fs.rename(part, target)
    fs.delete(tmp, true)
  }

  /** The base table `name` of the sf dir `dir` as a file-source stream:
    * the stream lists the directory and `pathGlobFilter` selects the
    * table's one flat file. It declares the file's own schema, memoized
    * by [[Tables.load]] (no inference job), and then normalizes `ts`
    * exactly as the batch read does. */
  def tableStream(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.normalizeTs(s.readStream.schema(Tables.fileSchema(s, dir, name))
      .option("pathGlobFilter", s"$name.parquet")
      .parquet(dir))

  /** Starts `w`, a writer over a stream of session `s`, with artifact
    * isolation off for the stream. Every streaming query runs on a
    * clone of its session, made inside `start()` with a copy of the
    * session's conf, and each clone has a new session UUID. Under
    * isolation (`spark.sql.artifact.isolation.enabled`, on by default)
    * the clone's tasks carry that UUID, the executor builds a fresh
    * classloader for each UUID it sees, and the codegen cache is keyed
    * on (context classloader, code), so every stream start would
    * compile all its generated classes again. graft adds no artifacts,
    * so isolation guards nothing here. The pin covers the `start()`
    * call alone: the clone copies it, and `s` gets its own value back. */
  def start(s: SparkSession, w: DataStreamWriter[_]): StreamingQuery =
    withConf(s, "spark.sql.artifact.isolation.enabled", "false")(w.start())

  /** [[start]]s `w` under an AvailableNow trigger (every file present
    * at start, then stop) and blocks until it is done. The finished
    * query is returned for its `recentProgress`, one entry per
    * micro-batch. */
  def runToEnd(s: SparkSession, w: DataStreamWriter[_]): StreamingQuery = {
    val q = start(s, w.trigger(Trigger.AvailableNow()))
    q.awaitTermination()
    q
  }

  /** A finished memory-sink replay: the sink's rows and its query. */
  final case class MemoryReplay(rows: DataFrame, query: StreamingQuery)

  private val sinkRun = new AtomicInteger(0)

  /** Runs `stream` to the end into a memory sink in output `mode`. The
    * sink is named `stream_<tag>_<n>`: unique per call, because a sink's
    * rows stay readable under its name after the query stops and a row
    * may run again before they are read, and `stream_`-prefixed so that
    * [[graft.Runner.drainStreams]] drops it. */
  def toMemory(stream: DataFrame, tag: String, mode: String): MemoryReplay = {
    val name = s"stream_${tag}_${sinkRun.incrementAndGet()}"
    val q = runToEnd(stream.sparkSession, stream.writeStream.format("memory")
      .queryName(name).outputMode(mode))
    MemoryReplay(stream.sparkSession.table(name), q)
  }

  /** The parquet sink under `out` read with `written`, the schema its
    * writer wrote. An inferring `read.parquet` runs a footer-merge job to
    * build the frame, even over one file; a declared schema plans with
    * none. A file sink is still listed through its `_spark_metadata`
    * log. */
  def readSink(s: SparkSession, out: String, written: StructType): DataFrame =
    s.read.schema(written).parquet(out)

  /** [[readSink]] for an [[EventStreams.sinkViaForeachBatch]] sink, whose
    * rows are `written` plus the `batch_id` partition column, typed int
    * as partition inference types it. */
  def readBatchSink(s: SparkSession, out: String, written: StructType): DataFrame =
    readSink(s, out, written.add("batch_id", IntegerType))

  /** The batch ids an idempotent foreachBatch sink under `out` holds,
    * parsed from its `batch_id=N` partition directory names. Every other
    * entry (`_SUCCESS`, `_temporary`, `.spark-staging-*`, `.crc` files)
    * is ignored. A listing starts no Spark job; the parquet read plus
    * `distinct()` it replaces started three or four. */
  def batchIds(s: SparkSession, out: String): Set[Long] = {
    val dir = new Path(out)
    dir.getFileSystem(s.sparkContext.hadoopConfiguration).listStatus(dir).iterator
      .map(_.getPath.getName).collect { case BatchDir(id) => id.toLong }.toSet
  }

  private val BatchDir = "batch_id=(\\d+)".r

  /** Clicks joined to the purchases of the same user within 30 minutes
    * AFTER the click, both sides watermarked at 1 hour: only the
    * watermark plus the time-range bound lets the engine drop buffered
    * state. `joinType` "left_outer" keeps unconverted clicks, emitted
    * null-extended once the watermark passes their deadline. Expects
    * (event_id, ts, user_id, event_type) columns.
    */
  def attributionJoin(events: DataFrame, joinType: String = "inner"): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", "1 hour")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"),
        col("event_id").as("purchase_id"), col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    clicks.join(purchases,
      col("user_id") === col("p_user") &&
        col("p_ts") >= col("click_ts") &&
        col("p_ts") <= col("click_ts") + expr("interval 30 minutes"),
      joinType)
  }

  /** Drives the stream-stream attribution join's watermark past every
    * real row's eviction deadline: stages a far-future click/purchase
    * pair (user −1, ids −1/−2) `+10 h` after `maxTs` into `in` and runs
    * `run`, then again at `+20 h`. The watermark for batch N comes from
    * batch N−1's max event time, so one round is not enough: the second
    * forces the eviction batch to run. Filter `user_id >= 0` on the
    * output to drop the sentinels. */
  def sentinelRounds(s: SparkSession, in: String,
      maxTs: java.sql.Timestamp)(run: => Unit): Unit = {
    import s.implicits._
    for (h <- Seq(10L, 20L)) {
      val t = new java.sql.Timestamp(maxTs.getTime + h * 3600000L)
      stage(Seq((-1L, t, -1L, "click"), (-2L, t, -1L, "purchase"))
        .toDF("event_id", "ts", "user_id", "event_type"), s"$in/sentinel_$h.parquet")
      run
    }
  }

  /** Runs `body` with spark.sql.shuffle.partitions pinned to `n`,
    * restoring the session value after, also when `body` throws. The
    * streaming proofs stage ~60k-row micro-batches, but every stateful
    * operator materializes one state store PER shuffle partition PER
    * run — e24's three AvailableNow runs × 4 join state stores × 32
    * partitions was 384 store load/commit cycles of pure fixed overhead
    * (measured round 12: 29 s → single digits at n=8 with identical
    * hashed output; the partition count is recorded in the checkpoint
    * at first start, so it must be set BEFORE the first run).
    * Parallelism is a plan property, not a semantics one: results are
    * order-enforced by each row's final orderBy. A real cluster sizes
    * streaming shuffle partitions to expected state, exactly like this.
    */
  def withShufflePartitions[A](s: SparkSession, n: Int)(body: => A): A =
    withConf(s, "spark.sql.shuffle.partitions", n.toString)(body)

  /** Runs `body` on the RocksDB state store, which transformWithState
    * requires, restoring the session's prior provider after. */
  def withRocksDbStateStore[A](s: SparkSession)(body: => A): A =
    withConf(s, "spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")(body)

  /** Runs `body` with session conf `key` = `value`, then restores it:
    * the prior explicit value, or unset if `key` was unset. */
  def withConf[A](s: SparkSession, key: String, value: String)(body: => A): A = {
    val prior = s.conf.getAll.get(key)
    s.conf.set(key, value)
    try body
    finally prior.fold(s.conf.unset(key))(s.conf.set(key, _))
  }
}
