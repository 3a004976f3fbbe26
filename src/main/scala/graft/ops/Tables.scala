package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** Test-table catalog over the driver-generated parquet star schema
  * (TESTDATA.md). All `SparkEntry.queries` read through here so every
  * query gets the same scan path (parquet → Catalyst pushdown/pruning).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Session-keyed memo of the RESOLVED base-table reads. Every
    * `spark.read.parquet` call re-lists the directory and re-infers
    * the schema from a footer — a driver-side job of ~15-40 ms that
    * ~430 call sites across the registry pay on EVERY query execution
    * (SQL-surface rows pay it ×10 via [[registerAll]]); round-18
    * FloorProbe measured it as the largest slice of the ~0.1-0.2 s
    * fixed floor each of the 383 rows carries. Memoizing the resolved
    * DataFrame is exactly catalog-table semantics (a metastore caches
    * table schemas the same way): the object is an UNEXECUTED logical
    * plan — every action on it still scans the parquet files, so no
    * data or results are ever cached. Keyed by (session, dir, name)
    * because tests spin up many sessions; the size cap bounds the
    * strong session references those keys hold.
    */
  private val resolved = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String, String), DataFrame]()

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val key = (spark, dir, name)
    val hit = resolved.get(key)
    if (hit != null) return hit
    val raw = spark.read.parquet(s"$dir/$name.parquet")
    val df = if (name == "events") normalizeTs(raw) else raw
    if (resolved.size > 256) resolved.clear()
    resolved.putIfAbsent(key, df)
    df
  }

  /** The table's schema as the parquet file stores it, before
    * [[normalizeTs]]: what a file-source stream of the table must
    * declare (the normalized schema would misread an INT64-nanos `ts`).
    * It is the schema of the file relation under the [[load]] memo's
    * frame, so it starts no inference job. */
  def fileSchema(spark: SparkSession, dir: String, name: String): StructType =
    load(spark, dir, name).queryExecution.logical.collectLeaves().head.schema

  /** Normalize `events.ts` to a session-zone TimestampType regardless of
    * how the generator encoded it in parquet. Dispatches on the SCANNED
    * type, because the testdata generator has shipped both encodings:
    *   - INT64 nanos (surfaced as BIGINT under
    *     spark.sql.legacy.parquet.nanosAsLong=true): exact integral
    *     `div 1000` → micros. `/` would promote the nanosecond longs
    *     (~1.7e18 > 2^53) to double and lose up to ±128 ns, making the
    *     truncated micros diverge from DuckDB's exact nanos→µs.
    *   - TIMESTAMP(µs, isAdjustedToUTC=false) (reads as TIMESTAMP_NTZ):
    *     cast to TimestampType. Every session here pins
    *     spark.sql.session.timeZone=UTC, so the cast re-tags the same
    *     wall-clock instant without shifting it — `unix_micros` and the
    *     DuckDB `epoch_us(ts)` oracles agree unchanged.
    * Works on batch and streaming frames alike (pure projection).
    */
  def normalizeTs(df: DataFrame): DataFrame =
    df.schema.find(_.name == "ts").map(_.dataType) match {
      case Some(LongType) =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case Some(TimestampNTZType) =>
        df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df // already TimestampType (or no ts column): no-op
    }

  /** Register every table as a temp view for spark.sql queries. */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
}
