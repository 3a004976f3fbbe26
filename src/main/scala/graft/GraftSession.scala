package graft

import org.apache.spark.sql.SparkSession

/** The one place a Spark session is built: every main, spec and probe
  * runs the posture `graft.Bench` measures, on `local[cores]`.
  *
  * AQE is deliberately NOT configured: adaptive execution and its
  * skew-join split stay at Spark's defaults (on), so runtime re-planning
  * (skew split, partition coalescing, join-strategy flips) is always
  * armed. PlanSpec asserts this and proves the skew split engages;
  * ScaleProbe's `skew` mode measures what it buys.
  */
object GraftSession {
  /** SPARK_GRAFT_CPUS, else 4: the core count when a site names none. */
  private def envCores: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  def builder(cores: Int = envCores): SparkSession.Builder = SparkSession.builder()
    .master(s"local[$cores]")
    .config("spark.sql.shuffle.partitions", cores.toLong)
    .config("spark.sql.extensions", "graft.GraftExtensions")
    .config("spark.sql.warehouse.dir",
      System.getProperty("java.io.tmpdir") + "/graft_warehouse")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    // Broadcast blocks (dim tables, packed edge sets, Bloom bit
    // arrays, ANN matrices) are freed ONLY by the ContextCleaner,
    // which waits for a GC to clear weak references — and a 24g
    // ParallelGC heap may not old-gen-collect for the whole run, so
    // ~350 queries' broadcasts pile up in storage memory (round-12:
    // g5 crept 14 -> 44 s across full runs while staying ~14 s
    // isolated). Spark's own remedy is this periodic System.gc()
    // on the cleaner thread; the default 30min never fires inside a
    // ~13min run.
    .config("spark.cleaner.periodicGC.interval", "2min")
    // Whole-stage-codegen compile cache (STATIC conf, default 100
    // entries): one pass over the 383-row board generates ~4-5k
    // distinct codegen units, so at the default the cache is fully
    // thrashed between a query's pass-1 and pass-2 visits and EVERY
    // unit Janino-recompiles in both passes (round-18 opt
    // measurement, CodegenCacheProbe cross-JVM A/B over 49 rows:
    // pass-2 recompiles 645 units under the default vs 31-33 under
    // 8192, ~23 ms each, pass-2 sum 20.4/26.4 s vs 25.9/27.0 s).
    // 8192 covers the whole board's units; the cached GeneratedClass
    // objects are driver-side compiled code, NOT data or results —
    // every execution still scans the parquet inputs. A long-running
    // production session re-running structurally similar queries
    // wants the same posture at any scale.
    .config("spark.sql.codegen.cache.maxEntries", "8192")

  /** The `builder(cores)` session, logging at WARN. */
  def apply(cores: Int = envCores): SparkSession = {
    val spark = builder(cores).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
