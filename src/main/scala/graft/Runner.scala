package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** The per-row step every query loop shares (Bench, Verify, RegistrySpec):
  * run the row's action, capture a failure with its reason, then release
  * what the row left behind — outside whatever the action times.
  */
object Runner {
  /** `Right(action's result)`, or `Left("Class: first 3 message lines")`
    * if it threw. The release runs either way, unless the action killed
    * the context: a stopped context holds nothing and would throw. */
  def run[A](spark: SparkSession)(action: => A): Either[String, A] = {
    val out =
      try Right(action)
      catch { case e: Throwable => Left(reason(e)) }
    if (!spark.sparkContext.isStopped) release(spark)
    out
  }

  private def reason(e: Throwable): String =
    s"${e.getClass.getSimpleName}: " +
      Option(e.getMessage).getOrElse("").linesIterator
        .take(3).mkString(" | ").take(500)

  /** Dataset.persist registers the plan with the session CacheManager,
    * which holds it until unpersist()/clearCache() — the ContextCleaner
    * never reclaims CacheManager entries, so per-row persists would pile
    * up for the run's lifetime, evicting hot data and spilling (measured
    * round 4: d8 2.5→10 s, m1 3→10 s from cache pressure alone).
    *
    * clearCache does not touch localCheckpoint() blocks, which the
    * iterative/graph/dedup rows persist per round (MEMORY_AND_DISK) and
    * the GC-driven ContextCleaner frees too late on a big heap: hundreds
    * of dead checkpoint RDDs squeeze execution memory until later rows
    * spill (round-12 full run: the same streaming rows ran 3× slower
    * after ~300 queries than in a 16-query session). Nothing outside the
    * finished row references them, so unpersist them deterministically.
    */
  private def release(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
  }

  /** Stops any streaming query a proof row left running and drops its
    * `stream_*` memory-sink views: leftover streaming state between
    * passes is the prime suspect for the round-7 thread-pool shutdown
    * cascade. A step that fails is reported on stderr as
    * `[drain] <query or step>: <reason>` and the drain goes on. */
  def drainStreams(spark: SparkSession): Unit = {
    def attempt(what: String)(step: => Unit): Unit =
      try step catch { case NonFatal(e) => System.err.println(s"[drain] $what: ${reason(e)}") }
    spark.streams.active.foreach(q => attempt(s"stop ${Option(q.name).getOrElse(q.id)}")(q.stop()))
    attempt("drop stream_* views")(spark.catalog.listTables().collect()
      .filter(t => t.isTemporary && t.name.startsWith("stream_"))
      .foreach(t => spark.catalog.dropTempView(t.name)))
  }
}
