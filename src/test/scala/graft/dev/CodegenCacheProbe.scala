package graft.dev
import graft.{GraftSession, Runner}
import org.apache.spark.metrics.source.CodegenMetrics

/** Dev-only: measures what Spark's whole-stage-codegen compile cache
  * (`spark.sql.codegen.cache.maxEntries`, STATIC conf, default 100)
  * does to a Bench-shaped two-pass run. The board generates far more
  * than 100 distinct codegen units per pass, so with the default the
  * pass-2 re-execution of every query Janino-recompiles ALL its units
  * — the cache is fully thrashed between visits. Because the conf is
  * static (read once per JVM), the A/B is across JVM launches; run the
  * arms adjacently and alternate (A B B A) to control host phases.
  *
  * usage: Test/runMain graft.dev.CodegenCacheProbe <sfDir> <maxEntries> <row ...>
  * prints per-pass wall seconds + Janino compile count / approx total ms.
  */
object CodegenCacheProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val maxEntries = args(1)
    val rows = args.drop(2)
    val spark = GraftSession.builder()
      .config("spark.sql.codegen.cache.maxEntries", maxEntries) // the A/B arm
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def compileCount: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    def compileMsApprox: Double = {
      val h = CodegenMetrics.METRIC_COMPILATION_TIME
      h.getSnapshot.getMean * h.getCount // ms reservoir mean x count
    }
    def runOne(name: String): Double = {
      val fn = graft.SparkEntry.queries(name)
      Runner.run(spark) {
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        (System.nanoTime() - t0) / 1e9
      }.fold(why => sys.error(s"$name failed: $why"), identity)
    }
    for (pass <- 1 to 2) {
      val c0 = compileCount; val m0 = compileMsApprox
      val t0 = System.nanoTime()
      val times = rows.map(n => n -> runOne(n))
      Runner.drainStreams(spark)
      val wall = (System.nanoTime() - t0) / 1e9
      val sum = times.map(_._2).sum
      println(f"CGPROBE maxEntries=$maxEntries pass=$pass sum=$sum%.2f wall=$wall%.2f " +
        f"compiles=${compileCount - c0} compileMs=${compileMsApprox - m0}%.0f")
      println(times.map { case (n, t) => f"$n=$t%.3f" }.mkString("CGPROBE rows: ", " ", ""))
    }
    spark.stop()
  }
}
