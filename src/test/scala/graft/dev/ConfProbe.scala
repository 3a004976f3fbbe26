package graft.dev
import graft.{GraftSession, Runner}

/** Dev-only: interleaved A/B of a runtime SQL conf over registry rows
  * inside ONE JVM — the only valid perf methodology on hosts with
  * multi-minute throughput phases (round-17 finding). For each row:
  * A, B, A, B (2 reps each), min per arm reported.
  * usage: Test/runMain graft.dev.ConfProbe <sfDir> <confKey> <valA> <valB> <row ...>
  */
object ConfProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val key = args(1)
    val valA = args(2)
    val valB = args(3)
    val rows = args.drop(4)
    val spark = GraftSession()
    spark.sparkContext.setLogLevel("ERROR")
    def runOne(name: String): Double = {
      val fn = graft.SparkEntry.queries(name)
      Runner.run(spark) {
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        (System.nanoTime() - t0) / 1e9
      }.fold(why => sys.error(s"$name failed: $why"), identity)
    }
    var sumA = 0.0
    var sumB = 0.0
    rows.foreach { name =>
      // warm once (codegen/broadcast paths) under A so neither arm
      // carries the cold-JVM tax
      spark.conf.set(key, valA)
      runOne(name)
      var bestA = Double.MaxValue
      var bestB = Double.MaxValue
      for (_ <- 1 to 2) {
        spark.conf.set(key, valA)
        bestA = math.min(bestA, runOne(name))
        spark.conf.set(key, valB)
        bestB = math.min(bestB, runOne(name))
      }
      sumA += bestA; sumB += bestB
      println(f"CONFPROBE $name%-28s A=$bestA%.3f B=$bestB%.3f " +
        f"delta=${bestB - bestA}%+.3f")
    }
    println(f"CONFPROBE TOTAL A=$sumA%.2f B=$sumB%.2f ($key $valA vs $valB)")
    spark.stop()
  }
}
