package graft

/** Mirrors the driver's t1 smoke: run SparkEntry.entry on sf0.001 and
  * require rows > 0. Dev aid; the driver runs its own copy of this. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession()
    val df = SparkEntry.entry(spark)
    val n = df.count()
    df.show(5, false)
    println(s"SMOKE rows=$n " + (if (n > 0) "OK" else "FAIL"))
    spark.stop()
    if (n == 0) sys.exit(1)
  }
}
