package graft.dev
import graft.{GraftSession, Runner}

/** Dev-only: isolate the per-execution FIXED floor every registry row
  * pays (round-17 "Not yet optimized" item: ~0.1-0.2 s/row × 383 rows
  * of board). Components measured separately, inside one bench-shaped
  * session, N repeats each, median reported:
  *   readFresh   — spark.read.parquet(...).count() resolved per call
  *                 (footer/schema inference + listing + plan + job)
  *   readMemo    — the SAME DataFrame object counted per call
  *                 (plan + job only; resolution paid once)
  *   registerAll — Tables.registerAll (10 table loads) per call
  *   row:<name>  — full registry rows, fn() + count() per call
  * usage: Test/runMain graft.dev.FloorProbe <sfDir> [reps] [row ...]
  */
object FloorProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val reps = if (args.length > 1) args(1).toInt else 20
    val rows = args.drop(2)
    val spark = GraftSession()
    spark.sparkContext.setLogLevel("ERROR")

    def bench(label: String, n: Int)(body: => Unit): Unit = {
      val ts = new Array[Double](n)
      var i = 0
      while (i < n) {
        val t0 = System.nanoTime()
        body
        ts(i) = (System.nanoTime() - t0) / 1e9
        i += 1
      }
      java.util.Arrays.sort(ts)
      val med = ts(n / 2)
      println(f"FLOOR $label%-28s med=${med}%.4f min=${ts(0)}%.4f " +
        f"max=${ts(n - 1)}%.4f sum=${ts.sum}%.3f n=$n%d")
    }

    // warm the JVM/codegen once
    spark.read.parquet(s"$sfDir/nation.parquet").count()
    spark.read.parquet(s"$sfDir/lineitem.parquet").count()

    bench("readFresh:nation", reps) {
      spark.read.parquet(s"$sfDir/nation.parquet").count()
    }
    val nationDf = spark.read.parquet(s"$sfDir/nation.parquet")
    bench("readMemo:nation", reps) { nationDf.count() }
    bench("readFresh:lineitem", reps) {
      spark.read.parquet(s"$sfDir/lineitem.parquet").count()
    }
    val liDf = spark.read.parquet(s"$sfDir/lineitem.parquet")
    bench("readMemo:lineitem", reps) { liDf.count() }
    bench("tablesLoad:lineitem", reps) {
      graft.ops.Tables.load(spark, sfDir, "lineitem").count()
    }
    bench("registerAll", reps) {
      graft.ops.Tables.registerAll(spark, sfDir)
    }
    rows.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      bench(s"row:$name", reps) {
        Runner.run(spark)(fn(spark, sfDir).count())
          .left.foreach(why => sys.error(s"$name failed: $why"))
      }
    }
    spark.stop()
  }
}
