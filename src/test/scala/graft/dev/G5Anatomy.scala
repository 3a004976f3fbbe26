package graft.dev

import graft.GraftSession
import org.apache.spark.sql.functions._

/** Stage-by-stage timing of the g5 plan's pieces, for drift forensics
  * (round 17: same-commit g5 measured 10.9-12.3 s across four runs one
  * night and 44.8 s the next morning at sf0.1 — this probe localizes
  * which piece moved).
  * usage: Test/runMain graft.dev.G5Anatomy [sfDir]
  */
object G5Anatomy {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = GraftSession()
    spark.sparkContext.setLogLevel("ERROR")
    def t[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"G5ANATOMY $label%-28s ${(System.nanoTime() - t0) / 1e9}%.2fs")
      r
    }
    val e0 = graft.queries.GraphQueries.coEdges(spark, dir)
    t("e0_count")(e0.count())
    t("e0_count_again")(e0.count())
    val nbr = e0.select(col("p1").as("c"), col("p2").as("x"))
      .unionByName(e0.select(col("p2").as("c"), col("p1").as("x")))
    t("degree_prescan") {
      nbr.groupBy("c").agg(count(col("x")).as("d"),
          min(col("x")).as("lo"), max(col("x")).as("hi"))
        .agg(sum(expr("d * (d - 1) DIV 2"))).first()
    }
    val (pairPk, wedges) = t("pairPk_construct") {
      graft.ops.WedgeKernel.pairPk(spark, nbr)
    }
    t("kernel_explode_count")(pairPk.count())
    val nParts = math.max(spark.sparkContext.defaultParallelism * 2L,
      math.min(4096L, wedges / 2000000L)).toInt
    // interleaved A/B: host throughput drifts 3x run-to-run, so only
    // adjacent alternation separates code effect from host phase
    for (i <- 1 to 3) {
      t(s"repartition_agg_$i") {
        pairPk.repartition(nParts, col("pk"))
          .groupBy("pk").agg(count(lit(1)).as("cn"))
          .filter(col("cn") >= 2).count()
      }
      t(s"sortcount_kernel_$i") {
        graft.ops.WedgeKernel.countByKeyMin(pairPk, nParts, 2L).count()
      }
    }
    t("explode_to_noop") {
      pairPk.write.format("noop").mode("overwrite").save()
    }
    t("full_g5")(graft.queries.GraphQueries.g5Exact(spark, dir).count())
    t("full_g5_again")(graft.queries.GraphQueries.g5Exact(spark, dir).count())
    spark.stop()
  }
}
