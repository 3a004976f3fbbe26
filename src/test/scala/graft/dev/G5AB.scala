package graft.dev

import graft.GraftSession
import org.apache.spark.sql.functions._

/** A/B probe for the round-16 g5 kernel change at decade scale: the
  * OLD inline single-array kernel (round-15 code, no checkpointed
  * adjacency) vs the NEW ops/WedgeKernel (checkpointed adjacency +
  * light/heavy split). Times the wedge-generation → pair-aggregate
  * core that dominates g5, same nParts both sides.
  * usage: Test/runMain graft.dev.G5AB <dir> [BA]
  */
object G5AB {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse(
      System.getProperty("java.io.tmpdir") + "/graft_decade_m30")
    val order = args.drop(1).headOption.getOrElse("BA")
    val spark = GraftSession()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    def t[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"[g5ab] $label%-40s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      r
    }

    val op = graft.ops.Tables.load(spark, dir, "lineitem")
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      .distinct()
    val e0 = t("coEdges (checkpoint)") {
      op.as("a").join(op.as("b"), Seq("o"))
        .filter(col("a.p") < col("b.p"))
        .select(col("a.p").as("p1"), col("b.p").as("p2"))
        .distinct().localCheckpoint()
    }
    val nbr = e0.select(col("p1").as("c"), col("p2").as("x"))
      .unionByName(e0.select(col("p2").as("c"), col("p1").as("x")))

    def downstream(pairPk: org.apache.spark.sql.DataFrame,
        wedgeCount: Long): Long = {
      val nParts = math.max(spark.sparkContext.defaultParallelism * 2L,
        math.min(4096L, wedgeCount / 2000000L)).toInt
      pairPk.repartition(nParts, col("pk"))
        .groupBy("pk").agg(count(lit(1)).as("cn"))
        .filter(col("cn") >= 2).count()
    }

    def runB(): Unit = {
      val (pairPk, wc) = t("B adjacency+stats (WedgeKernel)") {
        graft.ops.WedgeKernel.pairPk(spark, nbr)
      }
      val n = t("B kernel+explode+repartition+groupBy") {
        downstream(pairPk, wc)
      }
      println(s"[g5ab] B pairs(cn>=2) = $n, wedges = $wc")
    }

    def runA(): Unit = {
      val wc = t("A wedgeCount groupBy") {
        nbr.groupBy("c").agg(count(lit(1)).as("d"))
          .agg(coalesce(sum(expr("d * (d - 1) DIV 2")), lit(0L)))
          .first().getLong(0)
      }
      val pairPk = nbr
        .groupBy("c").agg(sort_array(collect_list(col("x"))).as("xs"))
        .select(col("xs")).as[Seq[Long]]
        .mapPartitions(_.map { xs =>
          val a = xs.toArray
          val n = a.length.toLong * (a.length - 1) / 2
          val out = new Array[Long](n.toInt)
          var k = 0
          var i = 0
          while (i < a.length) {
            var j = i + 1
            while (j < a.length) {
              out(k) = (a(i) << 32) | a(j); k += 1
              j += 1
            }
            i += 1
          }
          out
        })
        .toDF("xs")
        .select(explode(col("xs")).as("pk"))
      val n = t("A kernel+explode+repartition+groupBy") {
        downstream(pairPk, wc)
      }
      println(s"[g5ab] A pairs(cn>=2) = $n, wedges = $wc")
    }

    order.foreach {
      case 'A' => runA()
      case 'B' => runB()
      case _ => ()
    }
    spark.stop()
  }
}
