package graft

import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Error bounds for the sketch aggregates: no cross-engine oracle
  * exists for approximate results, so correctness here means "within
  * the sketch's advertised error of the exact answer".
  */
class SketchSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sfDir = "/root/testdata/sf0.001"

  private lazy val spark = GraftSession(4)

  override def afterAll(): Unit = spark.stop()

  test("sk1 approximations stay within error bounds of the exact answers") {
    // the registry row hashes verdict bits; every bit must be 1
    val bits = SparkEntry.queries("sk1_approx_sketches")(spark, sfDir)
      .select("o_orderpriority", "custs_within_5pct", "median_rank_ok",
        "p95_rank_ok")
      .collect()
    assert(bits.nonEmpty)
    bits.foreach { r =>
      assert(r.getInt(1) == 1 && r.getInt(2) == 1 && r.getInt(3) == 1,
        s"${r.getString(0)}: verdict bits ${r.mkString(",")}")
    }
    // raw error bounds, computed independently of the registry row
    val approx = graft.ops.Tables.load(spark, sfDir, "orders")
      .groupBy("o_orderpriority")
      .agg(approx_count_distinct(col("o_custkey"), 0.02).as("ac"),
        percentile_approx(col("o_totalprice").cast("double"),
          lit(0.5), lit(10000)).as("am"),
        percentile_approx(col("o_totalprice").cast("double"),
          lit(0.95), lit(10000)).as("a95"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    val exact = graft.ops.Tables.load(spark, sfDir, "orders")
      .groupBy("o_orderpriority")
      .agg(countDistinct("o_custkey").as("custs"),
        expr("percentile(o_totalprice, 0.5)").as("median"),
        expr("percentile(o_totalprice, 0.95)").as("p95"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(approx.keySet == exact.keySet)
    exact.foreach { case (k, (c, med, p95)) =>
      val (ac, amed, ap95) = approx(k)
      assert(math.abs(ac - c).toDouble / c < 0.05,
        s"$k: approx_count_distinct $ac vs exact $c")
      assert(math.abs(amed - med) / med < 0.05,
        s"$k: approx median $amed vs exact $med")
      assert(math.abs(ap95 - p95) / p95 < 0.05,
        s"$k: approx p95 $ap95 vs exact $p95")
    }
  }
}
