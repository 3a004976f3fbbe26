package graft

import org.scalatest.funsuite.AnyFunSuite

/** Cost-based-optimizer evidence: catalog statistics (`ANALYZE TABLE`)
  * must actually CHANGE plans, not just sit in the catalog. At 100 TB
  * the difference between "filter selectivity unknown → sort-merge
  * join" and "filter estimated at 2% → broadcast the filtered side" is
  * the difference between a full shuffle of the fact table and none;
  * this spec pins that flip end-to-end on a real catalog table.
  */
class CboSpec extends AnyFunSuite with TempDirs {

  private val sfDir = "/root/testdata/sf0.01"

  // a private warehouse: the spec creates and ANALYZEs catalog tables
  private lazy val spark = GraftSession.builder(4)
    .config("spark.sql.warehouse.dir",
      tempDir("graft_cbo_wh"))
    .getOrCreate()

  override def afterAll(): Unit = try spark.stop() finally super.afterAll()

  private def setup(): Unit = {
    spark.sql("DROP TABLE IF EXISTS cbo_li")
    spark.sql("DROP TABLE IF EXISTS cbo_ord")
    spark.sql("CREATE TABLE cbo_li USING parquet AS " +
      s"SELECT * FROM parquet.`$sfDir/lineitem.parquet`")
    spark.sql("CREATE TABLE cbo_ord USING parquet AS " +
      s"SELECT * FROM parquet.`$sfDir/orders.parquet`")
  }

  // The join whose plan should flip: the filter keeps ~1% of lineitem
  // (l_quantity > 49 on a 1-50 integer-valued column), far below the
  // broadcast threshold — but only a COLUMN-stats selectivity estimate
  // can know that before execution.
  private def query() = spark.sql(
    """SELECT o_orderpriority, count(*) AS n
      |FROM cbo_ord JOIN (SELECT l_orderkey FROM cbo_li
      |                   WHERE l_quantity > 49.0) f
      |  ON o_orderkey = f.l_orderkey
      |GROUP BY o_orderpriority""".stripMargin)

  test("ANALYZE TABLE populates row-count statistics that reach the " +
      "optimized plan") {
    setup()
    spark.sql("ANALYZE TABLE cbo_li COMPUTE STATISTICS")
    spark.conf.set("spark.sql.cbo.enabled", "true")
    val stats = spark.table("cbo_li").queryExecution
      .optimizedPlan.stats
    val expected = spark.table("cbo_li").count()
    assert(stats.rowCount.exists(_.toLong == expected),
      s"rowCount=${stats.rowCount} expected=$expected")
    spark.conf.set("spark.sql.cbo.enabled", "false")
  }

  test("column statistics flip the selective-filter join from " +
      "sort-merge to broadcast (CBO filter-cardinality estimation)") {
    setup()
    // threshold chosen BETWEEN the two sides: orders (~350 KB) and full
    // lineitem (~1.1 MB) are both far above 64 KB, while the ~1%
    // filtered lineitem estimate (~600 rows of two bigints) is far
    // below — so the flip isolates the ESTIMATE, not the data
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "64KB")
    try {
      // A: no stats, CBO off — filter size falls back to the child's,
      // too big to broadcast
      spark.conf.set("spark.sql.cbo.enabled", "false")
      val before = query().queryExecution.executedPlan.toString
      assert(before.contains("SortMergeJoin") &&
        !before.contains("BroadcastHashJoin"), before.take(3000))
      // B: ANALYZE with column stats + CBO on — FilterEstimation puts
      // the build side under the threshold
      spark.sql("ANALYZE TABLE cbo_li COMPUTE STATISTICS FOR COLUMNS " +
        "l_quantity, l_orderkey")
      spark.sql("ANALYZE TABLE cbo_ord COMPUTE STATISTICS")
      spark.conf.set("spark.sql.cbo.enabled", "true")
      val after = query().queryExecution.executedPlan.toString
      assert(after.contains("BroadcastHashJoin"), after.take(3000))
    } finally {
      spark.conf.set("spark.sql.cbo.enabled", "false")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }
}
