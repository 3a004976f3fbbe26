package graft

import org.apache.spark.sql.Observation
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The Observation API: named accumulation of data-quality metrics
  * DURING a job (row counts, sums, null counts collected in-flight) —
  * the production alternative to re-scanning the data for audit
  * counters. The spec proves observed metrics equal independently
  * recomputed aggregates on the same input.
  */
class ObservationSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sfDir = "/root/testdata/sf0.001"

  private lazy val spark = GraftSession(4)

  override def afterAll(): Unit = spark.stop()

  test("observe() collects audit metrics in-flight that match a re-scan") {
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val obs = Observation("audit")
    // the observed metrics ride along the SAME job that computes the
    // business aggregate — no second pass over the input
    val result = li
      .observe(obs,
        count(lit(1)).as("n_rows"),
        sum("l_quantity").as("sum_qty"),
        sum(when(col("l_returnflag") === "R", 1L).otherwise(0L))
          .as("n_returns"))
      .filter(col("l_quantity") > 25)
      .groupBy("l_returnflag").agg(count(lit(1)).as("n"))
    result.collect() // triggers the job; observation fires with it
    val m = obs.get
    val expected = li.agg(
      count(lit(1)), sum("l_quantity"),
      sum(when(col("l_returnflag") === "R", 1L).otherwise(0L))).first()
    assert(m("n_rows") == expected.getLong(0))
    assert(m("sum_qty") == expected.getDouble(1))
    assert(m("n_returns") == expected.getLong(2))
  }
}
