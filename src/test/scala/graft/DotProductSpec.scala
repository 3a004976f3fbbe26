package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** graft.functions.DotProduct — the codegen'd native dot product
  * registered as `graft_dot` by GraftExtensions. Asserts value
  * equivalence with the interpreted HOF spelling (bit-identical fold
  * order), null semantics, and that both the codegen and interpreted
  * eval paths agree.
  */
class DotProductSpec extends AnyFunSuite {

  private lazy val spark = GraftSession(2)

  test("graft_dot matches the interpreted HOF fold bit-for-bit") {
    import spark.implicits._
    val df = Seq(
      (Array(1.0, 2.0, 3.0), Array(4.0, 5.0, 6.0)),
      (Array(0.1, -0.2, 0.3), Array(0.7, 0.11, -0.13)),
      (Array.empty[Double], Array.empty[Double]))
      .toDF("a", "b")
    val rows = df.select(
      call_function("graft_dot", col("a"), col("b")).as("native"),
      aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
        lit(0.0), (acc, x) => acc + x).as("hof"))
      .collect()
    rows.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)))
    }
    assert(rows(0).getDouble(0) == 32.0)
    assert(rows(2).getDouble(0) == 0.0)
  }

  test("null array yields null") {
    import spark.implicits._
    val df = Seq((Some(Array(1.0)), Option.empty[Array[Double]]))
      .toDF("a", "b")
    val r = df.select(call_function("graft_dot", col("a"), col("b"))).collect()
    assert(r(0).isNullAt(0))
  }

  test("interpreted eval path (outside codegen) agrees") {
    // force the interpreted path by evaluating through a filter on a
    // non-codegen context: direct expression eval
    val e = graft.functions.DotProduct(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Array(2.0, 3.0), org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType)),
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Array(4.0, 5.0), org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType)))
    assert(e.eval(null) == 23.0)
  }

  test("type check rejects non-array inputs") {
    import spark.implicits._
    val df = Seq((1.0, 2.0)).toDF("a", "b")
    intercept[Exception] {
      df.select(call_function("graft_dot", col("a"), col("b"))).collect()
    }
  }
}
