package graft

import graft.ops.{Irls, Tables}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Cross-engine convergence proof for the Poisson GLM kernel (m1):
  * the one closed-form IRLS, [[Irls]], must land on the SAME fixed
  * point MLlib's GeneralizedLinearRegression IRLS finds — per
  * l_returnflag group through m1d's trace, whose rounds are
  * [[Irls.step]] and which the DuckDB oracle replays, and on the
  * multivariate fit through [[Irls.poissonFit]]. Three independent
  * solvers (graft, DuckDB CTE replay via the m1d oracle, MLlib) agree
  * to 4 decimals.
  */
class IrlsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sfDir = "/root/testdata/sf0.001"

  private lazy val spark = GraftSession(4)

  override def afterAll(): Unit = spark.stop()

  // HALF_UP to match Spark's round() used by the m1d trace
  private def r4(x: Double): Double =
    BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("m1d converged per-group coefficients equal MLlib's IRLS fit") {
    import org.apache.spark.ml.feature.VectorAssembler
    import org.apache.spark.ml.regression.GeneralizedLinearRegression
    val last =
      Registry.queries("m1d_poisson_irls_converged")(spark, sfDir).collect()
    val maxIter = last.map(_.getInt(0)).max
    // the trace's own convergence evidence: the final round moved < 1e-4
    val finalRows = last.filter(_.getInt(0) == maxIter)
    finalRows.foreach { r =>
      assert(r.getDouble(4) == 0.0,
        s"delta not converged for ${r.getString(1)}: ${r.getDouble(4)}")
    }
    val df = Tables.load(spark, sfDir, "lineitem")
      .select(col("l_returnflag"),
        round(col("l_quantity")).as("y"), col("l_discount").as("x"))
    finalRows.foreach { r =>
      val flag = r.getString(1)
      val assembled = new VectorAssembler()
        .setInputCols(Array("x")).setOutputCol("features")
        .transform(df.filter(col("l_returnflag") === flag))
      val model = new GeneralizedLinearRegression()
        .setFamily("poisson").setLink("log")
        .setLabelCol("y").setMaxIter(50).setTol(1e-10)
        .fit(assembled)
      assert(r4(model.coefficients(0)) == r.getDouble(2),
        s"slope mismatch for $flag: MLlib ${model.coefficients(0)} " +
          s"vs closed-form ${r.getDouble(2)}")
      assert(r4(model.intercept) == r.getDouble(3),
        s"intercept mismatch for $flag: MLlib ${model.intercept} " +
          s"vs closed-form ${r.getDouble(3)}")
    }
  }

  test("multivariate normal-equations IRLS reproduces MLlib m1 exactly " +
      "(3 features + intercept)") {
    import org.apache.spark.ml.feature.VectorAssembler
    import org.apache.spark.ml.regression.GeneralizedLinearRegression
    val df = Tables.load(spark, sfDir, "lineitem")
      .select(round(col("l_quantity")).as("y"),
        col("l_discount"), col("l_tax"),
        (col("l_returnflag") === "R").cast("double").as("is_return"))
    val feats = Seq("l_discount", "l_tax", "is_return")
    val fit = Irls.poissonFit(df, "y", feats)
    assert(fit.delta < 1e-10, s"did not converge: delta=${fit.delta}")
    assert(fit.iters < 25, s"unexpectedly slow convergence: ${fit.iters}")
    val assembled = new VectorAssembler()
      .setInputCols(feats.toArray).setOutputCol("features")
      .transform(df)
    val model = new GeneralizedLinearRegression()
      .setFamily("poisson").setLink("log")
      .setLabelCol("y").setMaxIter(50).setTol(1e-10)
      .fit(assembled)
    assert(r4(fit.beta(0)) == r4(model.intercept),
      s"intercept: closed-form ${fit.beta(0)} vs MLlib ${model.intercept}")
    feats.indices.foreach { i =>
      assert(r4(fit.beta(i + 1)) == r4(model.coefficients(i)),
        s"coef ${feats(i)}: closed-form ${fit.beta(i + 1)} " +
          s"vs MLlib ${model.coefficients(i)}")
    }
  }

  test("a grouped IRLS round sums each key's rows alone") {
    val df = Tables.load(spark, sfDir, "lineitem")
      .select(col("l_returnflag"), round(col("l_quantity")).as("y"),
        col("l_discount"), col("l_tax"))
    val feats = Seq("l_discount", "l_tax")
    def rounds(d: DataFrame, keys: Seq[String]): Map[Row, Array[Double]] =
      (1 to 4).foldLeft(Map.empty[Row, Array[Double]])(
        (beta, _) => Irls.step(d, keys, "y", feats, beta))
    val grouped = rounds(df, Seq("l_returnflag"))
    val flags = df.select("l_returnflag").distinct().collect().toSet
    assert(grouped.keySet == flags)
    grouped.foreach { case (k, beta) =>
      val flag = k.getString(0)
      val alone =
        rounds(df.filter(col("l_returnflag") === flag), Nil)(Row())
      assert(Irls.maxDelta(beta, alone) < 1e-9,
        s"flag $flag: grouped ${beta.mkString(", ")} vs " +
          s"alone ${alone.mkString(", ")}")
    }
  }
}
