package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
import scala.jdk.CollectionConverters._

/** Distributed multivariate Poisson IRLS (log link) via normal
  * equations — the closed-form engine-native counterpart of MLlib's
  * GeneralizedLinearRegression solver (the m1 reference kernel,
  * covid_simulator.py:60-94). One round ([[step]]) is ONE
  * map-side-combined aggregate per key producing the p(p+1)/2
  * upper-triangle entries of XᵀWX plus the p entries of XᵀWz
  * (p = #features incl. intercept); the driver then solves each key's
  * p×p system ([[LinAlg.solve]]) and broadcasts the next coefficient
  * table back. Driver state is O(keys · p²) doubles — never
  * corpus-sized — so the loop runs unchanged on a 1000-executor
  * cluster: iterations × (one shuffle of the partial-sum rows).
  *
  * The registry's m1d row steps this kernel for its per-l_returnflag
  * trace, and the DuckDB oracle replays that trace round by round, so
  * the rows hash-checked there are this code's output.
  */
object Irls {

  /** Fit result: coefficient vector (intercept first, then `xCols`
    * order), iterations used, and the final max |Δβ|.
    */
  final case class Fit(beta: Array[Double], iters: Int, delta: Double)

  /** One IRLS round per key: each group of `df` by `keys` (Nil = one
    * global group under the empty key `Row()`) gets its next
    * coefficient vector. With `beta` empty the round cold-starts at
    * mu₀ = y + 0.5 (the classic GLM initializer); otherwise every key
    * of `df` must be in `beta`, and mu = exp(β·x) with the key's β.
    * Working weight w = mu, working response z = ln(mu) + (y − mu)/mu.
    * Keys are rows of the key columns' values; key values must not be
    * null (the coefficient table is joined back on them).
    */
  def step(df: DataFrame, keys: Seq[String], yCol: String,
      xCols: Seq[String], beta: Map[Row, Array[Double]])
      : Map[Row, Array[Double]] = {
    val p = xCols.length + 1
    val xs = lit(1.0) +: xCols.map(col)
    val withMu =
      if (beta.isEmpty) df.withColumn("mu", col(yCol) + lit(0.5))
      else {
        val bCols = (0 until p).map(i => s"beta_$i")
        val schema = StructType(df.select(keys.map(col): _*).schema.fields ++
          bCols.map(StructField(_, DoubleType)))
        val table = df.sparkSession.createDataFrame(beta.toSeq.map {
          case (k, b) => Row.fromSeq(k.toSeq ++ b) }.asJava, schema)
        df.join(broadcast(table), keys)
          .withColumn("mu", exp(xs.zip(bCols)
            .map { case (x, b) => x * col(b) }.reduce(_ + _)))
      }
    val z = withMu
      .withColumn("z", log(col("mu")) + (col(yCol) - col("mu")) / col("mu"))
      .withColumn("w", col("mu"))
    val sums =
      (for (i <- 0 until p; j <- i until p)
        yield sum(col("w") * xs(i) * xs(j)).as(s"xx_${i}_$j")) ++
        (0 until p).map(i => sum(col("w") * xs(i) * col("z")).as(s"xy_$i"))
    z.groupBy(keys.map(col): _*).agg(sums.head, sums.tail: _*).collect()
      .map { g =>
        val a = Array.tabulate(p, p)((i, j) =>
          g.getAs[Double](s"xx_${math.min(i, j)}_${math.max(i, j)}"))
        val b = Array.tabulate(p)(i => g.getAs[Double](s"xy_$i"))
        Row.fromSeq(g.toSeq.take(keys.length)) -> LinAlg.solve(a, b)
      }.toMap
  }

  /** max |a − b| over two coefficient vectors: the convergence delta. */
  def maxDelta(a: Array[Double], b: Array[Double]): Double =
    a.zip(b).map { case (x, y) => math.abs(x - y) }.max

  /** Run IRLS to convergence for a Poisson GLM with log link: [[step]]
    * on one global group until max |Δβ| < `tol`.
    *
    * @param df    input with label column `yCol` and numeric `xCols`
    * @param yCol  non-negative integer-valued label
    * @param xCols feature columns (the intercept is added internally)
    * @param tol   stop when max |Δβ| < tol
    */
  def poissonFit(df: DataFrame, yCol: String, xCols: Seq[String],
      tol: Double = 1e-10, maxIter: Int = 25): Fit = {
    var beta = Map.empty[Row, Array[Double]]
    var delta = Double.MaxValue
    var it = 0
    while (it < maxIter && delta >= tol) {
      val next = step(df, Nil, yCol, xCols, beta)
      if (beta.nonEmpty) delta = maxDelta(next(Row()), beta(Row()))
      beta = next
      it += 1
    }
    // Loud-fail on a non-converged fit (same posture as
    // ConnectedComponents.minLabel's round cap): silently returning
    // coefficients with delta >= tol would let a caller ship a bad model.
    require(delta < tol,
      s"Poisson IRLS did not converge in $maxIter iterations " +
        s"(delta=$delta, tol=$tol); raise maxIter")
    Fit(beta(Row()), it, delta)
  }
}
