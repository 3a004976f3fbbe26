package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed multivariate Poisson IRLS (log link) via normal
  * equations — the closed-form engine-native counterpart of MLlib's
  * GeneralizedLinearRegression solver (the m1 reference kernel,
  * covid_simulator.py:60-94). Per iteration the ENTIRE data pass is one
  * map-side-combined aggregate producing the p(p+1)/2 upper-triangle
  * entries of XᵀWX plus the p entries of XᵀWz (p = #features incl.
  * intercept); the driver then solves the p×p system ([[LinAlg.solve]])
  * and broadcasts the next coefficient vector back as literals. Driver
  * state is O(p²) doubles — never corpus-sized — so the loop runs
  * unchanged on a 1000-executor cluster: iterations × (one shuffle of
  * 32 partial-sum rows).
  */
object Irls {

  /** Fit result: coefficient vector (intercept first, then `xCols`
    * order), iterations used, the final max |Δβ|, and whether the
    * tolerance was reached. `converged` is always true when
    * `poissonFit` runs with its default strict mode — the loose mode
    * exists only for callers that explicitly opt into inspecting a
    * partial fit.
    */
  final case class Fit(beta: Array[Double], iters: Int, delta: Double,
      converged: Boolean)

  /** Run IRLS to convergence for a Poisson GLM with log link.
    *
    * @param df    input with label column `yCol` and numeric `xCols`
    * @param yCol  non-negative integer-valued label
    * @param xCols feature columns (the intercept is added internally)
    * @param tol   stop when max |Δβ| < tol
    * Cold start mu₀ = y + 0.5 (the classic GLM initializer — the same
    * one the hash-proven m1d registry row replays in DuckDB).
    */
  def poissonFit(df: DataFrame, yCol: String, xCols: Seq[String],
      tol: Double = 1e-10, maxIter: Int = 25,
      requireConverged: Boolean = true): Fit = {
    val p = xCols.length + 1
    val xs = lit(1.0) +: xCols.map(col)
    var beta: Array[Double] = null
    var delta = Double.MaxValue
    var it = 0
    while (it < maxIter && delta >= tol) {
      val withMu =
        if (beta == null) df.withColumn("mu", col(yCol) + lit(0.5))
        else df
          .withColumn("eta",
            xs.zip(beta.toIndexedSeq).map { case (c, b) => c * lit(b) }
              .reduce(_ + _))
          .withColumn("mu", exp(col("eta")))
      val z = withMu
        .withColumn("z",
          log(col("mu")) + (col(yCol) - col("mu")) / col("mu"))
        .withColumn("w", col("mu"))
      val sums =
        (for (i <- 0 until p; j <- i until p)
          yield sum(col("w") * xs(i) * xs(j)).as(s"xx_${i}_$j")) ++
          (0 until p).map(i => sum(col("w") * xs(i) * col("z")).as(s"xy_$i"))
      val g = z.agg(sums.head, sums.tail: _*).first()
      val a = Array.tabulate(p, p)((i, j) =>
        g.getAs[Double](s"xx_${math.min(i, j)}_${math.max(i, j)}"))
      val b = Array.tabulate(p)(i => g.getAs[Double](s"xy_$i"))
      val next = LinAlg.solve(a, b)
      delta =
        if (beta == null) Double.MaxValue
        else next.zip(beta).map { case (n, o) => math.abs(n - o) }.max
      beta = next
      it += 1
    }
    // Loud-fail on a non-converged fit (same posture as
    // ConnectedComponents.minLabel's round cap): silently returning
    // coefficients with delta >= tol would let a caller ship a bad model.
    if (requireConverged) require(delta < tol,
      s"Poisson IRLS did not converge in $maxIter iterations " +
        s"(delta=$delta, tol=$tol); raise maxIter or pass " +
        "requireConverged=false to inspect the partial fit")
    Fit(beta, it, delta, converged = delta < tol)
  }
}
