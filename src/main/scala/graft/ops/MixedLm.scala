package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Per-group sufficient statistics for a linear mixed model: everything
  * the EM fit needs about group g, reduced from the observation level in
  * ONE aggregate pass. `sxx` is the full p×p Gram matrix row-major
  * (p ≤ 4 here, so ≤16 doubles/group — group count, not row count,
  * bounds all downstream state).
  */
case class LmmGroupStats(g: String, n: Double, syy: Double,
    sxy: Array[Double], sxx: Array[Double])

/** Converged fit: fixed effects β, random-effect covariance Ψ (q×q),
  * residual variance σ², and the GLS covariance of β̂ (the REML
  * correction's ingredient, also the Wald-inference matrix).
  */
case class LmmFit(beta: Array[Double], psi: Array[Array[Double]],
    sigma2: Double, cBeta: Array[Array[Double]], iters: Int)

/** EM fitter for the Laird–Ware linear mixed model
  *
  *   y_i = X_i β + Z_i b_i + ε_i,   b_i ~ N(0, Ψ),  ε ~ N(0, σ² I)
  *
  * with Z_i a column subset of X_i (`zIdx`) — the statsmodels
  * `MixedLM(endog, exog, exog_re=..., groups=...)` surface the
  * reference's simulator fits (covid_simulator.py:456-460). REML is the
  * default, matching statsmodels' `.fit()`.
  *
  * EM derivation (E-step moments conditional on y, with β profiled by
  * GLS each iteration):
  *   Λ_i  = (Z_i'Z_i/σ² + Ψ⁻¹)⁻¹            posterior cov of b_i (given β)
  *   b̂_i  = Λ_i Z_i'(y_i − X_i β̂)/σ²          posterior mean (BLUP)
  *   β̂    = (Σ X_i'V_i⁻¹X_i)⁻¹ Σ X_i'V_i⁻¹y_i  via Woodbury:
  *          X'V⁻¹X = (Sxx − Szx'Λ Szx/σ²)/σ², X'V⁻¹y likewise
  * ML M-steps:  Ψ = (1/m) Σ (b̂b̂' + Λ);  σ² = (1/N) Σ [rss_i + tr(Λ Z'Z)]
  * REML delta (the m2b→m2c dof correction): β is integrated out rather
  * than plugged in, which inflates every E-step second moment by the
  * propagated GLS uncertainty C_β = (Σ X'V⁻¹X)⁻¹ through the chain rule
  * D_i = ∂b̂_i/∂β = −Λ_i Z_i'X_i/σ²:
  *   E[b b']  += D_i C_β D_i'
  *   E[rss_i] += tr(C_β (X_i+Z_i D_i)'(X_i+Z_i D_i))
  * With those two extra trace terms the EM fixpoint is the REML
  * estimate (Laird, Lange & Stram 1987) — at it, σ² and Ψ carry the
  * (N−p)-style degrees-of-freedom correction that plain ML lacks.
  *
  * Scale: the observation-level data is touched exactly once
  * ([[groupStats]], a single shuffle keyed by group), whose per-group
  * rows (p²+p+2 doubles each) are collected once, sorted by group key.
  * EM runs as driver loops over them: at group cardinality a Spark pass
  * per iteration buys nothing, and a fixed summation order makes the
  * fit reproducible to the last bit. The collect is capped at
  * [[MaxGroups]] and fails loud past it: at 100 TB the table is
  * #locations rows, not #observations, but nothing else bounds it.
  */
object MixedLm {

  /** The most groups [[groupStats]] collects: ~18 MB of doubles at p=4,
    * far above the reference's ~300 locations. */
  val MaxGroups = 100000

  /** One pass over `df` → per-group Gram/moment statistics, on the
    * driver, sorted by group key.
    *
    * Rows with a null in `yCol` or any of `xCols` are dropped HERE, not
    * left to the caller: `count` vs null-skipping `sum` would otherwise
    * produce an inconsistent (n, S) set — n too large relative to the
    * sums — and a silently biased fit. Listwise deletion is also what
    * statsmodels' `MixedLM(missing='drop')` does.
    */
  def groupStats(df: DataFrame, groupCol: String, yCol: String,
      xCols: Seq[String]): Array[LmmGroupStats] = {
    val p = xCols.length
    val dfc = df.na.drop(yCol +: xCols)
    val aggs =
      Seq(count(lit(1)).cast("double").as("n"),
        sum(col(yCol) * col(yCol)).as("syy")) ++
      xCols.zipWithIndex.map { case (c, i) =>
        sum(col(c) * col(yCol)).as(s"sxy_$i") } ++
      (for (i <- 0 until p; j <- 0 until p if j >= i)
        yield sum(col(xCols(i)) * col(xCols(j))).as(s"sxx_${i}_$j"))
    val grouped = dfc.groupBy(col(groupCol).cast("string").as("g"))
      .agg(aggs.head, aggs.tail: _*)
    val rows = grouped.limit(MaxGroups + 1).collect()
    require(rows.length <= MaxGroups, s"MixedLm.groupStats: ${grouped.count()} " +
      s"groups exceed the driver collect cap MaxGroups = $MaxGroups")
    rows.map { r =>
      val sxy = Array.tabulate(p)(i => r.getAs[Double](s"sxy_$i"))
      val sxx = Array.tabulate(p * p) { k =>
        val (i, j) = (k / p, k % p)
        r.getAs[Double](s"sxx_${math.min(i, j)}_${math.max(i, j)}")
      }
      LmmGroupStats(r.getAs[String]("g"), r.getAs[Double]("n"),
        r.getAs[Double]("syy"), sxy, sxx)
    }.sortBy(s => Option(s.g)) // a null key is a group too, and sorts first
  }

  /** EM(-REML) fit. `ridgeEps` (scaled by the largest Gram diagonal)
    * keeps the GLS solve defined when a covariate is constant in the
    * window — e.g. the simulator's TAVG column when the weather feed
    * is absent, or gov_action on an all-post-threshold slice.
    */
  def fitEm(stats: Array[LmmGroupStats], zIdx: Seq[Int],
      reml: Boolean = true, maxIters: Int = 200, tol: Double = 1e-9,
      ridgeEps: Double = 1e-8): LmmFit = {
    val p = dims(stats)
    val q = zIdx.length
    val zi = zIdx.toArray
    val bigN = sumOver(stats)(s => Array(s.n))(0)
    val m = stats.length.toDouble
    // init: ridged OLS β, Ψ = σ²_ols I
    val g0 = sumOver(stats)(s => s.sxx ++ s.sxy :+ s.syy)
    val sxxT = g0.slice(0, p * p); val sxyT = g0.slice(p * p, p * p + p)
    val eps = ridgeEps * math.max(1.0,
      (0 until p).map(i => sxxT(i * p + i)).max)
    val a0 = Array.tabulate(p, p)((i, j) =>
      sxxT(i * p + j) + (if (i == j) eps else 0.0))
    var beta = LinAlg.solve(a0, sxyT)
    var sigma2 = math.max(1e-12,
      (g0(p * p + p) - 2.0 * dotv(beta, sxyT) + quad(beta, sxxT, p)) / bigN)
    var psi = Array.tabulate(q, q)((i, j) => if (i == j) sigma2 else 0.0)
    // cBeta is a COVARIANCE from the first read — invert the ridged Gram
    // here so a maxIters=0 call still returns Cov(β̂)≈σ²(X'X)⁻¹-shaped
    // output, not the precision matrix.
    var cBeta = invSmall(a0).map(_.map(_ * sigma2))
    var it = 0
    var done = false
    while (it < maxIters && !done) {
      val psiInv = invSmall(psi)
      // ---- pass A: assemble the p×p GLS system Σ X'V⁻¹X, Σ X'V⁻¹y ----
      val pa = sumOver(stats) { s =>
        val lam = lambdaOf(s, zi, sigma2, psiInv)
        val szx = subRows(s.sxx, zi, p)          // q×p
        val szy = Array.tabulate(q)(i => s.sxy(zi(i)))
        val lz = matMul(lam, szx, q, q, p)       // q×p: Λ Szx
        val out = new Array[Double](p * p + p)
        var i = 0
        while (i < p) {
          var j = 0
          while (j < p) {
            var corr = 0.0
            var k = 0
            while (k < q) { corr += szx(k * p + i) * lz(k * p + j); k += 1 }
            out(i * p + j) = (s.sxx(i * p + j) - corr / sigma2) / sigma2
            j += 1
          }
          var corrY = 0.0
          var k = 0
          while (k < q) { corrY += lz(k * p + i) * szy(k); k += 1 }
          out(p * p + i) = (s.sxy(i) - corrY / sigma2) / sigma2
          i += 1
        }
        out
      }
      val aMat = Array.tabulate(p, p)((i, j) =>
        pa(i * p + j) + (if (i == j) eps / sigma2 else 0.0))
      val bVec = pa.slice(p * p, p * p + p)
      val betaN = LinAlg.solve(aMat, bVec)
      cBeta = invSmall(aMat)
      // ---- pass B: Ψ and σ² M-steps (REML adds the C_β traces) ----
      val pb = sumOver(stats) { s =>
        val lam = lambdaOf(s, zi, sigma2, psiInv)
        val szz = subSquare(s.sxx, zi, p)        // q×q
        val szx = subRows(s.sxx, zi, p)
        val (rz, bh) = blup(s, zi, lam, szx, betaN, sigma2)
        val ebb = Array.tabulate(q * q) { k =>
          val (i, j) = (k / q, k % q); bh(i) * bh(j) + lam(k)
        }
        val rss = s.syy - 2.0 * dotv(betaN, s.sxy) + quad(betaN, s.sxx, p) -
          2.0 * dotv(bh, rz) + quad(bh, szz, q)
        var k = 0
        var trLZ = 0.0
        while (k < q) {
          var l = 0
          while (l < q) { trLZ += lam(k * q + l) * szz(l * q + k); l += 1 }
          k += 1
        }
        var extra = 0.0
        if (reml) {
          // D = −Λ Szx / σ² (q×p); E[bb'] += D C_β D';
          // rss += tr(C_β (X+ZD)'(X+ZD))
          val d = matMul(lam, szx, q, q, p).map(-_ / sigma2)
          val dcb = Array.tabulate(q * p) { kk =>
            val (i, j) = (kk / p, kk % p)
            (0 until p).map(l => d(i * p + l) * cBeta(l)(j)).sum
          }
          var i = 0
          while (i < q) {
            var j = 0
            while (j < q) {
              var acc = 0.0
              var l = 0
              while (l < p) { acc += dcb(i * p + l) * d(j * p + l); l += 1 }
              ebb(i * q + j) += acc
              j += 1
            }
            i += 1
          }
          // G = Sxx + Szx'D + D'Szx + D'Szz D, extra = tr(C_β G)
          val szzd = matMul(szz, d, q, q, p) // q×p
          var ii = 0
          while (ii < p) {
            var jj = 0
            while (jj < p) {
              var gij = s.sxx(ii * p + jj)
              var kk = 0
              while (kk < q) {
                gij += szx(kk * p + ii) * d(kk * p + jj) +
                  d(kk * p + ii) * szx(kk * p + jj) +
                  d(kk * p + ii) * szzd(kk * p + jj)
                kk += 1
              }
              extra += cBeta(jj)(ii) * gij
              jj += 1
            }
            ii += 1
          }
        }
        val out = new Array[Double](q * q + 1)
        System.arraycopy(ebb, 0, out, 0, q * q)
        out(q * q) = rss + trLZ + extra
        out
      }
      val psiN = Array.tabulate(q, q)((i, j) =>
        (pb(i * q + j) + pb(j * q + i)) / (2.0 * m)) // symmetrize fp drift
      val sigma2N = math.max(1e-12, pb(q * q) / bigN)
      val delta = (0 until p).map(i => math.abs(betaN(i) - beta(i))).max
        .max(math.abs(sigma2N - sigma2) / (1.0 + sigma2))
      beta = betaN; psi = psiN; sigma2 = sigma2N
      it += 1
      if (delta < tol) done = true
    }
    LmmFit(beta, psi, sigma2, cBeta, it)
  }

  /** Per-group BLUPs at the converged fit: (g, b̂_1..b̂_q). */
  def blups(stats: Array[LmmGroupStats], fit: LmmFit,
      zIdx: Seq[Int]): Array[(String, Array[Double])] = {
    val p = dims(stats)
    val zi = zIdx.toArray
    val psiInv = invSmall(fit.psi)
    stats.map { s =>
      val lam = lambdaOf(s, zi, fit.sigma2, psiInv)
      (s.g, blup(s, zi, lam, subRows(s.sxx, zi, p), fit.beta, fit.sigma2)._2)
    }
  }

  /** One group's residual moment rz = Z'(y − Xβ) and BLUP
    * b̂ = Λ rz / σ², each inner sum taken left to right from its first
    * term. `szx` is the q×p block [[subRows]] gives.
    */
  private def blup(s: LmmGroupStats, zi: Array[Int], lam: Array[Double],
      szx: Array[Double], beta: Array[Double],
      sigma2: Double): (Array[Double], Array[Double]) = {
    val q = zi.length
    val p = beta.length
    val rz = new Array[Double](q)
    val bh = new Array[Double](q)
    var i = 0
    while (i < q) {
      var acc = szx(i * p) * beta(0)
      var j = 1
      while (j < p) { acc += szx(i * p + j) * beta(j); j += 1 }
      rz(i) = s.sxy(zi(i)) - acc
      i += 1
    }
    i = 0
    while (i < q) {
      var acc = lam(i * q) * rz(0)
      var k = 1
      while (k < q) { acc += lam(i * q + k) * rz(k); k += 1 }
      bh(i) = acc / sigma2
      i += 1
    }
    (rz, bh)
  }

  /** The covariate count p; no group is no fit. */
  private def dims(stats: Array[LmmGroupStats]): Int = {
    require(stats.nonEmpty, s"MixedLm: ${stats.length} groups to fit")
    stats.head.sxy.length
  }

  /** Σ of `f` over the groups, in the order of `stats`. */
  private def sumOver(stats: Array[LmmGroupStats])(
      f: LmmGroupStats => Array[Double]): Array[Double] = {
    val acc = f(stats.head)
    for (s <- stats.tail; (v, i) <- f(s).zipWithIndex) acc(i) += v
    acc
  }

  // ---- small dense helpers (q ≤ 2, p ≤ 4) ----

  private def dotv(a: Array[Double], b: Array[Double]): Double = {
    var acc = 0.0; var i = 0
    while (i < a.length) { acc += a(i) * b(i); i += 1 }
    acc
  }

  /** x' M x for row-major n×n M. */
  private def quad(x: Array[Double], mM: Array[Double], n: Int): Double = {
    var acc = 0.0; var i = 0
    while (i < n) {
      var j = 0
      while (j < n) { acc += x(i) * mM(i * n + j) * x(j); j += 1 }
      i += 1
    }
    acc
  }

  /** rows zi of row-major p×p → row-major q×p. */
  private def subRows(mM: Array[Double], zi: Array[Int], p: Int): Array[Double] =
    Array.tabulate(zi.length * p)(k => mM(zi(k / p) * p + k % p))

  /** q×q principal submatrix at indices zi. */
  private def subSquare(mM: Array[Double], zi: Array[Int], p: Int): Array[Double] = {
    val q = zi.length
    Array.tabulate(q * q)(k => mM(zi(k / q) * p + zi(k % q)))
  }

  /** (ra×ca)·(ca×cb) row-major. */
  private def matMul(a: Array[Double], b: Array[Double], ra: Int, ca: Int,
      cb: Int): Array[Double] =
    Array.tabulate(ra * cb) { k =>
      val (i, j) = (k / cb, k % cb)
      var acc = 0.0; var l = 0
      while (l < ca) { acc += a(i * ca + l) * b(l * cb + j); l += 1 }
      acc
    }

  /** Λ_i = (Z'Z/σ² + Ψ⁻¹)⁻¹ as a flat q×q. */
  private def lambdaOf(s: LmmGroupStats, zi: Array[Int], sigma2: Double,
      psiInv: Array[Array[Double]]): Array[Double] = {
    val q = zi.length
    val p = s.sxy.length
    val a = Array.tabulate(q, q)((i, j) =>
      s.sxx(zi(i) * p + zi(j)) / sigma2 + psiInv(i)(j))
    val inv = invSmall(a)
    Array.tabulate(q * q)(k => inv(k / q)(k % q))
  }

  /** Inverse via column-wise LinAlg.solve (n ≤ 4). */
  private def invSmall(a: Array[Array[Double]]): Array[Array[Double]] = {
    val n = a.length
    val cols = Array.tabulate(n) { j =>
      val e = new Array[Double](n); e(j) = 1.0
      LinAlg.solve(a, e)
    }
    Array.tabulate(n, n)((i, j) => cols(j)(i))
  }
}
