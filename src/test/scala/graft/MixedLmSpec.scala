package graft

import graft.ops.MixedLm
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Pins the EM(-REML) mixed-model fitter against the one setting where
  * REML has an exact closed form: the balanced one-way random-effects
  * ANOVA. For m groups of size n,
  *
  *   σ̂²_REML = MSW = SSW/(N−m),   τ̂²_REML = (MSB − MSW)/n,  μ̂ = ȳ..
  *
  * (Searle, Casella & McCulloch, Variance Components §3.6 — the ANOVA
  * estimators coincide with REML when MSB > MSW). Plain ML famously
  * lacks the degrees-of-freedom correction and fits a smaller τ² —
  * asserting BOTH here proves the REML delta in the EM M-steps (the
  * D C_β D' and tr(C_β G) terms of MixedLm.fitEm) is doing its job,
  * not just converging to the same place as ML.
  */
class MixedLmSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = GraftSession(4)

  override def afterAll(): Unit = spark.stop()

  private val m = 20
  private val n = 15

  // deterministic pseudo-noise (no RNG: reproducible across engines)
  private def yij(i: Int, j: Int): Double =
    10.0 + 0.7 * i + 3.0 * math.sin(7.3 * i + 1.9 * j)

  private lazy val df = {
    val rows = for (i <- 0 until m; j <- 0 until n)
      yield (s"g$i", yij(i, j), 1.0)
    import spark.implicits._
    rows.toDF("g", "y", "intercept")
  }

  private lazy val stats =
    MixedLm.groupStats(df, "g", "y", Seq("intercept")).persist()

  // closed forms, straight-line Scala
  private lazy val (msw, msb, grand) = {
    val all = for (i <- 0 until m; j <- 0 until n) yield yij(i, j)
    val gm = all.sum / all.size
    val ybars = (0 until m).map(i => (0 until n).map(yij(i, _)).sum / n)
    val ssw = (0 until m).map(i =>
      (0 until n).map(j => math.pow(yij(i, j) - ybars(i), 2)).sum).sum
    val ssb = n.toDouble * ybars.map(b => math.pow(b - gm, 2)).sum
    (ssw / (m * n - m), ssb / (m - 1), gm)
  }

  test("REML-EM hits the balanced one-way ANOVA closed form") {
    val fit = MixedLm.fitEm(stats, p = 1, zIdx = Seq(0), reml = true,
      maxIters = 2000, tol = 1e-13)
    val tau2 = (msb - msw) / n
    // the singular-covariate guard ridge (ridgeEps, needed for the
    // simulator's TAVG≡0 column) biases the GLS mean by ~eps/A ≈ 5e-7
    // relative — tolerance sits just above that, far below it unridged
    assert(math.abs(fit.beta(0) - grand) < 2e-6 * grand,
      s"mu ${fit.beta(0)} vs $grand")
    assert(math.abs(fit.sigma2 - msw) < 1e-8 * msw,
      s"sigma2 ${fit.sigma2} vs MSW $msw")
    assert(math.abs(fit.psi(0)(0) - tau2) < 1e-6 * tau2,
      s"tau2 ${fit.psi(0)(0)} vs (MSB-MSW)/n $tau2")
  }

  test("ML-EM lacks the dof correction: smaller tau2, same direction") {
    val reml = MixedLm.fitEm(stats, p = 1, zIdx = Seq(0), reml = true,
      maxIters = 2000, tol = 1e-13)
    val ml = MixedLm.fitEm(stats, p = 1, zIdx = Seq(0), reml = false,
      maxIters = 2000, tol = 1e-13)
    assert(ml.psi(0)(0) < reml.psi(0)(0))
    // balanced-case ratio ≈ (m-1)/m (exactly so if sigma2 were shared)
    val ratio = ml.psi(0)(0) / reml.psi(0)(0)
    assert(math.abs(ratio - (m - 1).toDouble / m) < 0.01,
      s"ML/REML tau2 ratio $ratio vs ${(m - 1).toDouble / m}")
  }

  test("constant-zero covariate is absorbed by the guard ridge") {
    // the simulator's TAVG column is identically 0 when the weather
    // feed is absent — the fit must stay defined (ridgeEps keeps the
    // GLS solve nonsingular) and give the dead covariate ~0 weight
    // while the live parameters land on the p=1 answers
    import spark.implicits._
    val rows = for (i <- 0 until m; j <- 0 until n)
      yield (s"g$i", yij(i, j), 1.0, 0.0)
    val df2 = rows.toDF("g", "y", "intercept", "dead")
    val st2 = MixedLm.groupStats(df2, "g", "y", Seq("intercept", "dead"))
    val fit2 = MixedLm.fitEm(st2, p = 2, zIdx = Seq(0), maxIters = 2000,
      tol = 1e-13)
    val fit1 = MixedLm.fitEm(stats, p = 1, zIdx = Seq(0), maxIters = 2000,
      tol = 1e-13)
    assert(math.abs(fit2.beta(1)) < 1e-9, s"dead coef ${fit2.beta(1)}")
    assert(math.abs(fit2.beta(0) - fit1.beta(0)) < 1e-6)
    assert(math.abs(fit2.sigma2 - fit1.sigma2) < 1e-6 * fit1.sigma2)
    assert(math.abs(fit2.psi(0)(0) - fit1.psi(0)(0)) < 1e-5 * fit1.psi(0)(0))
  }

  test("BLUPs shrink group means toward the grand mean") {
    val fit = MixedLm.fitEm(stats, p = 1, zIdx = Seq(0))
    import spark.implicits._
    val b = MixedLm.blups(stats, fit, p = 1, zIdx = Seq(0))
      .select("g", "b0").as[(String, Double)].collect().toMap
    val ybars = (0 until m).map(i =>
      s"g$i" -> (0 until n).map(yij(i, _)).sum / n).toMap
    // shrinkage factor for balanced groups: w = n tau2/(sigma2 + n tau2)
    val w = n * fit.psi(0)(0) / (fit.sigma2 + n * fit.psi(0)(0))
    ybars.foreach { case (g, yb) =>
      val expected = w * (yb - fit.beta(0))
      assert(math.abs(b(g) - expected) < 1e-6 * (1 + math.abs(expected)),
        s"$g blup ${b(g)} vs $expected")
    }
  }
}
