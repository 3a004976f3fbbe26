package graft

import graft.ops.MixedLm
import graft.pipelines.CovidSimulator
import graft.streaming.StreamReplay
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

  private lazy val stats = MixedLm.groupStats(df, "g", "y", Seq("intercept"))

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
    val fit = MixedLm.fitEm(stats, zIdx = Seq(0), reml = true,
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
    val reml = MixedLm.fitEm(stats, zIdx = Seq(0), reml = true,
      maxIters = 2000, tol = 1e-13)
    val ml = MixedLm.fitEm(stats, zIdx = Seq(0), reml = false,
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
    val fit2 = MixedLm.fitEm(st2, zIdx = Seq(0), maxIters = 2000,
      tol = 1e-13)
    val fit1 = MixedLm.fitEm(stats, zIdx = Seq(0), maxIters = 2000,
      tol = 1e-13)
    assert(math.abs(fit2.beta(1)) < 1e-9, s"dead coef ${fit2.beta(1)}")
    assert(math.abs(fit2.beta(0) - fit1.beta(0)) < 1e-6)
    assert(math.abs(fit2.sigma2 - fit1.sigma2) < 1e-6 * fit1.sigma2)
    assert(math.abs(fit2.psi(0)(0) - fit1.psi(0)(0)) < 1e-5 * fit1.psi(0)(0))
  }

  test("BLUPs shrink group means toward the grand mean") {
    val fit = MixedLm.fitEm(stats, zIdx = Seq(0))
    val b = MixedLm.blups(stats, fit, zIdx = Seq(0))
      .map { case (g, bh) => g -> bh(0) }.toMap
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

  test("fitEm and blups on the collected stats start no Spark job") {
    val st = stats // collected before the count starts
    val (b, jobs) = SparkJobs.during(spark) {
      val fit = MixedLm.fitEm(st, zIdx = Seq(0), maxIters = 2000, tol = 1e-13)
      MixedLm.blups(st, fit, zIdx = Seq(0))
    }
    assert(b.length == m)
    assert(jobs == 0, s"$jobs jobs")
  }

  test("CovidSimulator.coefficients starts at most 3 jobs, whatever the EM " +
      "iteration count") {
    import spark.implicits._
    val xs = Seq("Intercept", "gov_action", "TAVG", "lag_confirmed")
    // 8 states × 30 days, per-state intercept and lag slope; TAVG ≡ 0 as
    // when the weather feed is absent
    val rows = for (st <- 0 until 8; d <- 0 until 30) yield {
      val lag = 5.0 + 3.0 * d + 2.0 * st
      val ga = if (d >= 15) 1.0 else 0.0
      val y = 1.0 + 0.2 * st + (0.05 + 0.01 * (st % 3)) * lag - 0.5 * ga +
        math.sin(1.3 * st + 0.7 * d)
      (s"s$st", 1, 0, y, 1.0, ga, 0.0, lag)
    }
    val feats = rows.toDF("state" +: "removed" +: "holdout" +: "d_removed" +: xs: _*)
    val (coefs, jobs) = SparkJobs.during(spark)(CovidSimulator.coefficients(feats))
    // the same fit outside the count: EM takes many passes, each of
    // which used to start two jobs
    val iters = MixedLm.fitEm(MixedLm.groupStats(feats, "state", "d_removed", xs),
      zIdx = Seq(0, 3)).iters
    info(s"$jobs jobs at $iters EM iterations")
    assert(iters > 1, s"$iters EM iterations")
    assert(jobs >= 1 && jobs <= 3, s"$jobs jobs at $iters EM iterations")
    assert(coefs.count() == 8)
  }

  test("the fit is bit-identical at 1 and 7 shuffle partitions over " +
      "shuffled input rows") {
    import spark.implicits._
    val rows = new scala.util.Random(11).shuffle(
      for (i <- 0 until m; j <- 0 until n) yield (s"g$i", yij(i, j), 1.0, (j % 4).toDouble))
    val input = rows.toDF("g", "y", "intercept", "x")
    def fitAt(parts: Int) = StreamReplay.withShufflePartitions(spark, parts) {
      val st = MixedLm.groupStats(input, "g", "y", Seq("intercept", "x"))
      val fit = MixedLm.fitEm(st, zIdx = Seq(0), maxIters = 2000, tol = 1e-13)
      (fit, MixedLm.blups(st, fit, zIdx = Seq(0)).map { case (g, b) => (g, b.toSeq) }.toSeq)
    }
    val (f1, b1) = fitAt(1)
    val (f7, b7) = fitAt(7)
    assert(f1.beta.toSeq == f7.beta.toSeq)
    assert(f1.psi.map(_.toSeq).toSeq == f7.psi.map(_.toSeq).toSeq)
    assert(f1.sigma2 == f7.sigma2)
    assert(f1.iters == f7.iters)
    assert(b1 == b7)
  }

  test("past MaxGroups groups, and at zero groups, the fit fails loud with " +
      "the group count") {
    def keyed(nGroups: Long) = spark.range(nGroups)
      .select(col("id").as("g"), lit(1.0).as("y"), lit(1.0).as("intercept"))
    assert(MixedLm.groupStats(keyed(MixedLm.MaxGroups), "g", "y", Seq("intercept"))
      .length == MixedLm.MaxGroups)
    val over = intercept[IllegalArgumentException](
      MixedLm.groupStats(keyed(MixedLm.MaxGroups + 1L), "g", "y", Seq("intercept")))
    assert(over.getMessage.contains(s"${MixedLm.MaxGroups + 1} groups") &&
      over.getMessage.contains(s"MaxGroups = ${MixedLm.MaxGroups}"), over.getMessage)
    val none = MixedLm.groupStats(keyed(0), "g", "y", Seq("intercept"))
    assert(none.isEmpty)
    val noFit = intercept[IllegalArgumentException](MixedLm.fitEm(none, zIdx = Seq(0)))
    assert(noFit.getMessage.contains("0 groups"), noFit.getMessage)
    val fit = MixedLm.fitEm(stats, zIdx = Seq(0))
    val noBlups = intercept[IllegalArgumentException](MixedLm.blups(none, fit, zIdx = Seq(0)))
    assert(noBlups.getMessage.contains("0 groups"), noBlups.getMessage)
  }
}
