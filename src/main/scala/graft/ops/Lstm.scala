package graft.ops

/** Full-gradient LSTM training kernel — the one copy of the 2-unit
  * cell and its BPTT. The registry's m5b runs [[forward]] and m5c runs
  * [[lossAndGrad]] (one BPTT step on the unit-1 gates), both at
  * [[initEighths]] and both hash-proven against DuckDB recursive-CTE
  * replays; here they extend to all 32 parameters of the 2-unit cell
  * (per unit j, per gate k ∈ {i,f,g,o}: input weight a, recurrent
  * weights b (h1) and c (h2), bias d), trained by plain SGD on the m5b
  * loss L = (h1_T − 1/4)² + (h2_T + 1/4)².
  *
  * This is the piece the reference's Keras `fit` provides
  * (weather_pred.py:283-384): repeated gradient steps. Each step is a
  * pure fold over one series — on a cluster the same function runs
  * inside `mapGroups` (per-series models, the reference's shape:
  * one model per (country, state, feature)), or the per-series
  * gradients reduce through one `treeAggregate` of 32 doubles for a
  * shared model. LstmTrainingSpec proves the gradient against central
  * finite differences (the autodiff ground truth) and that the loop
  * actually trains (orders-of-magnitude loss reduction); m5c's DuckDB
  * replay proves the same backward chain bit for bit on the unit-1
  * gradients.
  */
object Lstm {

  /** Parameter index: ((j-1)*4 + gate)*4 + component; gate 0=i 1=f 2=g
    * 3=o; component 0=a(x) 1=b(h1) 2=c(h2) 3=d(bias). */
  def idx(j: Int, gate: Int, comp: Int): Int = ((j - 1) * 4 + gate) * 4 + comp

  /** m5b/m5c's fixed eighth-valued weights (exact doubles whose
    * literals their DuckDB oracles print). */
  def initEighths: Array[Double] = {
    val p = new Array[Double](32)
    for (j <- 1 to 2; g <- 0 until 4) {
      val base = j * 31 + g * 17
      p(idx(j, g, 0)) = ((base * 7) % 9 - 4) / 8.0
      p(idx(j, g, 1)) = ((base * 11) % 9 - 4) / 8.0
      p(idx(j, g, 2)) = ((base * 13) % 9 - 4) / 8.0
      p(idx(j, g, 3)) = ((base * 5) % 9 - 4) / 8.0
    }
    p
  }

  private def sig(z: Double) = 1.0 / (1.0 + math.exp(-z))
  private def tnh(z: Double) = { val e = math.exp(2 * z); (e - 1) / (e + 1) }

  /** Per-step states of the forward pass, 1-indexed by step with slot
    * 0 the zero init: `h(j-1)(t)`, `c(j-1)(t)` and the activated gate
    * `gates(j-1)(gate)(t)` of unit j. */
  final case class Forward(h: Array[Array[Double]], c: Array[Array[Double]],
      gates: Array[Array[Array[Double]]])

  /** The 2-unit cell run over `xs` from a zero state at parameters `p`. */
  def forward(xs: Array[Double], p: Array[Double]): Forward = {
    val tM = xs.length
    val h = Array.ofDim[Double](2, tM + 1)
    val c = Array.ofDim[Double](2, tM + 1)
    val gates = Array.ofDim[Double](2, 4, tM + 1) // (unit-1, gate, t)
    var t = 1
    while (t <= tM) {
      val x = xs(t - 1)
      var j = 1
      while (j <= 2) {
        var g = 0
        while (g < 4) {
          val z = ((p(idx(j, g, 0)) * x + p(idx(j, g, 1)) * h(0)(t - 1)) +
            p(idx(j, g, 2)) * h(1)(t - 1)) + p(idx(j, g, 3))
          gates(j - 1)(g)(t) = if (g == 2) tnh(z) else sig(z)
          g += 1
        }
        c(j - 1)(t) = gates(j - 1)(1)(t) * c(j - 1)(t - 1) +
          gates(j - 1)(0)(t) * gates(j - 1)(2)(t)
        h(j - 1)(t) = gates(j - 1)(3)(t) * tnh(c(j - 1)(t))
        j += 1
      }
      t += 1
    }
    Forward(h, c, gates)
  }

  /** Forward + full BPTT: returns (loss, gradient over all 32 params).
    * Targets fixed at (1/4, −1/4) as in m5b/m5c.
    */
  def lossAndGrad(xs: Array[Double], p: Array[Double])
      : (Double, Array[Double]) = {
    val tM = xs.length
    require(tM >= 1, "empty series")
    val Forward(h, c, gates) = forward(xs, p)
    val y = Array(0.25, -0.25)
    val loss = (h(0)(tM) - y(0)) * (h(0)(tM) - y(0)) +
      (h(1)(tM) - y(1)) * (h(1)(tM) - y(1))
    // backward through time, all 32 gradients
    val grad = new Array[Double](32)
    val dh = Array(2 * (h(0)(tM) - y(0)), 2 * (h(1)(tM) - y(1)))
    val dc = Array(0.0, 0.0)
    var t = tM
    while (t >= 1) {
      val x = xs(t - 1)
      val dz = Array.ofDim[Double](2, 4)
      var j = 0
      while (j < 2) {
        val (gi, gf, gg, go) = (gates(j)(0)(t), gates(j)(1)(t),
          gates(j)(2)(t), gates(j)(3)(t))
        val tc = tnh(c(j)(t))
        dz(j)(3) = (dh(j) * tc) * (go * (1 - go))
        dc(j) += (dh(j) * go) * (1 - tc * tc)
        dz(j)(0) = (dc(j) * gg) * (gi * (1 - gi))
        dz(j)(1) = (dc(j) * c(j)(t - 1)) * (gf * (1 - gf))
        dz(j)(2) = (dc(j) * gi) * (1 - gg * gg)
        j += 1
      }
      // parameter gradients
      j = 0
      while (j < 2) {
        var g = 0
        while (g < 4) {
          val d = dz(j)(g)
          grad(idx(j + 1, g, 0)) += d * x
          grad(idx(j + 1, g, 1)) += d * h(0)(t - 1)
          grad(idx(j + 1, g, 2)) += d * h(1)(t - 1)
          grad(idx(j + 1, g, 3)) += d
          g += 1
        }
        j += 1
      }
      // propagate to t-1 through the recurrent weights + forget gates
      var nh0 = 0.0; var nh1 = 0.0
      j = 0
      while (j < 2) {
        var g = 0
        while (g < 4) {
          nh0 += dz(j)(g) * p(idx(j + 1, g, 1))
          nh1 += dz(j)(g) * p(idx(j + 1, g, 2))
          g += 1
        }
        dc(j) = dc(j) * gates(j)(1)(t)
        j += 1
      }
      dh(0) = nh0; dh(1) = nh1
      t -= 1
    }
    (loss, grad)
  }

  /** Plain-SGD training loop; returns the per-step loss trace and the
    * final parameters. */
  def train(xs: Array[Double], p0: Array[Double], lr: Double,
      steps: Int): (IndexedSeq[Double], Array[Double]) = {
    val p = p0.clone()
    val trace = (0 until steps).map { _ =>
      val (loss, g) = lossAndGrad(xs, p)
      var i = 0
      while (i < 32) { p(i) -= lr * g(i); i += 1 }
      loss
    }
    (trace, p)
  }

  // =====================================================================
  // General H-unit network — the reference's architecture for real:
  // LSTM(H) → Dense(1, tanh), MSE, full-batch adam, EarlyStopping
  // (weather_pred.py:108-116 generate_model, :304-311 fit). The toy
  // 2-unit kernel above stays as the hash-proven m5b/m5c surface; this
  // is the training-to-convergence path (round-10 VERDICT task 1).
  //
  // Flat parameter vector, gate-major (gate order i,f,g,o):
  //   wx[g*H+j]               input weight, offset 0,        4H
  //   wh[(g*H+j)*H+k]         recurrent h_k→gate row, 4H,    4H²
  //   b[g*H+j]                gate bias, offset 4H+4H²,      4H
  //   wd[j]                   dense head, offset 8H+4H²,     H
  //   bd                      head bias, offset 8H+4H²+H,    1
  //
  // Scale shape: the reference trains ONE INDEPENDENT model per
  // (country, state, feature) — on a cluster that is groupByKey over
  // series + this trainer running single-threaded inside each group
  // task (embarrassingly parallel across the 250+ series; driver holds
  // nothing). For a single SHARED model over a giant corpus the batch
  // gradient is a sum over windows, i.e. one `treeAggregate` of a
  // P-sized double vector per epoch (P = 4H²+9H+1 ≈ 10.5k doubles at
  // H=50, an 84 KB reduce) — LstmTrainingSpec drives exactly that path
  // on a Spark RDD of windows.
  // =====================================================================

  /** Parameter count for an H-unit net. */
  def netSize(h: Int): Int = 4 * h * h + 9 * h + 1

  /** Deterministic Glorot-style uniform init (splitmix64 hash stream —
    * reproducible across JVMs, unlike Keras' unseeded global RNG; the
    * reference's own init is nondeterministic, see SURVEY §7.4).
    * Forget-gate biases start at 1 (Keras unit_forget_bias=True);
    * other biases 0.
    */
  def netInit(h: Int, seed: Long): Array[Double] = {
    val p = new Array[Double](netSize(h))
    var s = seed
    def next(): Double = { // splitmix64 → uniform in [-1, 1)
      s += 0x9e3779b97f4a7c15L
      var z = s
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z = z ^ (z >>> 31)
      (z >>> 11) * (1.0 / (1L << 52)) - 1.0
    }
    val limX = math.sqrt(6.0 / (1.0 + 4.0 * h)) // kernel (1, 4H)
    val limH = math.sqrt(6.0 / (h + 4.0 * h)) // recurrent (H, 4H)
    val limD = math.sqrt(6.0 / (h + 1.0)) // dense (H, 1)
    var i = 0
    while (i < 4 * h) { p(i) = next() * limX; i += 1 }
    while (i < 4 * h + 4 * h * h) { p(i) = next() * limH; i += 1 }
    // biases: zeros, forget gate (rows h..2h-1) = 1
    var j = 0
    while (j < h) { p(4 * h + 4 * h * h + h + j) = 1.0; j += 1 }
    i = 8 * h + 4 * h * h
    while (i < 8 * h + 4 * h * h + h) { p(i) = next() * limD; i += 1 }
    p
  }

  /** Forward pass over one window; returns yhat = tanh(wd·h_T + bd). */
  def netPredict(xs: Array[Double], p: Array[Double], h: Int): Double = {
    val hv = new Array[Double](h); val cv = new Array[Double](h)
    val z = new Array[Double](4 * h)
    val bOff = 4 * h + 4 * h * h
    var t = 0
    while (t < xs.length) {
      val x = xs(t)
      var r = 0
      while (r < 4 * h) {
        var acc = p(r) * x + p(bOff + r)
        val whRow = 4 * h + r * h
        var k = 0
        while (k < h) { acc += p(whRow + k) * hv(k); k += 1 }
        z(r) = acc
        r += 1
      }
      var j = 0
      while (j < h) {
        val gi = sig(z(j)); val gf = sig(z(h + j))
        val gg = tnh(z(2 * h + j)); val go = sig(z(3 * h + j))
        cv(j) = gf * cv(j) + gi * gg
        hv(j) = go * tnh(cv(j))
        j += 1
      }
      t += 1
    }
    val dOff = 8 * h + 4 * h * h
    var acc = p(dOff + h)
    var j = 0
    while (j < h) { acc += p(dOff + j) * hv(j); j += 1 }
    tnh(acc)
  }

  /** Forward + full BPTT for ONE window: accumulates ∂(yhat−y)²/∂p
    * into `grad` (caller scales for the batch mean) and returns the
    * squared error. Reusable both in a per-series local loop and
    * inside `treeAggregate` partitions.
    */
  def netWindowGrad(xs: Array[Double], y: Double, p: Array[Double],
      h: Int, grad: Array[Double]): Double = {
    val tM = xs.length
    val bOff = 4 * h + 4 * h * h
    val dOff = 8 * h + 4 * h * h
    // stored states: h/c per step (t=0..tM), gate activations per step
    val hs = Array.ofDim[Double](tM + 1, h)
    val cs = Array.ofDim[Double](tM + 1, h)
    val ga = Array.ofDim[Double](tM + 1, 4 * h) // activated gates
    var t = 1
    while (t <= tM) {
      val x = xs(t - 1)
      val hPrev = hs(t - 1)
      val zRow = ga(t)
      var r = 0
      while (r < 4 * h) {
        var acc = p(r) * x + p(bOff + r)
        val whRow = 4 * h + r * h
        var k = 0
        while (k < h) { acc += p(whRow + k) * hPrev(k); k += 1 }
        zRow(r) = acc
        r += 1
      }
      var j = 0
      while (j < h) {
        val gi = sig(zRow(j)); val gf = sig(zRow(h + j))
        val gg = tnh(zRow(2 * h + j)); val go = sig(zRow(3 * h + j))
        zRow(j) = gi; zRow(h + j) = gf
        zRow(2 * h + j) = gg; zRow(3 * h + j) = go
        cs(t)(j) = gf * cs(t - 1)(j) + gi * gg
        hs(t)(j) = go * tnh(cs(t)(j))
        j += 1
      }
      t += 1
    }
    // head: yhat = tanh(wd·h_T + bd)
    var zd = p(dOff + h)
    var j = 0
    while (j < h) { zd += p(dOff + j) * hs(tM)(j); j += 1 }
    val yhat = tnh(zd)
    val err = yhat - y
    val dzd = 2.0 * err * (1.0 - yhat * yhat)
    val dh = new Array[Double](h)
    val dc = new Array[Double](h)
    j = 0
    while (j < h) {
      grad(dOff + j) += dzd * hs(tM)(j)
      dh(j) = dzd * p(dOff + j)
      j += 1
    }
    grad(dOff + h) += dzd
    // BPTT
    val dz = new Array[Double](4 * h)
    t = tM
    while (t >= 1) {
      val x = xs(t - 1)
      val hPrev = hs(t - 1)
      val gaT = ga(t)
      var jj = 0
      while (jj < h) {
        val gi = gaT(jj); val gf = gaT(h + jj)
        val gg = gaT(2 * h + jj); val go = gaT(3 * h + jj)
        val tc = tnh(cs(t)(jj))
        dz(3 * h + jj) = (dh(jj) * tc) * (go * (1 - go))
        dc(jj) += (dh(jj) * go) * (1 - tc * tc)
        dz(jj) = (dc(jj) * gg) * (gi * (1 - gi))
        dz(h + jj) = (dc(jj) * cs(t - 1)(jj)) * (gf * (1 - gf))
        dz(2 * h + jj) = (dc(jj) * gi) * (1 - gg * gg)
        jj += 1
      }
      java.util.Arrays.fill(dh, 0.0)
      var r = 0
      while (r < 4 * h) {
        val d = dz(r)
        if (d != 0.0) {
          grad(r) += d * x
          grad(bOff + r) += d
          val whRow = 4 * h + r * h
          var k = 0
          while (k < h) {
            grad(whRow + k) += d * hPrev(k)
            dh(k) += d * p(whRow + k)
            k += 1
          }
        }
        r += 1
      }
      jj = 0
      while (jj < h) { dc(jj) *= gaT(h + jj); jj += 1 }
      t -= 1
    }
    err * err
  }

  /** Local full-batch loss+gradient (mean over windows) — the shape
    * that runs inside one group task for per-series models. */
  def netBatchGrad(wins: Seq[(Array[Double], Double)], p: Array[Double],
      h: Int): (Double, Array[Double]) = {
    val grad = new Array[Double](p.length)
    var loss = 0.0
    wins.foreach { case (xs, y) => loss += netWindowGrad(xs, y, p, h, grad) }
    val inv = 1.0 / wins.size
    var i = 0
    while (i < grad.length) { grad(i) *= inv; i += 1 }
    (loss * inv, grad)
  }

  /** Training outcome: best (restored) parameters, per-epoch training
    * loss trace, best epoch, and epochs actually run. */
  case class NetFit(params: Array[Double], lossTrace: IndexedSeq[Double],
      bestEpoch: Int, epochsRun: Int)

  /** Adam + EarlyStopping driver loop over an arbitrary full-batch
    * gradient oracle — the reference's `model.fit(epochs=500,
    * batch_size=ALL, callbacks=[EarlyStopping(monitor='loss',
    * patience=25, restore_best_weights=True)])` protocol with Keras
    * adam defaults (lr 1e-3, β₁ 0.9, β₂ 0.999, ε 1e-7). `gradFn` may
    * be a local loop ([[netBatchGrad]]) or a Spark treeAggregate —
    * the driver holds only p, m, v: 3P doubles ("8 scalars of
    * bookkeeping per weight" rounds to: p, m, v per weight plus the
    * shared step counters).
    */
  def adamTrain(p0: Array[Double],
      gradFn: Array[Double] => (Double, Array[Double]),
      epochs: Int = 500, patience: Int = 25, lr: Double = 1e-3,
      beta1: Double = 0.9, beta2: Double = 0.999,
      eps: Double = 1e-7): NetFit = {
    val p = p0.clone()
    val m = new Array[Double](p.length)
    val v = new Array[Double](p.length)
    var best = Double.MaxValue
    var bestP = p.clone()
    var bestEpoch = -1
    var sincebest = 0
    val trace = scala.collection.mutable.ArrayBuffer[Double]()
    var e = 0
    var stop = false
    while (e < epochs && !stop) {
      val (loss, g) = gradFn(p)
      trace += loss
      if (loss < best) {
        best = loss; bestP = p.clone(); bestEpoch = e; sincebest = 0
      } else {
        sincebest += 1
        if (sincebest > patience) stop = true
      }
      val b1t = 1.0 - math.pow(beta1, e + 1)
      val b2t = 1.0 - math.pow(beta2, e + 1)
      var i = 0
      while (i < p.length) {
        m(i) = beta1 * m(i) + (1 - beta1) * g(i)
        v(i) = beta2 * v(i) + (1 - beta2) * g(i) * g(i)
        p(i) -= lr * (m(i) / b1t) / (math.sqrt(v(i) / b2t) + eps)
        i += 1
      }
      e += 1
    }
    NetFit(bestP, trace.toIndexedSeq, bestEpoch, e)
  }

  /** The reference's split_sequence (weather_pred.py:91-103): all
    * length-`nSteps` windows with their next-value target. */
  def splitSequence(series: Array[Double], nSteps: Int)
      : Array[(Array[Double], Double)] =
    (0 until series.length - nSteps).map { i =>
      (series.slice(i, i + nSteps), series(i + nSteps))
    }.toArray

  /** Autoregressive future rollout (weather_pred.py:355-372): feed each
    * prediction back as the newest input. */
  def netRollout(seedWindow: Array[Double], n: Int, p: Array[Double],
      h: Int): Array[Double] = {
    var win = seedWindow.clone()
    Array.fill(n) {
      val y = netPredict(win, p, h)
      win = win.drop(1) :+ y
      y
    }
  }

  /** Per-series end-to-end training (runs inside one task): abs-max
    * normalized series in, trained net + test RMSE out. Protocol =
    * weather_pred.py: last `nTest` windows held out, early stopping on
    * TRAIN loss (the reference monitors 'loss', not val_loss), RMSE on
    * the held-out one-step predictions at the restored best weights.
    */
  def trainSeries(series: Array[Double], h: Int, nSteps: Int,
      nTest: Int, epochs: Int = 500, patience: Int = 25,
      seed: Long = 7L): (NetFit, Double) = {
    val wins = splitSequence(series, nSteps)
    require(wins.length > nTest, s"series too short: ${series.length}")
    val train = wins.dropRight(nTest).toSeq
    val test = wins.takeRight(nTest)
    val fit = adamTrain(netInit(h, seed), netBatchGrad(train, _, h),
      epochs, patience)
    val sse = test.map { case (xs, y) =>
      val d = netPredict(xs, fit.params, h) - y; d * d
    }.sum
    (fit, math.sqrt(sse / nTest))
  }
}
