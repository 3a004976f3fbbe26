package graft.ops

import java.nio.ByteBuffer

/** Greenwald–Khanna ε-approximate quantile summary — the DETERMINISTIC
  * quantile sketch (no hashing, no randomness), kept as a sorted list
  * of tuples `(v, g, Δ)` where `rmin(i) = Σ_{j≤i} g_j` and
  * `rmax(i) = rmin(i) + Δ_i` bracket the true rank of `v_i`. The
  * maintained invariant is the classic one: `g_i + Δ_i ≤ 2εn` for
  * every tuple, which guarantees that for any φ a value whose true
  * rank is within `⌈εn⌉` of `⌈φn⌉` exists in the summary (GK 2001,
  * "Space-efficient online computation of quantile summaries").
  *
  * Why this sketch for the 100 TB path: an exact percentile shuffles
  * every value to one reducer per group; a GK summary is
  * O((1/ε)·log(εn)) tuples of FIXED-size state that supports both
  * map-side partial aggregation and sketch-persistence workflows
  * (serialize partials to a table today, merge tomorrow without
  * rescanning — see [[mergeWith]]/[[GkSketch.deserialize]]).
  *
  * Merge soundness (the property partial aggregation rides on): for a
  * tuple t taken from summary A during the value-ordered merge walk,
  * the union rank is bracketed by
  *   `rmin'(t) = rmin_A(t) + rmin_B(pred_B(t))`  and
  *   `rmax'(t) = rmax_A(t) + rmax_B(succ_B(t)) − 1`
  * (`+ n_B` when no successor exists) — pred/succ being B's nearest
  * tuples under/over t.v. The per-tuple uncertainty of the merged
  * summary is therefore at most `2ε·n_A + 2ε·n_B = 2ε·n`, i.e. the
  * invariant survives ANY merge topology (left-deep, bushy, shuffled
  * partial order), which is exactly what a multi-level combiner tree
  * needs. Compression after a merge re-applies the `2εn` threshold at
  * the merged `n`, so it cannot break the invariant either.
  *
  * Determinism caveat (why the registry row hashes verdict bits, not
  * estimate values): the tuple list depends on per-partition insertion
  * order and on the partial-merge order, both of which Spark does not
  * fix — two runs may return different (all within-bound) estimates.
  * The GUARANTEE is deterministic; the witness value is not.
  */
final class GkSketch(val eps: Double) extends Serializable {
  require(eps > 0 && eps < 0.5, s"eps must be in (0, 0.5), got $eps")

  private[ops] var vs: Array[Double] = new Array[Double](16)
  private[ops] var gs: Array[Long] = new Array[Long](16)
  private[ops] var ds: Array[Long] = new Array[Long](16)
  private[ops] var size: Int = 0
  private[ops] var count: Long = 0L

  // Insert buffer: amortizes the O(size) merge walk over BUF inserts.
  private val BUF = 512
  private val buf: Array[Double] = new Array[Double](BUF)
  private var bufLen: Int = 0

  /** Total values inserted (including both sides of merges). */
  def n: Long = count

  /** Number of summary tuples (diagnostic; call after [[flush]]). */
  def tupleCount: Int = { flush(); size }

  def insert(x: Double): Unit = {
    // NaN has no total-order position: it would sort to the end of the
    // buffer but poison every later comparison silently. Fail loudly.
    require(!x.isNaN, "GkSketch does not accept NaN values")
    if (bufLen == BUF) flush()
    buf(bufLen) = x
    bufLen += 1
    count += 1
  }

  /** Drain the insert buffer into the tuple list. New tuples get
    * `g = 1` and `Δ = g_succ + Δ_succ − 1` (0 at either end — a new
    * min/max has exact rank), the classic insert bound: the claimed
    * interval `[rmin(pred)+1, rmax(succ)]` always contains the true
    * rank, and the successor's own invariant caps Δ below `2εn`.
    */
  def flush(): Unit = {
    if (bufLen == 0) return
    java.util.Arrays.sort(buf, 0, bufLen)
    val nv = new Array[Double](size + bufLen)
    val ng = new Array[Long](size + bufLen)
    val nd = new Array[Long](size + bufLen)
    var i = 0; var b = 0; var k = 0
    while (i < size || b < bufLen) {
      if (b < bufLen && (i == size || buf(b) < vs(i))) {
        nv(k) = buf(b)
        ng(k) = 1L
        nd(k) = if (i == 0 || i == size) 0L else gs(i) + ds(i) - 1L
        b += 1
      } else {
        nv(k) = vs(i); ng(k) = gs(i); nd(k) = ds(i)
        i += 1
      }
      k += 1
    }
    vs = nv; gs = ng; ds = nd; size = k; bufLen = 0
    compress()
  }

  /** Merge adjacent tuples while `g_i + g_{i+1} + Δ_{i+1} ≤ ⌊2εn⌋`.
    * The first and last tuples (exact min/max) are never absorbed.
    */
  private def compress(): Unit = {
    if (size <= 2) return
    val t = (2.0 * eps * count).toLong
    var out = size - 1
    var i = size - 2
    while (i >= 1) {
      if (gs(i) + gs(out) + ds(out) <= t) {
        gs(out) += gs(i) // tuple i absorbed into its successor
      } else {
        out -= 1
        vs(out) = vs(i); gs(out) = gs(i); ds(out) = ds(i)
      }
      i -= 1
    }
    out -= 1
    vs(out) = vs(0); gs(out) = gs(0); ds(out) = ds(0)
    val ns = size - out
    System.arraycopy(vs, out, vs, 0, ns)
    System.arraycopy(gs, out, gs, 0, ns)
    System.arraycopy(ds, out, ds, 0, ns)
    size = ns
  }

  /** Absorb `o` into this sketch (value-ordered tuple-union merge; see
    * class doc for the rank-bracket construction). Leaves `o` flushed
    * but otherwise untouched; returns `this`.
    */
  def mergeWith(o: GkSketch): GkSketch = {
    flush(); o.flush()
    if (o.size == 0) return this
    if (size == 0) {
      vs = java.util.Arrays.copyOf(o.vs, o.size)
      gs = java.util.Arrays.copyOf(o.gs, o.size)
      ds = java.util.Arrays.copyOf(o.ds, o.size)
      size = o.size
      count = o.n
      return this
    }
    val ns = size + o.size
    val mv = new Array[Double](ns)
    val mg = new Array[Long](ns)
    val md = new Array[Long](ns)
    var i = 0; var j = 0; var k = 0
    var rminA = 0L; var rminB = 0L
    var prevRmin = 0L
    while (i < size || j < o.size) {
      var rmin = 0L; var rmax = 0L; var v = 0.0
      val takeA = j >= o.size || (i < size && vs(i) <= o.vs(j))
      if (takeA) {
        v = vs(i)
        rminA += gs(i)
        rmin = rminA + rminB
        val succB =
          if (j < o.size) rminB + o.gs(j) + o.ds(j) - 1L else o.n
        rmax = rminA + ds(i) + succB
        i += 1
      } else {
        v = o.vs(j)
        rminB += o.gs(j)
        rmin = rminB + rminA
        val succA = if (i < size) rminA + gs(i) + ds(i) - 1L else count
        rmax = rminB + o.ds(j) + succA
        j += 1
      }
      mv(k) = v
      mg(k) = rmin - prevRmin
      md(k) = rmax - rmin
      prevRmin = rmin
      k += 1
    }
    count += o.n
    vs = mv; gs = mg; ds = md; size = ns
    compress()
    this
  }

  /** ε-approximate φ-quantile: a stored value whose true rank is
    * within `⌈εn⌉` of `⌈φn⌉` (guaranteed to exist by the invariant;
    * defensively falls back to the bracket-midpoint-closest tuple).
    * NaN on an empty sketch.
    */
  def query(phi: Double): Double = {
    flush()
    if (size == 0) return Double.NaN
    val r = math.max(1L, math.ceil(phi * count).toLong)
    val tol = math.max(1L, math.ceil(eps * count).toLong)
    var rmin = 0L
    var best = vs(0)
    var bestGap = Long.MaxValue
    var i = 0
    while (i < size) {
      rmin += gs(i)
      val rmax = rmin + ds(i)
      if (rmin >= r - tol && rmax <= r + tol) return vs(i)
      val gap = math.max(math.abs(rmin - r), math.abs(rmax - r))
      if (gap < bestGap) { bestGap = gap; best = vs(i) }
      i += 1
    }
    best
  }

  /** Fixed little-endian layout: eps, n, size, then (v, g, Δ) triples.
    * Flushes first so the buffer never needs encoding. This is the
    * sketch-persistence surface: partials written as BINARY columns
    * merge later via [[GkSketch.deserialize]] + [[mergeWith]].
    */
  def serialize(): Array[Byte] = {
    flush()
    val bb = ByteBuffer.allocate(8 + 8 + 4 + size * 24)
    bb.putDouble(eps).putLong(count).putInt(size)
    var i = 0
    while (i < size) {
      bb.putDouble(vs(i)); bb.putLong(gs(i)); bb.putLong(ds(i))
      i += 1
    }
    bb.array()
  }
}

object GkSketch {
  def deserialize(bytes: Array[Byte]): GkSketch = {
    val bb = ByteBuffer.wrap(bytes)
    val s = new GkSketch(bb.getDouble())
    val n = bb.getLong()
    val size = bb.getInt()
    s.vs = new Array[Double](math.max(size, 16))
    s.gs = new Array[Long](math.max(size, 16))
    s.ds = new Array[Long](math.max(size, 16))
    var i = 0
    while (i < size) {
      s.vs(i) = bb.getDouble(); s.gs(i) = bb.getLong(); s.ds(i) = bb.getLong()
      i += 1
    }
    s.size = size
    s.count = n
    s
  }
}
