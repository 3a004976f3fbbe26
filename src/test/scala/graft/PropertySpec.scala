package graft

import graft.functions.TopKAggregator
import graft.ops.Sequential
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** ScalaCheck properties for the pure kernels (SURVEY.md §5.4): the
  * algebraic laws that must hold for ANY input, complementing the
  * fixed-fixture oracle checks.
  */
class PropertySpec extends AnyFunSuite {

  private def check(p: Prop): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(200), p)
    assert(res.passed, res.status.toString)
  }

  private val rows: Gen[List[(Long, Double)]] =
    Gen.listOf(Gen.zip(Gen.choose(0L, 50L), Gen.choose(-100.0, 100.0)))

  private def refTopK(xs: List[(Long, Double)], k: Int): Seq[(Long, Double)] =
    xs.sortBy { case (id, v) => (-v, id) }.take(k)

  // ---- m34 isotonic minimax characterization --------------------------
  // The m34 registry row computes fit_i = max_{j<=i} min_{k>=i}
  // avg(y[j..k]) in SQL. This property proves that closed form IS the
  // pool-adjacent-violators solution, for arbitrary level tables.

  private def minimaxFit(s: Array[Long], n: Array[Long]): Array[Double] = {
    val m = s.length
    val sp = s.scanLeft(0L)(_ + _) // exclusive prefix sums
    val np = n.scanLeft(0L)(_ + _)
    def avg(j: Int, k: Int): Double = // inclusive levels j..k (0-based)
      (sp(k + 1) - sp(j)).toDouble / (np(k + 1) - np(j)).toDouble
    Array.tabulate(m)(i =>
      (0 to i).map(j => (i until m).map(k => avg(j, k)).min).max)
  }

  private def pavFit(s: Array[Long], n: Array[Long]): Array[Double] = {
    // classic pool-adjacent-violators on (sum, weight) blocks
    case class Block(var s: Long, var n: Long, var len: Int) {
      def avg: Double = s.toDouble / n.toDouble
    }
    val st = scala.collection.mutable.Stack[Block]()
    for (i <- s.indices) {
      var b = Block(s(i), n(i), 1)
      while (st.nonEmpty && st.top.avg >= b.avg) {
        val t = st.pop()
        b = Block(t.s + b.s, t.n + b.n, t.len + b.len)
      }
      st.push(b)
    }
    st.toList.reverse.flatMap(b => List.fill(b.len)(b.avg)).toArray
  }

  private val levelTables: Gen[(Array[Long], Array[Long])] = for {
    m <- Gen.choose(1, 12)
    ns <- Gen.listOfN(m, Gen.choose(1L, 20L))
    ss <- Gen.sequence[List[Long], Long](
      ns.map(nn => Gen.choose(0L, nn)))
  } yield (ss.toArray, ns.map(identity).toArray)

  test("m34 minimax closed form equals pool-adjacent-violators, and is " +
      "nondecreasing, for arbitrary level tables") {
    check(Prop.forAll(levelTables) { case (ss, ns) =>
      val mm = minimaxFit(ss, ns)
      val pav = pavFit(ss, ns)
      val equal = mm.zip(pav).forall { case (a, b) => math.abs(a - b) < 1e-12 }
      val monotone = mm.zip(mm.drop(1)).forall { case (a, b) => a <= b }
      equal && monotone
    })
  }

  test("TopKAggregator: reduce over any order equals sort-take reference") {
    val agg = new TopKAggregator(3)
    check(Prop.forAll(rows) { xs0 =>
      val xs = xs0.distinctBy(_._1) // ids unique per group in real use
      xs.foldLeft(agg.zero)(agg.reduce) == refTopK(xs, 3)
    })
  }

  test("TopKAggregator: merge of any split equals whole-list fold") {
    val agg = new TopKAggregator(3)
    check(Prop.forAll(rows, Gen.choose(0, 100)) { (xs0, cut) =>
      val xs = xs0.distinctBy(_._1)
      val (l, r) = xs.splitAt(cut % (xs.length + 1))
      agg.merge(
        l.foldLeft(agg.zero)(agg.reduce),
        r.foldLeft(agg.zero)(agg.reduce)) ==
        xs.foldLeft(agg.zero)(agg.reduce)
    })
  }

  private val optSeries: Gen[IndexedSeq[Option[Double]]] =
    Gen.listOf(Gen.option(Gen.choose(-50.0, 50.0))).map(_.toIndexedSeq)

  test("smoothFill: output never contains NaN and keeps length") {
    check(Prop.forAll(optSeries) { xs =>
      val out = Sequential.smoothFill(xs)
      out.length == xs.length && out.forall(v => !v.isNaN)
    })
  }

  test("smoothFill: defined edges are preserved") {
    check(Prop.forAll(optSeries) { xs =>
      xs.isEmpty || xs.forall(_.isEmpty) || {
        val out = Sequential.smoothFill(xs)
        Seq(xs.head -> 0, xs.last -> (xs.length - 1)).forall {
          case (edge, i) => edge.forall(v => out(i) == v)
        }
      }
    })
  }

  test("sirSimulate: conserves pc+pr+ps when z1 = 0") {
    // alpha*ps*pc leaves ps and enters pc; beta*pc leaves pc and enters
    // pr — with z1=0 the three-compartment sum is invariant
    val g = for {
      c0 <- Gen.choose(1.0, 100.0); r0 <- Gen.choose(0.0, 50.0)
      n0 <- Gen.choose(100.0, 1e4)
      a <- Gen.choose(1e-6, 1e-4); b <- Gen.choose(0.01, 0.5)
      len <- Gen.choose(1, 20)
    } yield (c0, r0, n0, a, b, len)
    check(Prop.forAll(g) { case (c0, r0, n0, a, b, len) =>
      val out = Sequential.sirSimulate(c0, r0, n0, a, b,
        IndexedSeq.fill(len)(0.0))
      val total0 = c0 + r0 + n0
      out.forall { case (pc, pr, ps) =>
        math.abs((pc + pr + ps) - total0) <= 1e-6 * total0
      }
    })
  }

  test("arRollout: zero weights collapse to the bias constant") {
    val g = for {
      n <- Gen.choose(1, 10)
      seed <- Gen.listOfN(n, Gen.choose(-10.0, 10.0))
      bias <- Gen.choose(-5.0, 5.0)
      steps <- Gen.choose(1, 30)
    } yield (seed.toIndexedSeq, bias, steps)
    check(Prop.forAll(g) { case (seed, bias, steps) =>
      Sequential.arRollout(seed,
        IndexedSeq.fill(seed.length)(0.0), bias, steps)
        .forall(_ == bias)
    })
  }

  // ---- band-join bucket-explode law ------------------------------------
  // BandJoinRewrite (registry row j18) replaces the |Δcents| ≤ δ theta
  // join with an equi-join on δ-width buckets (probe explodes to b−1,
  // b, b+1). This property proves the rewrite is LOSSLESS and
  // DUPLICATE-FREE for arbitrary probe/candidate multisets: any pair
  // within δ differs by at most one bucket (coverage), a candidate owns
  // exactly one bucket (exactly-once), and the post-join filter removes
  // the rest.

  test("band join: bucket-explode pairs == brute-force |Δ|<=δ pairs, " +
      "each exactly once") {
    val delta = 10L
    val cents = Gen.choose(0L, 300L)
    val g = Gen.zip(
      Gen.listOf(cents), // probe cents
      Gen.listOf(cents)) // candidate cents
    check(Prop.forAll(g) { case (probes, cands) =>
      val byBucket = cands.zipWithIndex
        .groupBy { case (c, _) => Math.floorDiv(c, delta) }
      val bucketPairs = probes.zipWithIndex.flatMap { case (p, pi) =>
        val b = Math.floorDiv(p, delta)
        Seq(b - 1, b, b + 1)
          .flatMap(k => byBucket.getOrElse(k, Nil))
          .collect { case (c, ci) if math.abs(p - c) <= delta =>
            (pi, ci) }
      }.sorted
      val brutePairs = (for {
        (p, pi) <- probes.zipWithIndex
        (c, ci) <- cands.zipWithIndex
        if math.abs(p - c) <= delta
      } yield (pi, ci)).sorted
      bucketPairs == brutePairs
    })
  }

  // ---- GifCodec LZW round trip ---------------------------------------
  // GifCodecSpec proves fixed cases against ImageIO; this property
  // proves encode∘decode = id for ARBITRARY palettes, dimensions, and
  // index streams — any width-schedule or KwKwK slip shows up as a
  // shrunk counterexample, not a lucky pass.
  test("GifCodec: encode -> decode is the identity for any indexed image") {
    import graft.ops.GifCodec
    val images: Gen[(Int, Int, Int, Long)] = for {
      w <- Gen.choose(1, 40)
      h <- Gen.choose(1, 40)
      nColors <- Gen.choose(2, 256)
      seed <- Gen.choose(Long.MinValue, Long.MaxValue)
    } yield (w, h, nColors, seed)
    check(Prop.forAll(images) { case (w, h, nColors, seed) =>
      // deterministic pseudo-random palette + indices from the seed
      // (splitmix-style mix keeps the generator pure and shrinkable)
      var s = seed
      def next(): Long = {
        s += 0x9e3779b97f4a7c15L
        var z = s
        z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
        z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
        z ^ (z >>> 31)
      }
      val pal = Array.fill(3 * nColors)((next() & 0xff).toByte)
      val idx = Array.fill(w * h)(
        (java.lang.Long.remainderUnsigned(next(), nColors)).toByte)
      val img = GifCodec.decode(GifCodec.encode(w, h, pal, idx))
      img.width == w && img.height == h &&
        img.indices.sameElements(idx) &&
        img.palette.take(3 * nColors).sameElements(pal)
    })
  }

  test("ExactNum.mulmodP/addmodP equal BigInt mod 2^61-1 on any operands") {
    import graft.ops.ExactNum.{MersenneP => P, mulmodP, addmodP}
    val bp = BigInt(P)
    // boundary pins first: the limbs/reduction edges
    for {
      a <- Seq(0L, 1L, 2L, P - 1, P - 2, P / 2, (1L << 60) - 1, 1L << 60)
      b <- Seq(0L, 1L, 2L, P - 1, P - 2, P / 2, (1L << 60) + 1)
    } {
      assert(BigInt(mulmodP(a, b)) == (BigInt(a) * BigInt(b)) % bp,
        s"mulmodP($a, $b)")
      assert(BigInt(addmodP(a, b)) == (BigInt(a) + BigInt(b)) % bp,
        s"addmodP($a, $b)")
    }
    val ops: Gen[(Long, Long)] =
      Gen.zip(Gen.choose(0L, P - 1), Gen.choose(0L, P - 1))
    check(Prop.forAll(ops) { case (a, b) =>
      BigInt(mulmodP(a, b)) == (BigInt(a) * BigInt(b)) % bp &&
        BigInt(addmodP(a, b)) == (BigInt(a) + BigInt(b)) % bp
    })
  }
}
