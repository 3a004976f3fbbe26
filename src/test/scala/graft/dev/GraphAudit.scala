package graft.dev

import graft.GraftSession
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev-only sf1+ audit for the two graph rows whose DuckDB oracles are
  * infeasible past proof scale (g7's 4-round peel and g9's 6-level BFS
  * recursive replays spill >100 GiB at sf1 — round-15 verdict): replay
  * both computations in PURE JVM ARRAYS on the driver (no Spark SQL,
  * no Catalyst, no shuffle — a fully independent execution path, the
  * same role DuckDB plays for the other rows) and assert the registry
  * rows' outputs equal the replay exactly. On top of the replay, two
  * algebraic certificates that do not depend on EITHER implementation:
  *
  *   - g7: the synchronized-peel trace must be monotone non-increasing
  *     in nodes and edges, and the true k-core — computed by a
  *     SEQUENTIAL any-order peel (classic queue algorithm, a different
  *     peel order) — must be contained in every round's survivor set,
  *     with equality when the trace has stabilized (peel-order
  *     independence of the fixpoint);
  *   - g9: BFS level consistency over EVERY edge — reached endpoints
  *     differ by at most one level, every reached non-source node has
  *     a predecessor at level−1, and no unreached node neighbors a
  *     node at level < 6 (these properties uniquely characterize BFS
  *     levels, so they certify the replay rather than trusting it).
  *
  * Usage: Test/runMain graft.dev.GraphAudit <sfDir>
  * Prints PASS/FAIL lines; commit the log as dev/check_sf1_g7g9_*.txt.
  */
object GraphAudit {

  private var failures = 0
  private def check(name: String, ok: Boolean, detail: => String): Unit = {
    if (ok) println(s"PASS $name")
    else { failures += 1; println(s"FAIL $name: $detail") }
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = GraftSession()
    spark.sparkContext.setLogLevel("ERROR")

    auditG7(spark, dir)
    auditG9(spark, dir)

    println(if (failures == 0) "GRAPH-AUDIT ALL PASS"
            else s"GRAPH-AUDIT $failures FAILURES")
    spark.stop()
    if (failures > 0) sys.exit(1)
  }

  /** Distinct co-purchase edges (p1 < p2) as sorted packed longs —
    * Spark does only the trivially-checkable distinct+sort load; the
    * pair enumeration is a JVM loop over order groups.
    */
  private def coEdgesPacked(spark: SparkSession, dir: String): Array[Long] = {
    val op = spark.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      .distinct().orderBy("o", "p")
      .collect()
    val raw = new scala.collection.mutable.ArrayBuilder.ofLong
    var i = 0
    while (i < op.length) {
      var j = i
      while (j < op.length && op(j).getLong(0) == op(i).getLong(0)) j += 1
      var a = i
      while (a < j) {
        var b = a + 1
        while (b < j) {
          raw += (op(a).getLong(1) << 32) | op(b).getLong(1) // sorted: p1<p2
          b += 1
        }
        a += 1
      }
      i = j
    }
    val arr = raw.result()
    java.util.Arrays.sort(arr)
    // in-place dedup
    var w = 0
    var r = 0
    while (r < arr.length) {
      if (w == 0 || arr(w - 1) != arr(r)) { arr(w) = arr(r); w += 1 }
      r += 1
    }
    java.util.Arrays.copyOf(arr, w)
  }

  /** Dense node remap for a packed edge list. */
  private def remap(edges: Array[Long]): (Array[Long], Array[Int], Array[Int]) = {
    val ids = new Array[Long](edges.length * 2)
    var i = 0
    while (i < edges.length) {
      ids(2 * i) = edges(i) >>> 32
      ids(2 * i + 1) = edges(i) & 0xffffffffL
      i += 1
    }
    val uniq = ids.distinct.sorted
    def idx(v: Long): Int = java.util.Arrays.binarySearch(uniq, v)
    val us = new Array[Int](edges.length)
    val vs = new Array[Int](edges.length)
    i = 0
    while (i < edges.length) {
      us(i) = idx(edges(i) >>> 32)
      vs(i) = idx(edges(i) & 0xffffffffL)
      i += 1
    }
    (uniq, us, vs)
  }

  private def auditG7(spark: SparkSession, dir: String): Unit = {
    val t0 = System.nanoTime()
    val got = graft.Registry.queries("g7_kcore_peel")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    println(f"g7 spark side: ${(System.nanoTime() - t0) / 1e9}%.1f s")

    val k = 80
    val edges = coEdgesPacked(spark, dir)
    val (uniq, us, vs) = remap(edges)
    val n = uniq.length
    println(s"g7 graph: $n nodes, ${edges.length} undirected edges")

    // --- synchronized-round replay (pure JVM, the g7 semantics) ---
    val edgeAlive = Array.fill(edges.length)(true)
    val trace = (1 to 4).map { r =>
      val deg = new Array[Int](n)
      var i = 0
      while (i < edges.length) {
        if (edgeAlive(i)) { deg(us(i)) += 1; deg(vs(i)) += 1 }
        i += 1
      }
      val nodeAlive = deg.map(_ >= k)
      var aliveEdges = 0L
      i = 0
      while (i < edges.length) {
        if (edgeAlive(i) && !(nodeAlive(us(i)) && nodeAlive(vs(i))))
          edgeAlive(i) = false
        if (edgeAlive(i)) aliveEdges += 1
        i += 1
      }
      val incident = new Array[Boolean](n)
      i = 0
      while (i < edges.length) {
        if (edgeAlive(i)) { incident(us(i)) = true; incident(vs(i)) = true }
        i += 1
      }
      (r.toLong, incident.count(identity).toLong, aliveEdges)
    }
    check("g7 registry trace == pure-JVM synchronized-peel replay",
      got.toSeq == trace,
      s"got ${got.toSeq} want $trace")
    check("g7 trace monotone non-increasing",
      trace.sliding(2).forall {
        case Seq(a, b) => b._2 <= a._2 && b._3 <= a._3
        case _ => true
      }, trace.toString)

    // --- true k-core via SEQUENTIAL any-order peel (different order) ---
    val deg0 = new Array[Int](n)
    var i = 0
    while (i < edges.length) { deg0(us(i)) += 1; deg0(vs(i)) += 1; i += 1 }
    // CSR adjacency
    val off = new Array[Int](n + 1)
    i = 0
    while (i < n) { off(i + 1) = off(i) + deg0(i); i += 1 }
    val pos = off.clone()
    val adj = new Array[Int](edges.length * 2)
    i = 0
    while (i < edges.length) {
      adj(pos(us(i))) = vs(i); pos(us(i)) += 1
      adj(pos(vs(i))) = us(i); pos(vs(i)) += 1
      i += 1
    }
    val deg = deg0.clone()
    val inCore = Array.fill(n)(true)
    val queue = new java.util.ArrayDeque[Integer]()
    i = 0
    while (i < n) { if (deg(i) < k) queue.add(i); i += 1 }
    while (!queue.isEmpty) {
      val u = queue.poll().intValue()
      if (inCore(u)) {
        inCore(u) = false
        var j = off(u)
        while (j < off(u + 1)) {
          val v = adj(j)
          if (inCore(v)) {
            deg(v) -= 1
            if (deg(v) < k) queue.add(v)
          }
          j += 1
        }
      }
    }
    val coreNodes = (0 until n).count(inCore)
    var coreEdges = 0L
    i = 0
    while (i < edges.length) {
      if (inCore(us(i)) && inCore(vs(i))) coreEdges += 1
      i += 1
    }
    // the fixpoint is peel-order independent: the true core is inside
    // every synchronized round's survivor set…
    val survivors4 = {
      val incident = new Array[Boolean](n)
      var j = 0
      while (j < edges.length) {
        if (edgeAlive(j)) { incident(us(j)) = true; incident(vs(j)) = true }
        j += 1
      }
      incident
    }
    check("g7 true k-core (sequential peel) contained in round-4 set",
      (0 until n).forall(v => !inCore(v) || survivors4(v)),
      s"core=$coreNodes")
    // …and when the trace stabilizes, round-4 IS the k-core
    if (trace(2)._2 == trace(3)._2 && trace(2)._3 == trace(3)._3)
      check("g7 stabilized trace equals the order-independent k-core",
        trace(3)._2 == coreNodes && trace(3)._3 == coreEdges,
        s"round4=${trace(3)} core=($coreNodes, $coreEdges)")
    else println(s"NOTE g7 trace not yet stabilized at round 4 " +
      s"(round4=${trace(3)._2}/${trace(3)._3} core=$coreNodes/$coreEdges)" +
      " — containment check above still binds")
  }

  private def auditG9(spark: SparkSession, dir: String): Unit = {
    val t0 = System.nanoTime()
    val Array(gotRow) = graft.Registry.queries("g9_closeness_centrality")(
      spark, dir).collect()
    println(f"g9 spark side: ${(System.nanoTime() - t0) / 1e9}%.1f s")

    val pairs = spark.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_suppkey").as("sk"),
        (col("l_partkey") + 1000000L).as("pk"))
      .distinct().collect()
      .map(r => (r.getLong(0) << 32) | r.getLong(1))
    val (uniq, us, vs) = remap(pairs)
    val n = uniq.length
    println(s"g9 graph: $n nodes, ${pairs.length} bipartite edges")

    // CSR over both directions
    val deg = new Array[Int](n)
    var i = 0
    while (i < pairs.length) { deg(us(i)) += 1; deg(vs(i)) += 1; i += 1 }
    val off = new Array[Int](n + 1)
    i = 0
    while (i < n) { off(i + 1) = off(i) + deg(i); i += 1 }
    val pos = off.clone()
    val adj = new Array[Int](pairs.length * 2)
    i = 0
    while (i < pairs.length) {
      adj(pos(us(i))) = vs(i); pos(us(i)) += 1
      adj(pos(vs(i))) = us(i); pos(vs(i)) += 1
      i += 1
    }
    // BFS from node id 0, capped at 6 levels (the g9 protocol)
    val src = java.util.Arrays.binarySearch(uniq, 0L)
    val dist = Array.fill(n)(-1)
    if (src >= 0) {
      dist(src) = 0
      var frontier = Array(src)
      var level = 1
      while (level <= 6 && frontier.nonEmpty) {
        val next = new scala.collection.mutable.ArrayBuilder.ofInt
        for (u <- frontier) {
          var j = off(u)
          while (j < off(u + 1)) {
            val v = adj(j)
            if (dist(v) < 0) { dist(v) = level; next += v }
            j += 1
          }
        }
        frontier = next.result()
        level += 1
      }
    }
    // census + the exact double op order of the registry row
    val h = new Array[Long](7)
    var reached = 0L
    var sumDist = 0L
    i = 0
    while (i < n) {
      if (dist(i) >= 0) {
        reached += 1; sumDist += dist(i)
        if (dist(i) >= 1) h(dist(i)) += 1
      }
      i += 1
    }
    val closeness = (reached - 1).toDouble / sumDist.toDouble
    val harmonic = h(1).toDouble / 1.0 + h(2).toDouble / 2.0 +
      h(3).toDouble / 3.0 + h(4).toDouble / 4.0 + h(5).toDouble / 5.0 +
      h(6).toDouble / 6.0
    check("g9 registry row == pure-JVM BFS census (exact, incl. doubles)",
      gotRow.getLong(0) == n.toLong && gotRow.getLong(1) == reached &&
        gotRow.getLong(2) == sumDist &&
        gotRow.getDouble(3) == closeness && gotRow.getDouble(4) == harmonic,
      s"got=$gotRow want=($n, $reached, $sumDist, $closeness, $harmonic)")

    // --- BFS level certificate (implementation-independent) ---
    var edgeOk = true
    var predOk = true
    var frontierClosed = true
    i = 0
    while (i < pairs.length) {
      val du = dist(us(i)); val dv = dist(vs(i))
      if (du >= 0 && dv >= 0 && math.abs(du - dv) > 1) edgeOk = false
      if (du < 0 && dv >= 0 && dv < 6) frontierClosed = false
      if (dv < 0 && du >= 0 && du < 6) frontierClosed = false
      i += 1
    }
    i = 0
    while (i < n) {
      if (dist(i) > 0) {
        var hasPred = false
        var j = off(i)
        while (j < off(i + 1) && !hasPred) {
          if (dist(adj(j)) == dist(i) - 1) hasPred = true
          j += 1
        }
        if (!hasPred) predOk = false
      }
      i += 1
    }
    check("g9 BFS certificate: |Δlevel| <= 1 across every edge", edgeOk, "")
    check("g9 BFS certificate: every reached node has a level-1 pred",
      predOk, "")
    check("g9 BFS certificate: no unreached node borders level < 6",
      frontierClosed, "")
  }
}
