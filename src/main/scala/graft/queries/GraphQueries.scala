package graft.queries

import graft.Q
import graft.ops.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Graph analytics over the testdata (SURVEY.md §2.8b): PageRank on the
  * supplier–part supply graph. Component clustering (the other core
  * graph op) lives with the dedup family — `ops/ConnectedComponents`
  * under d9/d10.
  */
object GraphQueries {

  /** Distinct part co-purchase edges (p1 < p2) — the graph g3-g6 share.
    * The regenerated sf0.1 fixture yields 20k nodes / 1.196M edges,
    * near-REGULAR (avg deg 120, max 222): no power-law skew to prune
    * against, so wedge work is dense everywhere and kernel efficiency
    * (below) matters more than orientation skew bounds.
    */
  /** The DISTINCT co-purchase edge set (p1 < p2). Every g-row starts
    * here, so at decade scales the rebuild (self-join + two DISTINCTs
    * over the full lineitem scan) is a shared floor — at 100× it was
    * most of g5b's 64.4 s. A dataset dir MAY carry the edge set as a
    * MATERIALIZED VIEW (`co_edges.parquet`, built once per scale by
    * the decade probe — the production posture for a shared
    * intermediate at 100 TB); when present it is read instead of
    * recomputed. The committed testdata dirs never carry it, so every
    * driver-gate verification still executes the full derivation, and
    * the MV writer derives the file with THIS function, so the two
    * paths are definitionally equal.
    */
  private[graft] def coEdges(s: SparkSession, dir: String): DataFrame = {
    val mv = new java.io.File(s"$dir/co_edges.parquet")
    if (mv.exists()) return s.read.parquet(mv.getPath)
    val op = Tables.load(s, dir, "lineitem")
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      .distinct()
    op.as("a").join(op.as("b"), Seq("o"))
      .filter(col("a.p") < col("b.p"))
      .select(col("a.p").as("p1"), col("b.p").as("p2"))
      .distinct()
      .localCheckpoint()
  }

  /** The oracle's `op`/`e0` CTEs of [[coEdges]], opening `WITH`:
    * distinct co-purchase edges (p1 < p2). */
  private val duckCoEdges: String =
    """WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
                        FROM lineitem),
            e0 AS (SELECT DISTINCT a.p AS p1, b.p AS p2
                   FROM op a JOIN op b ON a.o = b.o AND a.p < b.p)"""

  /** [[duckCoEdges]] plus the `deg` CTE of [[degrees]]. */
  private val duckCoEdgeDegrees: String = duckCoEdges +
    """,
            deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
                      SELECT p1 AS node FROM e0
                      UNION ALL
                      SELECT p2 AS node FROM e0)
                    GROUP BY node)"""

  /** g2's and g9's symmetrized supplier–part edges (src, dst), parts
    * offset by 10^6 to share one id space. */
  private def supplierPartEdges(s: SparkSession, dir: String): DataFrame = {
    val pairs = Tables.load(s, dir, "lineitem")
      .select(col("l_suppkey").as("sk"),
        (col("l_partkey") + 1000000L).as("pk"))
      .distinct()
    pairs.select(col("sk").as("src"), col("pk").as("dst"))
      .unionByName(pairs.select(col("pk").as("src"), col("sk").as("dst")))
      .localCheckpoint()
  }

  /** The oracle of [[supplierPartEdges]] (`e0`, `edges`) and its `nodes`. */
  private val duckSupplierPartNodes: String =
    """e0 AS (
              SELECT DISTINCT l_suppkey AS sk, l_partkey + 1000000 AS pk
              FROM lineitem),
            edges AS (
              SELECT sk AS src, pk AS dst FROM e0
              UNION ALL
              SELECT pk AS src, sk AS dst FROM e0),
            nodes AS (SELECT DISTINCT src AS node FROM edges)"""

  /** `n` Bellman-Ford rounds over `edges` as CTEs d1 … dn, each relaxing
    * the previous round's (node, dist) table: dist' = least(dist, min
    * over in-neighbors (dist) + 1). d0 is the caller's. */
  private def duckBfsRounds(n: Int): String = (1 to n).map { k =>
    s"""d$k AS (SELECT d.node, least(d.dist, nb.nd) AS dist
                   FROM d${k - 1} d LEFT JOIN (
                     SELECT e.dst AS node, min(dd.dist) + 1 AS nd
                     FROM edges e JOIN d${k - 1} dd ON e.src = dd.node
                     WHERE dd.dist IS NOT NULL GROUP BY e.dst) nb
                   ON d.node = nb.node)"""
  }.mkString(",\n            ")

  private def degrees(e0: DataFrame): DataFrame =
    e0.select(col("p1").as("node"))
      .unionByName(e0.select(col("p2").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))

  /** Nodes up to this count join as an explicit broadcast (16-byte
    * (node, deg) rows: 4M ≈ 64 MB payload). The edge×degree and peel
    * alive-set joins otherwise sit exactly at AQE's build-side decision
    * boundary under full-bench cache pressure, and the run-to-run flip
    * (SMJ↔BHJ) measured a 4–13 s swing on g6/g7 across rounds 8-9 —
    * pinning the statically-knowable small side removes the dominant
    * bench noise source. Size-aware like [[broadcastEdgeLimit]]: bigger
    * node sets fall back to the plain equi-join.
    */
  private val broadcastNodeLimit = 4000000L

  /** Degree table with the node count materialized once, so every
    * degree join can pin its build side size-aware. */
  private def sizedDegrees(e0: DataFrame): (DataFrame, Long) = {
    val deg = degrees(e0).localCheckpoint()
    (deg, deg.count())
  }

  private def maybeBroadcast(small: DataFrame, n: Long): DataFrame =
    if (n <= broadcastNodeLimit) broadcast(small) else small

  /** Degree-oriented edge list (src, dst, ddst): each undirected edge
    * directed from its (deg, id)-smaller endpoint, the classic triangle
    * orientation that bounds wedge fan-out by oriented OUT-degree.
    * `nNodes` pins the degree-join build side (see broadcastNodeLimit). */
  private def orientedEdges(e0: DataFrame, deg: DataFrame,
      nNodes: Long): DataFrame = {
    val withDeg = e0
      .join(maybeBroadcast(
        deg.select(col("node").as("p1"), col("deg").as("d1")), nNodes),
        Seq("p1"))
      .join(maybeBroadcast(
        deg.select(col("node").as("p2"), col("deg").as("d2")), nNodes),
        Seq("p2"))
    def before(dA: org.apache.spark.sql.Column, a: org.apache.spark.sql.Column,
        dB: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      dA < dB || (dA === dB && a < b)
    withDeg.select(
      when(before(col("d1"), col("p1"), col("d2"), col("p2")),
        col("p1")).otherwise(col("p2")).as("src"),
      when(before(col("d1"), col("p1"), col("d2"), col("p2")),
        col("p2")).otherwise(col("p1")).as("dst"),
      when(before(col("d1"), col("p1"), col("d2"), col("p2")),
        col("d2")).otherwise(col("d1")).as("ddst"))
      .localCheckpoint()
  }

  /** Exact triangle count: oriented wedges from a per-src adjacency
    * KERNEL (collect the out-neighbors sorted by the orientation order
    * (ddst, dst), emit the i<j pairs as ONE packed long per wedge in a
    * plain JVM loop), probed map-side against the BROADCAST packed
    * oriented edge set. Versus the former wedge self-join + wedge-edge
    * shuffle join (the round-7 plan), this moves ZERO wedge rows
    * through any shuffle: the only exchanges are the 1.2M-row groupBy
    * (src) and the broadcast of the 1.2M-long edge set (~10 MB) — the
    * 35M oriented wedges live and die inside their task. Same measured
    * lesson as the shingle kernel (DedupQueries.shingled): interpreted
    * HOFs and join machinery lose to a tight JVM loop on dense
    * fan-outs. Packing (u<<32)|v is exact for ids < 2^32 (part keys
    * here are ≤ 2·10^4; Spark ANSI would fail loudly on overflow).
    */
  /** Edge sets up to this many rows join as an explicit broadcast
    * (packed longs: 4M ≈ 32 MB payload); bigger graphs fall back to a
    * plain equi-join and let Catalyst/AQE pick the strategy. The wedge
    * ScaleProbe found the cliff: at 8× sf0.1 (9.6M edges) the forced
    * broadcast turned g3 from ~10 s into 77 s, while the probe-side
    * equi-join stays linear. Size-aware, not hardcoded: the choice
    * keys off the actual materialized edge count.
    */
  private val broadcastEdgeLimit = 4000000L

  private def joinEdgeSet(left: DataFrame, edgePk: DataFrame,
      nEdges: Long, joinType: String): DataFrame =
    if (nEdges <= broadcastEdgeLimit)
      left.join(broadcast(edgePk), Seq("pk"), joinType)
    else left.join(edgePk, Seq("pk"), joinType)

  private def triangleCount(s: SparkSession, orientedE: DataFrame,
      nEdges: Long): DataFrame = {
    import s.implicits._
    import graft.ops.LongBloom
    val edgePk = orientedE
      .select(shiftleft(col("src"), 32).bitwiseOR(col("dst")).as("pk"))
    // Broadcast Bloom over the edge pks, probed INSIDE the wedge kernel
    // so non-triangle wedges die in their task instead of reaching the
    // exchange. Found by the round-11 sf1wide probe: at 10× sf0.1 (12M
    // edges past the broadcast limit) the unfiltered wedge equi-join
    // shuffled ~350M longs, spilled >60 GB and filled the disk; with
    // the ~0.6%-fpp prefilter the probe side is triangles + fpp·wedges
    // (~100× smaller) and the join still confirms EXACTLY (Bloom has no
    // false negatives). Built distributed (per-partition bit arrays,
    // treeReduce OR) — the only driver/broadcast state is the bit set,
    // 16 KB–32 MB by construction (LongBloom.sizeBits).
    val nWords = LongBloom.sizeBits(nEdges) >>> 6
    val bloomBc = s.sparkContext.broadcast(
      edgePk.as[Long].rdd
        .mapPartitions { it =>
          val w = new Array[Long](nWords)
          it.foreach(LongBloom.set(w, _))
          Iterator.single(w)
        }
        .treeReduce(LongBloom.or, depth = 2))
    // Per-center kernel emits ONE primitive Array[Long] row per center,
    // exploded to rows by codegen. The former spelling flatMapped an
    // ArrayBuffer[Long] through the Dataset encoder — every one of the
    // ~35M wedge pks boxed to java.lang.Long on the way out (measured
    // round 12: 3× kernel slowdown plus GC churn that inflated LATER
    // queries in the same bench JVM). The primitive-array encoder
    // writes UnsafeArrayData with zero per-element allocation.
    val wedgePk = orientedE
      .groupBy("src")
      .agg(sort_array(collect_list(struct(col("ddst"), col("dst")))).as("xs"))
      .select(col("xs"))
      .as[Seq[(Long, Long)]]
      .mapPartitions { part =>
        val bloom = bloomBc.value
        part.map { xs =>
          val a = xs.toArray // sorted by (ddst, dst) — the orientation order
          val out = new scala.collection.mutable.ArrayBuilder.ofLong
          out.sizeHint(math.min(a.length * (a.length - 1) / 2, 1 << 16))
          var i = 0
          while (i < a.length) {
            var j = i + 1
            while (j < a.length) {
              val pk = (a(i)._2 << 32) | a(j)._2
              if (LongBloom.test(bloom, pk)) out += pk
              j += 1
            }
            i += 1
          }
          out.result()
        }
      }
      .toDF("xs")
      .select(explode(col("xs")).as("pk"))
    joinEdgeSet(wedgePk, edgePk, nEdges, "inner")
      .agg(count(lit(1)).as("n_triangles"))
  }

  /** G1 (X119, beyond the reference): PAGERANK over the bipartite
    * supplier→part graph (distinct (l_suppkey, l_partkey) pairs,
    * symmetrized so the walk is well-defined and no node dangles),
    * 3 fixed rounds of [[graft.ops.PageRank]] fixed-point arithmetic.
    * Ranks are BIGINT micro-units, so the driver hash-compare is exact
    * — no rounding tolerance — against a DuckDB oracle that unrolls
    * the same three rounds as chained CTEs (the m1d technique).
    * Part nodes are offset by 10^6 to share one id space.
    */
  private val g1 = Q(
    "g1_pagerank",
    (s, dir) => {
      val pairs = Tables.load(s, dir, "lineitem")
        .select(col("l_suppkey").as("s"),
          (col("l_partkey") + 1000000L).as("p"))
        .distinct()
      val edges = pairs.select(col("s").as("src"), col("p").as("dst"))
        .unionByName(pairs.select(col("p").as("src"), col("s").as("dst")))
      graft.ops.PageRank.run(edges, 3)
        .select(col("node").as("node_id"), col("pr"))
        .orderBy("node_id")
    },
    Some("""WITH e0 AS (
              SELECT DISTINCT l_suppkey AS src, l_partkey + 1000000 AS dst
              FROM lineitem),
            edges AS (
              SELECT src, dst FROM e0
              UNION ALL
              SELECT dst AS src, src AS dst FROM e0),
            deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
            ed AS (SELECT e.src, e.dst, d.outdeg
                   FROM edges e JOIN deg d ON e.src = d.src),
            r0 AS (SELECT src AS node, CAST(1000000000 AS BIGINT) AS r
                   FROM deg),
            i1 AS (SELECT ed.dst AS node,
                          150000000 + CAST(sum(floor(r.r * 85 /
                            (ed.outdeg * 100.0))) AS BIGINT) AS r
                   FROM ed JOIN r0 r ON ed.src = r.node GROUP BY ed.dst),
            i2 AS (SELECT ed.dst AS node,
                          150000000 + CAST(sum(floor(r.r * 85 /
                            (ed.outdeg * 100.0))) AS BIGINT) AS r
                   FROM ed JOIN i1 r ON ed.src = r.node GROUP BY ed.dst),
            i3 AS (SELECT ed.dst AS node,
                          150000000 + CAST(sum(floor(r.r * 85 /
                            (ed.outdeg * 100.0))) AS BIGINT) AS r
                   FROM ed JOIN i2 r ON ed.src = r.node GROUP BY ed.dst)
            SELECT node AS node_id, r AS pr FROM i3 ORDER BY node_id"""))

  /** G2 (X134, beyond the reference): MULTI-SOURCE BFS / k-hop
    * reachability over the same symmetrized supplier–part graph as g1
    * — the "blast radius" primitive (which parts/suppliers are within
    * k hops of a compromised source set). Three Bellman-Ford
    * relaxation rounds: dist' = least(dist, min over in-neighbors
    * (dist)+1) — all BIGINT, so the per-distance census hash-matches a
    * DuckDB oracle that unrolls the same three rounds as chained CTEs
    * (the g1/m1d technique; `least` ignores NULLs identically in both
    * engines). Scale shape per round: one src-keyed equi-join against
    * the reached frontier + one dst-keyed map-side-combined MIN —
    * the same bounded-round discipline as g1/CC, lineage truncated
    * with localCheckpoint so planning stays O(1) per round; at 1000
    * executors each round is one shuffle whose payload is (node,
    * dist) pairs, never edge payloads.
    */
  private val g2 = Q(
    "g2_bfs_khop",
    (s, dir) => {
      val edges = supplierPartEdges(s, dir)
      val nodes = edges.select(col("src").as("node")).distinct()
      var dist = nodes.withColumn("dist",
        when(col("node").isin(0L, 1L), lit(0L))).localCheckpoint()
      for (_ <- 1 to 3) {
        val nb = edges
          .join(dist.filter(col("dist").isNotNull)
            .select(col("node").as("rn"), col("dist").as("rd")),
            col("src") === col("rn"))
          .groupBy(col("dst"))
          .agg((min("rd") + 1L).as("nd"))
        dist = dist.join(nb, col("node") === col("dst"), "left")
          .select(col("node"),
            least(col("dist"), col("nd")).as("dist"))
          .localCheckpoint()
      }
      dist.groupBy(coalesce(col("dist"), lit(-1L)).as("dist"))
        .agg(count(lit(1)).as("n_nodes"))
        .orderBy("dist")
    },
    Some(s"""WITH $duckSupplierPartNodes,
            d0 AS (SELECT node,
                          CASE WHEN node IN (0, 1) THEN CAST(0 AS BIGINT)
                          END AS dist
                   FROM nodes),
            ${duckBfsRounds(3)}
            SELECT coalesce(dist, -1) AS dist,
                   CAST(count(*) AS BIGINT) AS n_nodes
            FROM d3 GROUP BY 1 ORDER BY 1"""))

  /** G3 (X149, beyond the reference): TRIANGLE COUNTING with
    * degree-ordered orientation — the standard scalable algorithm
    * (each undirected edge directed from the (degree, id)-smaller to
    * the (degree, id)-larger endpoint, so every triangle is counted
    * exactly once and the wedge fan-out per node is bounded by the
    * oriented out-degree, O(√m) on skewed graphs instead of the max
    * raw degree). Graph: part co-purchase (edge = two parts share an
    * order). Pipeline: distinct (order, part) pairs → per-order
    * self-join (p1 < p2) → distinct edges → degree roll-up → orient →
    * wedge self-join on the shared center → hash-join wedges against
    * oriented edges. All counts BIGINT, zero FP. Scale: the wedge join
    * is the cost center and the orientation is precisely what keeps it
    * polynomial on power-law graphs; every join is equi-keyed (center
    * node, then (v,w) pair), so the whole count is three shuffles
    * regardless of graph size.
    */
  private val g3 = Q(
    "g3_triangle_count",
    (s, dir) => {
      val e0 = coEdges(s, dir)
      val (deg, nNodes) = sizedDegrees(e0)
      val oriented = orientedEdges(e0, deg, nNodes)
      val nEdges = e0.count()
      triangleCount(s, oriented, nEdges)
        .select(lit(nNodes).as("n_nodes"), lit(nEdges).as("n_edges"),
          col("n_triangles"))
    },
    Some(duckCoEdgeDegrees + """,
            oriented AS (
              SELECT CASE WHEN d1.deg < d2.deg
                            OR (d1.deg = d2.deg AND p1 < p2)
                          THEN p1 ELSE p2 END AS src,
                     CASE WHEN d1.deg < d2.deg
                            OR (d1.deg = d2.deg AND p1 < p2)
                          THEN p2 ELSE p1 END AS dst,
                     CASE WHEN d1.deg < d2.deg
                            OR (d1.deg = d2.deg AND p1 < p2)
                          THEN d2.deg ELSE d1.deg END AS ddst
              FROM e0
              JOIN deg d1 ON e0.p1 = d1.node
              JOIN deg d2 ON e0.p2 = d2.node),
            wedges AS (
              SELECT x.dst AS v, y.dst AS w
              FROM oriented x JOIN oriented y ON x.src = y.src
              WHERE x.ddst < y.ddst
                 OR (x.ddst = y.ddst AND x.dst < y.dst))
            SELECT (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_nodes,
                   (SELECT CAST(count(*) AS BIGINT) FROM e0) AS n_edges,
                   (SELECT CAST(count(*) AS BIGINT)
                    FROM wedges JOIN oriented
                      ON v = src AND w = dst) AS n_triangles"""))

  /** G4 (beyond the reference): degree assortativity of the part
    * co-purchase graph — Pearson correlation of endpoint degrees over
    * the symmetrized edge list. Because the symmetrized x and y
    * marginals are identical, the usual sqrt cancels and
    * r = (n·Σxy − (Σx)²) / (n·Σx² − (Σx)²) over EXACT sufficient
    * statistics: one IEEE division at the very end, everything before
    * it exact. Same bounded pipeline as g3 (distinct edges → degree
    * roll-up → one join back). The n·Σ PRODUCTS run in DECIMAL(38,0):
    * the sums themselves fit int64 far past this SF, but n·Σxy is
    * ~8·edges²·deg² and crossed 2⁶³ at 10× — the round-15 sf1 audit
    * caught Spark's ANSI overflow there (the r14 scaladoc claimed
    * ~100× headroom for the SUMS and missed the products). num/den
    * are reported as doubles (both engines round the same exact
    * integer); r is NULL on a degree-regular graph (den = 0) instead
    * of an ANSI divide-by-zero.
    */
  private val g4 = Q(
    "g4_degree_assortativity",
    (s, dir) => {
      val e0 = coEdges(s, dir)
      val deg = degrees(e0)
      val withDeg = e0
        .join(deg.select(col("node").as("p1"), col("deg").as("d1")), Seq("p1"))
        .join(deg.select(col("node").as("p2"), col("deg").as("d2")), Seq("p2"))
      withDeg.agg(
        (count(lit(1)) * 2L).as("n"),
        sum(col("d1") + col("d2")).as("sx"),
        sum(col("d1") * col("d1") + col("d2") * col("d2")).as("sxx"),
        sum(lit(2L) * col("d1") * col("d2")).as("sxy"))
        .select(
          (col("n") / lit(2L)).cast("long").as("n_edges"),
          (col("n").cast("decimal(19,0)") * col("sxy").cast("decimal(19,0)")
            - col("sx").cast("decimal(19,0)") * col("sx").cast("decimal(19,0)"))
            .cast("double").as("num"),
          (col("n").cast("decimal(19,0)") * col("sxx").cast("decimal(19,0)")
            - col("sx").cast("decimal(19,0)") * col("sx").cast("decimal(19,0)"))
            .cast("double").as("den"))
        .withColumn("assortativity",
          when(col("den") =!= 0.0, col("num") / col("den")))
    },
    Some(duckCoEdgeDegrees + """,
            wd AS (SELECT d1.deg AS d1, d2.deg AS d2
                   FROM e0 JOIN deg d1 ON e0.p1 = d1.node
                           JOIN deg d2 ON e0.p2 = d2.node),
            stats AS (
              SELECT CAST(count(*) * 2 AS BIGINT) AS n,
                     CAST(sum(d1 + d2) AS BIGINT) AS sx,
                     CAST(sum(d1 * d1 + d2 * d2) AS BIGINT) AS sxx,
                     CAST(sum(2 * d1 * d2) AS BIGINT) AS sxy
              FROM wd)
            SELECT CAST(n / 2 AS BIGINT) AS n_edges,
                   CAST(CAST(n AS DECIMAL(19,0)) * sxy - CAST(sx AS
                     DECIMAL(19,0)) * sx AS DOUBLE) AS num,
                   CAST(CAST(n AS DECIMAL(19,0)) * sxx - CAST(sx AS
                     DECIMAL(19,0)) * sx AS DOUBLE) AS den,
                   CASE WHEN CAST(n AS DECIMAL(19,0)) * sxx
                          <> CAST(sx AS DECIMAL(19,0)) * sx THEN
                     CAST(CAST(n AS DECIMAL(19,0)) * sxy - CAST(sx AS
                       DECIMAL(19,0)) * sx AS DOUBLE) /
                     CAST(CAST(n AS DECIMAL(19,0)) * sxx - CAST(sx AS
                       DECIMAL(19,0)) * sx AS DOUBLE) END AS assortativity
            FROM stats"""))

  /** G5 (beyond the reference): common-neighbors link prediction —
    * score every non-adjacent part pair by how many co-purchase
    * neighbors they share, report the top 20. Exact common-neighbor
    * counting must see every wedge (147.8M here — unlike triangles,
    * orientation cannot shrink it, and endpoint-degree pruning is
    * vacuous on this near-regular graph where every node has deg ≥ 32
    * but the top-20 score is only 9-11), so the design goal is moving
    * the wedges as cheaply as possible:
    *   - wedges come from the same per-center adjacency KERNEL as
    *     [[triangleCount]] — a JVM loop emitting ONE packed long per
    *     wedge, no join machinery (measured 3.7× over the wedge
    *     self-join + 2-col groupBy this replaces: 104 s → 28 s cold at
    *     sf0.1);
    *   - the single-long groupBy is the only wedge-sized shuffle;
    *   - `cn ≥ 2` pre-filter before the anti-join (75M of the 101M
    *     distinct pairs are cn=1 noise that cannot reach a top-20
    *     whose scores are ≥ 2; if a corpus ever had < 20 such pairs
    *     the row would return < 20 rows and the driver hash-compare
    *     against the unfiltered oracle fails loudly);
    *   - the 1.2M-edge set BROADCASTS (packed longs, ~10 MB) so the
    *     anti-join and the top-20 selection are map-side — no second
    *     pair-sized shuffle.
    *
    * DECADE POSTURE (round 16, measured): 12.3 s at sf0.1, 112 s at
    * 10×, 548.9 s at 30× (4.43B wedges — parity with round 15 after
    * the WedgeKernel streaming fix). At 100× the EXACT row's one
    * pair shuffle is ~14.8B packed longs ≈ 118 GB — more than this
    * single host can hold in EITHER storage tier (tmpfs shuffle = RAM:
    * the kernel OOM-killed the JVM after 92 GB of map output; disk
    * has 79 GB free) — so the ONE-SHOT plan cannot complete here by
    * capacity arithmetic, not plan shape. Round 17 CLOSED that
    * asterisk: [[g5Exact]] with waves = 3 bounds peak shuffle to ~1/3
    * of the pair volume and the exact row COMPLETED at 100× on this
    * host — 1549.6 s, 3 sequential waves, identical top-20 contract
    * (`dev/g5waves_m100_r17.log`, `g5_link_prediction_waved` in
    * `dev/bench_decade_m100.json`; GraphWavedSpec pins waved ==
    * one-shot). A cluster with ≥120 GB aggregate shuffle capacity
    * still clears the one-shot plan — the wave knob trades K× kernel
    * CPU for a 1/K shuffle footprint when the tier, not the plan, is
    * the bound. The cheap audit path remains [[g5b]].
    */
  /** The exact g5 plan, optionally WAVE-STAGED (round-16 verdict ask
    * #2 — the one row whose exact form had never RUN at 100× on this
    * host). `waves = 1` is the registry plan verbatim. With K > 1 the
    * pair aggregate runs as K sequential driver-loop waves: wave w
    * keeps only `pk % K = w` — filtered MAP-SIDE, between the wedge
    * kernel's explode and the exchange — so each wave shuffles ~1/K of
    * the total pair volume (the 100× one-shot shuffle is ~118 GB
    * packed longs vs 92 GB usable tmpfs; K = 3 bounds the peak
    * footprint to ~40 GB). Exactness: pk is a TOTAL key of the pair,
    * so a residue class holds every wedge of its pairs and none of any
    * other pair's — per-wave counts are complete, the global top-20 is
    * the best 20 of the K disjoint exact top-20s (K·20 driver rows).
    * The kernel's wedge EMISSION re-runs per wave (K× CPU, the price
    * of never materializing the corpus-sized pair set anywhere) —
    * cheaper tiers trade that off; this host has no second tier big
    * enough. Between waves the loop drops references and forces a GC
    * so ContextCleaner frees the previous wave's shuffle files before
    * the next wave fills the tier. GraphWavedSpec pins waved ==
    * one-shot on real testdata.
    */
  private[graft] def g5Exact(s: SparkSession, dir: String,
      waves: Int = 1): DataFrame = {
    require(waves >= 1 && waves <= 64, s"waves $waves outside [1, 64]")
    val e0 = coEdges(s, dir)
    val nbr = e0.select(col("p1").as("c"), col("p2").as("x"))
      .unionByName(e0.select(col("p2").as("c"), col("p1").as("x")))
    // Hub-safe chunked kernel (round-16): ordinary centers keep the
    // measured one-primitive-array-per-center emission (same
    // no-boxing explode as [[triangleCount]]); centers past 1024
    // neighbors decompose into block-pair rows spread across tasks,
    // so a power-law hub of any degree completes instead of crashing
    // the former require(degree < 46341). Hub-free corpora keep the
    // exact round-15 one-pipeline plan (the kernel's degree pre-scan
    // decides; an unconditional checkpoint barrier measured 2.6× on
    // the 30× decade core — G5AB probe). WedgeKernelSpec pins the
    // decomposition == the unchunked kernel == brute force; the
    // kernel's pre-scan also returns Σd(d−1)/2, so g5 no longer pays
    // a second corpus-wide groupBy to size the pair shuffle.
    val (pairPk, wedgeCount) = graft.ops.WedgeKernel.pairPk(s, nbr)
    val edgePk = e0
      .select(shiftleft(col("p1"), 32).bitwiseOR(col("p2")).as("pk"))
    val nEdges = e0.count()
    // Explicit repartition BEFORE the aggregate: with ~101M distinct
    // pairs out of 148M wedges, the default plan's map-side partial
    // agg is pure waste (keys barely repeat within a task) and its
    // spill-thrash made the final agg the whole query (measured 65 s
    // for groupBy alone). Pre-shuffling the raw packed longs makes
    // the partial+final pair run AFTER the exchange on co-located
    // small partitions: 65 s → 12 s at sf0.1. The partition count
    // must scale with WEDGE volume, not executor width: a fixed
    // 2×parallelism put 23M rows in each partition at 10× (1.48B
    // wedges) and the aggregate spilled per task (round-13 sf1 run:
    // 892 s; ~2M wedges/partition restores the measured sf0.1
    // per-task shape at any scale). The wedge count comes free off
    // the kernel's checkpointed adjacency (Σd(d−1)/2), replacing the
    // second corpus-wide groupBy this query used to pay to size it.
    def topOf(pairs: DataFrame, waveWedges: Long): DataFrame = {
      val nParts = math.max(s.sparkContext.defaultParallelism * 2L,
        math.min(4096L, waveWedges / 2000000L)).toInt
      // Round-17 optimization host finding (G5Anatomy): the former
      // repartition + groupBy(pk).count HashAggregate over ~101M
      // distinct keys was ~25 s warm (151.9 s cold) — the whole query.
      // countByKeyMin sorts each post-shuffle partition's primitive
      // longs and run-length counts instead: same exchange, same exact
      // counts (spec-pinned), no per-key hash map. 27.5 s -> single
      // digits for the full row on the same host.
      // expectedRows routes oversized waves (only reachable once the
      // 4096-part cap binds) to the kernel's spillable fallback;
      // shiftrightUNSIGNED because a packed lo ≥ 2³¹ sets the sign bit
      // and the arithmetic shift would sign-extend p1 negative
      // (round-17 advice — pairPk's [0, 2³²) domain allows such ids).
      joinEdgeSet(
        graft.ops.WedgeKernel.countByKeyMin(pairs, nParts, minCount = 2L,
          expectedRows = waveWedges),
        edgePk, nEdges, "left_anti")
        .select(shiftrightunsigned(col("pk"), 32).as("p1"),
          col("pk").bitwiseAND(lit(0xffffffffL)).as("p2"),
          col("common_neighbors"))
        .orderBy(col("common_neighbors").desc, col("p1"), col("p2"))
        .limit(20)
    }
    if (waves == 1) topOf(pairPk, wedgeCount)
    else {
      val collected = (0 until waves).flatMap { w =>
        // pmod, not %: a packed pk with lo ≥ 2³¹ is a NEGATIVE long
        // whose % residue is ≤ 0 — plain % would silently drop those
        // pairs from every wave (w ≥ 0). pmod keeps the residue
        // classes an exhaustive partition of all pks.
        val top = topOf(pairPk.filter(pmod(col("pk"), lit(waves.toLong)) === w),
          wedgeCount / waves).collect()
        // drop the wave's lineage and nudge ContextCleaner so its
        // shuffle files leave the tier before the next wave needs it
        // (only worth the GC pause when a wave's shuffle is actually
        // tier-sized — ~0.8 GB+ of packed longs)
        if (wedgeCount / waves > 100000000L) {
          s.catalog.clearCache()
          System.gc()
          Thread.sleep(3000)
        }
        top
      }
      import s.implicits._
      collected
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sortBy { case (p1, p2, cn) => (-cn, p1, p2) }
        .take(20)
        .toDF("p1", "p2", "common_neighbors")
        .coalesce(1)
    }
  }

  private val g5 = Q(
    "g5_link_prediction",
    (s, dir) => g5Exact(s, dir),
    Some(duckCoEdges + """,
            nbr AS (SELECT p1 AS c, p2 AS x FROM e0
                    UNION ALL
                    SELECT p2 AS c, p1 AS x FROM e0),
            pairs AS (
              SELECT l.x AS p1, r.x AS p2,
                     CAST(count(*) AS BIGINT) AS common_neighbors
              FROM nbr l JOIN nbr r ON l.c = r.c AND l.x < r.x
              GROUP BY 1, 2)
            SELECT pr.p1, pr.p2, pr.common_neighbors
            FROM pairs pr
            WHERE NOT EXISTS (SELECT 1 FROM e0 e
                              WHERE e.p1 = pr.p1 AND e.p2 = pr.p2)
            ORDER BY pr.common_neighbors DESC, pr.p1, pr.p2
            LIMIT 20"""))

  /** G5b (X322, beyond the reference): ANCHOR-SAMPLED link-prediction
    * scoreboard — the bounded audit flavor of [[g5]], same device as
    * d25/d27/pl15 (`ops/Anchors`): a deterministic fixed-budget sample
    * of ~2000 anchor CENTERS keeps its EXACT top-5 predicted links
    * (highest common-neighbor count among non-adjacent nodes, ties by
    * candidate id). Cost is Σ_{a∈anchors} Σ_{m∈N(a)} d(m) ≈ A·d̄² —
    * FLAT in corpus size at fixed budget, vs g5's exact Σd(d−1)/2
    * wedge volume — and the anchor-edge side is small enough to
    * broadcast (size-aware), so the corpus-sized neighbor table never
    * shuffles for the probe. Corpora with ≤ 2000 nodes anchor every
    * node, so g5b there IS the full exact per-node scoreboard
    * (WedgeKernelSpec pins that equality against brute force; sf0.001
    * and sf0.01 hit this regime, making the driver oracle an exact
    * full-population check at proof scales).
    */
  private val g5b = Q(
    "g5b_link_prediction_sampled",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val e0 = coEdges(s, dir)
      val nbr = e0.select(col("p1").as("c"), col("p2").as("x"))
        .unionByName(e0.select(col("p2").as("c"), col("p1").as("x")))
      val nNodes = nbr.select(col("c")).distinct().count()
      val anchorEdges = nbr
        .filter(graft.ops.Anchors.keep(col("c"), nNodes))
        .select(col("c").as("anchor"), col("x").as("m"))
        .localCheckpoint()
      val nAnchorEdges = anchorEdges.count()
      // Round-17 opt: the former groupBy(anchor, candidate).count over
      // the ~A·d̄² probe rows is the g5 near-distinct-key HashAggregate
      // pathology in miniature (most (anchor, candidate) pairs occur a
      // handful of times). Pack the pair into one long and run the same
      // sort + run-length kernel (WedgeKernel.countByKeyMin, minCount=1
      // — every scored pair survives, identical rows). Shuffle sizing:
      // probe volume ≈ anchor-edge count × mean degree, the same ~2M
      // rows/task rule as g5.
      val nEdgesG5b = e0.count()
      val dAvg = math.max(1L, 2L * nEdgesG5b / math.max(1L, nNodes))
      val probeVol = nAnchorEdges * dAvg
      val nPartsB = math.max(s.sparkContext.defaultParallelism * 2L,
        math.min(4096L, probeVol / 2000000L)).toInt
      val packed = maybeBroadcast(anchorEdges, nAnchorEdges)
        .join(nbr.select(col("c").as("m"), col("x").as("candidate")),
          Seq("m"))
        .filter(col("candidate") =!= col("anchor"))
        .select(shiftleft(col("anchor"), 32)
          .bitwiseOR(col("candidate")).as("pk"))
      // shiftrightUNSIGNED: an anchor in [2³¹, 2³²) sign-extends under
      // the arithmetic shift and silently corrupts rows (round-17
      // advice — this path never goes through pairPk's domain check).
      val scored = graft.ops.WedgeKernel
        .countByKeyMin(packed, nPartsB, minCount = 1L,
          expectedRows = probeVol)
        .select(shiftrightunsigned(col("pk"), 32).as("anchor"),
          col("pk").bitwiseAND(lit(0xffffffffL)).as("candidate"),
          col("common_neighbors"))
        .withColumn("pk",
          shiftleft(least(col("anchor"), col("candidate")), 32)
            .bitwiseOR(greatest(col("anchor"), col("candidate"))))
      val w = Window.partitionBy("anchor")
        .orderBy(col("common_neighbors").desc, col("candidate"))
      // Adjacency filter: every scored pair has an anchor endpoint, so
      // only ANCHOR-INCIDENT edges can ever match the anti-join — the
      // filtered set is ~2·A·d̄ rows at any corpus size (vs the full
      // edge set, which leaves the broadcast regime at ~30× and turns
      // the anti-join into a corpus-sized shuffle).
      val anchorPk = e0.filter(
        graft.ops.Anchors.keep(col("p1"), nNodes) ||
          graft.ops.Anchors.keep(col("p2"), nNodes))
        .select(shiftleft(col("p1"), 32).bitwiseOR(col("p2")).as("pk"))
        .localCheckpoint()
      joinEdgeSet(scored, anchorPk, anchorPk.count(), "left_anti")
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 5)
        .select("anchor", "rk", "candidate", "common_neighbors")
        .orderBy("anchor", "rk")
    },
    Some(duckCoEdges + s""",
             nbr AS (SELECT p1 AS c, p2 AS x FROM e0
                     UNION ALL
                     SELECT p2 AS c, p1 AS x FROM e0),
             scored AS (
               SELECT ae.c AS anchor, nb.x AS candidate,
                      CAST(count(*) AS BIGINT) AS common_neighbors
               FROM nbr ae JOIN nbr nb ON ae.x = nb.c AND nb.x <> ae.c
               WHERE ${graft.ops.Anchors.keepSql("ae.c",
                 "SELECT count(DISTINCT c) FROM nbr")}
               GROUP BY 1, 2),
             nonadj AS (
               SELECT * FROM scored sc
               WHERE NOT EXISTS (SELECT 1 FROM e0 e
                 WHERE e.p1 = least(sc.anchor, sc.candidate)
                   AND e.p2 = greatest(sc.anchor, sc.candidate))),
             ranked AS (
               SELECT anchor, candidate, common_neighbors,
                 row_number() OVER (PARTITION BY anchor
                   ORDER BY common_neighbors DESC, candidate) AS rk
               FROM nonadj)
             SELECT anchor, rk, candidate, common_neighbors
             FROM ranked WHERE rk <= 5 ORDER BY anchor, rk"""))

  /** G6 (beyond the reference): global clustering coefficient —
    * 3·triangles / wedges. Triangles come from g3's degree-oriented
    * count (the polynomial-on-power-law path); the wedge denominator
    * needs NO pair enumeration at all: W = Σ_v d(v)(d(v)−1)/2 straight
    * off the degree table (d(d−1) is even, so the integer halving is
    * exact). One final IEEE division of two integers.
    */
  private val g6 = Q(
    "g6_clustering_coefficient",
    (s, dir) => {
      val e0 = coEdges(s, dir)
      val (deg, nNodes) = sizedDegrees(e0)
      val wedgeCount = deg.agg(
        sum(expr("(deg * (deg - 1)) DIV 2")).as("n_wedges"))
      triangleCount(s, orientedEdges(e0, deg, nNodes), e0.count())
        .crossJoin(broadcast(wedgeCount))
        .select(col("n_wedges"), col("n_triangles"),
          ((lit(3L) * col("n_triangles")).cast("double") /
            col("n_wedges").cast("double")).as("global_cc"))
    },
    Some(duckCoEdgeDegrees + """,
            wc AS (SELECT CAST(sum((deg * (deg - 1)) // 2) AS BIGINT)
                     AS n_wedges FROM deg),
            wd AS (SELECT e0.p1, e0.p2, d1.deg AS d1, d2.deg AS d2
                   FROM e0 JOIN deg d1 ON e0.p1 = d1.node
                           JOIN deg d2 ON e0.p2 = d2.node),
            oriented AS (
              SELECT CASE WHEN d1 < d2 OR (d1 = d2 AND p1 < p2)
                          THEN p1 ELSE p2 END AS src,
                     CASE WHEN d1 < d2 OR (d1 = d2 AND p1 < p2)
                          THEN p2 ELSE p1 END AS dst,
                     CASE WHEN d1 < d2 OR (d1 = d2 AND p1 < p2)
                          THEN d2 ELSE d1 END AS ddst
              FROM wd),
            wedges AS (
              SELECT x.dst AS v, y.dst AS w
              FROM oriented x JOIN oriented y ON x.src = y.src
              WHERE x.ddst < y.ddst
                 OR (x.ddst = y.ddst AND x.dst < y.dst)),
            tri AS (
              SELECT CAST(count(*) AS BIGINT) AS n_triangles
              FROM wedges ww JOIN oriented o
                ON ww.v = o.src AND ww.w = o.dst)
            SELECT wc.n_wedges, tri.n_triangles,
                   CAST(3 * tri.n_triangles AS DOUBLE) /
                     CAST(wc.n_wedges AS DOUBLE) AS global_cc
            FROM tri CROSS JOIN wc"""))

  /** G7 (X192, beyond the reference): K-CORE PEELING trace — 4 rounds
    * of the classical degeneracy peel (drop every node with degree < k,
    * recompute, repeat) over the co-purchase graph, k = 80 (chosen so
    * the cascade is live: secondary deletions continue for 5+ rounds on
    * this graph). Emits one (round, n_nodes, n_edges) row per round —
    * the bounded-round trace device of m1d/g1, so the iterative
    * operator is hash-verified against a DuckDB oracle that unrolls the
    * same four rounds as chained CTEs. All-integer: degrees, node and
    * edge counts — no tolerance anywhere. Scale: each round is one
    * shuffle on node id (degree agg) + two semi-joins of the edge list
    * against the shrinking alive set; per-round `localCheckpoint`
    * truncates the growing lineage exactly as ConnectedComponents does;
    * driver state is two Longs per round.
    */
  private val g7 = Q(
    "g7_kcore_peel",
    (s, dir) => {
      import s.implicits._
      val k = 80
      val eu = coEdges(s, dir)
      var e = eu.select(col("p1").as("src"), col("p2").as("dst"))
        .unionByName(eu.select(col("p2").as("src"), col("p1").as("dst")))
        .localCheckpoint()
      val trace = (1 to 4).map { r =>
        // localCheckpoint + count the alive set so both semi-joins can
        // pin their build side — the per-round AQE build-side flip on
        // these joins was the other half of the g6/g7 bench swing
        val alive = e.groupBy("src").agg(count(lit(1)).as("d"))
          .filter(col("d") >= k).select("src").localCheckpoint()
        val aliveB = maybeBroadcast(alive, alive.count())
        e = e
          .join(aliveB.withColumnRenamed("src", "ka"),
            col("src") === col("ka")).drop("ka")
          .join(aliveB.withColumnRenamed("src", "kb"),
            col("dst") === col("kb")).drop("kb")
          .localCheckpoint()
        // NOTE (round-17 opt): merging these two counts into one
        // countDistinct+count aggregate was tried and measured ~equal
        // to slightly worse (5.2-5.4 s vs 4.6 s draws): the combined
        // agg plans an Expand that pushes 2x the rows through a
        // two-phase aggregate, while count() on the checkpointed edge
        // list is nearly free. Kept as two jobs deliberately.
        (r.toLong, e.select("src").distinct().count(), e.count() / 2)
      }
      trace.toDF("round", "n_nodes", "n_edges").orderBy("round")
    },
    Some("""WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
                        FROM lineitem),
            eu AS (SELECT DISTINCT a.p AS p1, b.p AS p2
                   FROM op a JOIN op b ON a.o = b.o AND a.p < b.p),
            e0 AS (SELECT p1 AS src, p2 AS dst FROM eu
                   UNION ALL SELECT p2, p1 FROM eu),
            deg1 AS (SELECT src, count(*) AS d FROM e0 GROUP BY 1),
            alive1 AS (SELECT src FROM deg1 WHERE d >= 80),
            e1 AS (SELECT t.src, t.dst FROM e0 t
                   JOIN alive1 a ON t.src = a.src
                   JOIN alive1 b ON t.dst = b.src),
            deg2 AS (SELECT src, count(*) AS d FROM e1 GROUP BY 1),
            alive2 AS (SELECT src FROM deg2 WHERE d >= 80),
            e2 AS (SELECT t.src, t.dst FROM e1 t
                   JOIN alive2 a ON t.src = a.src
                   JOIN alive2 b ON t.dst = b.src),
            deg3 AS (SELECT src, count(*) AS d FROM e2 GROUP BY 1),
            alive3 AS (SELECT src FROM deg3 WHERE d >= 80),
            e3 AS (SELECT t.src, t.dst FROM e2 t
                   JOIN alive3 a ON t.src = a.src
                   JOIN alive3 b ON t.dst = b.src),
            deg4 AS (SELECT src, count(*) AS d FROM e3 GROUP BY 1),
            alive4 AS (SELECT src FROM deg4 WHERE d >= 80),
            e4 AS (SELECT t.src, t.dst FROM e3 t
                   JOIN alive4 a ON t.src = a.src
                   JOIN alive4 b ON t.dst = b.src)
            SELECT CAST(1 AS BIGINT) AS round,
                   CAST(count(DISTINCT src) AS BIGINT) AS n_nodes,
                   CAST(count(*) // 2 AS BIGINT) AS n_edges FROM e1
            UNION ALL
            SELECT CAST(2 AS BIGINT),
                   CAST(count(DISTINCT src) AS BIGINT),
                   CAST(count(*) // 2 AS BIGINT) FROM e2
            UNION ALL
            SELECT CAST(3 AS BIGINT),
                   CAST(count(DISTINCT src) AS BIGINT),
                   CAST(count(*) // 2 AS BIGINT) FROM e3
            UNION ALL
            SELECT CAST(4 AS BIGINT),
                   CAST(count(DISTINCT src) AS BIGINT),
                   CAST(count(*) // 2 AS BIGINT) FROM e4
            ORDER BY round"""))

  /** G8 (X200, beyond the reference): PRODUCT-AFFINITY CLUSTERS —
    * connected components of the STRONG co-purchase graph (part pairs
    * bought together in ≥ 2 distinct orders; the w≥2 threshold is the
    * classic noise gate that turns the near-complete raw co-purchase
    * graph into meaningful affinity structure). This row puts
    * [[graft.ops.ConnectedComponents]] — the pointer-jumping O(log d)
    * min-label engine the dedup family runs on (d9/d10) — under the
    * driver's hash gate ON A GRAPH-FAMILY INPUT: unlike the dedup
    * cliques, the thresholded affinity graph has a giant component at
    * sf0.01 (1,860 of 1,880 nodes), so the fixpoint actually exercises
    * multi-round jumping. Output: every clustered part with its
    * component label (min part id) and component size. The DuckDB
    * oracle computes the same components by recursive transitive
    * closure — Σ|component|² rows, fine at oracle scale, exactly the
    * plan the distributed min-label loop exists to avoid.
    */
  private val g8 = Q(
    "g8_affinity_components",
    (s, dir) => {
      val op = Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
        .distinct()
      val strong = op.as("a").join(op.as("b"), Seq("o"))
        .filter(col("a.p") < col("b.p"))
        .groupBy(col("a.p").as("p1"), col("b.p").as("p2"))
        .agg(count(lit(1)).as("w"))
        .filter(col("w") >= 2)
      val edgesSym = strong.select(col("p1").as("doc_a"), col("p2").as("doc_b"))
        .unionByName(
          strong.select(col("p2").as("doc_a"), col("p1").as("doc_b")))
      val (labels, _) = graft.ops.ConnectedComponents.minLabel(edgesSym)
      val sizes = labels.groupBy("lbl").agg(count(lit(1)).as("cluster_size"))
      labels.join(sizes, Seq("lbl"))
        .select(col("doc_id").as("part_id"), col("lbl").as("cluster"),
          col("cluster_size"))
        .orderBy("part_id")
    },
    Some("""WITH RECURSIVE op AS (
              SELECT DISTINCT l_orderkey AS o, l_partkey AS p
              FROM lineitem),
            strong AS (
              SELECT a.p AS p1, b.p AS p2
              FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
              GROUP BY a.p, b.p HAVING count(*) >= 2),
            edges AS (
              SELECT p1 AS src, p2 AS dst FROM strong
              UNION ALL
              SELECT p2, p1 FROM strong),
            reach(src, dst) AS (
              SELECT DISTINCT src, src FROM edges
              UNION
              SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
            comp AS (
              SELECT src AS part_id, min(dst) AS cluster
              FROM reach GROUP BY 1),
            sizes AS (
              SELECT cluster, CAST(count(*) AS BIGINT) AS cluster_size
              FROM comp GROUP BY 1)
            SELECT part_id, cluster, cluster_size
            FROM comp JOIN sizes USING (cluster)
            ORDER BY part_id"""))

  /** X224 g9: CLOSENESS + HARMONIC centrality of a hub (supplier 0) on
    * the g2 bipartite supplier–part graph — completing the centrality
    * family (PageRank eigenvector, degree assortativity, clustering,
    * k-core) with the two distance-based measures. Six Bellman-Ford
    * rounds (the graph's diameter fits; unreached nodes are REPORTED,
    * not hidden) produce an all-BIGINT distance census; closeness
    * (n_reached−1)/Σd is ONE division, and harmonic centrality is
    * rebuilt from the ≤6-bucket census as a FIXED left-associative
    * expression n₁/1 + n₂/2 + … + n₆/6 — summing six pinned doubles,
    * not |V| unordered ones, so it hash-matches exactly. Scale shape
    * per round = g2: one frontier equi-join + one map-side-combined
    * MIN, localCheckpoint truncating lineage.
    */
  private val g9 = Q(
    "g9_closeness_centrality",
    (s, dir) => {
      val edges = supplierPartEdges(s, dir)
      val nodes = edges.select(col("src").as("node")).distinct()
        .localCheckpoint()
      // FRONTIER BFS, not whole-set Bellman-Ford: each round expands
      // only the nodes first reached LAST round (anti-join drops
      // already-settled ones), so once the ~diameter-3 graph saturates,
      // rounds 4-6 join a near-empty frontier instead of re-scanning
      // every edge against every reached node. Measured at sf0.1:
      // 11.6 s (6 full-relaxation rounds) -> ~4 s. Same layers, same
      // census — BFS levels ARE the min distances.
      var reached = nodes.filter(col("node") === 0L)
        .withColumn("dist", lit(0L)).localCheckpoint()
      var frontier = reached.select(col("node"))
      for (k <- 1 to 6) {
        val next = edges
          .join(frontier.select(col("node").as("fn")),
            col("src") === col("fn"))
          .select(col("dst").as("node")).distinct()
          .join(reached.select("node"), Seq("node"), "left_anti")
          .withColumn("dist", lit(k.toLong))
          .localCheckpoint()
        reached = reached.unionByName(next).localCheckpoint()
        frontier = next.select(col("node"))
      }
      val dist = nodes.join(reached, Seq("node"), "left")
      val census = dist
        .groupBy(coalesce(col("dist"), lit(-1L)).as("d"))
        .agg(count(lit(1)).as("n"))
      def hk(k: Int) =
        sum(when(col("d") === k.toLong, col("n")).otherwise(0L))
      census.agg(
        sum("n").as("n_total"),
        sum(when(col("d") >= 0L, col("n")).otherwise(0L)).as("n_reached"),
        sum(when(col("d") >= 0L, col("d") * col("n")).otherwise(0L))
          .as("sum_dist"),
        hk(1).as("h1"), hk(2).as("h2"), hk(3).as("h3"),
        hk(4).as("h4"), hk(5).as("h5"), hk(6).as("h6"))
        .select(col("n_total"), col("n_reached"), col("sum_dist"),
          ((col("n_reached") - 1L).cast("double")
            / col("sum_dist").cast("double")).as("closeness"),
          (col("h1").cast("double") / 1.0
            + col("h2").cast("double") / 2.0
            + col("h3").cast("double") / 3.0
            + col("h4").cast("double") / 4.0
            + col("h5").cast("double") / 5.0
            + col("h6").cast("double") / 6.0).as("harmonic"))
    },
    Some(s"""WITH $duckSupplierPartNodes,
            d0 AS (SELECT node,
                          CASE WHEN node = 0 THEN CAST(0 AS BIGINT) END
                            AS dist
                   FROM nodes),
            ${duckBfsRounds(6)},
            census AS (
              SELECT coalesce(dist, -1) AS d,
                     CAST(count(*) AS BIGINT) AS n
              FROM d6 GROUP BY 1),
            agg AS (
              SELECT CAST(sum(n) AS BIGINT) AS n_total,
                     CAST(sum(CASE WHEN d >= 0 THEN n ELSE 0 END)
                       AS BIGINT) AS n_reached,
                     CAST(sum(CASE WHEN d >= 0 THEN d * n ELSE 0 END)
                       AS BIGINT) AS sum_dist,
                     CAST(sum(CASE WHEN d = 1 THEN n ELSE 0 END)
                       AS BIGINT) AS h1,
                     CAST(sum(CASE WHEN d = 2 THEN n ELSE 0 END)
                       AS BIGINT) AS h2,
                     CAST(sum(CASE WHEN d = 3 THEN n ELSE 0 END)
                       AS BIGINT) AS h3,
                     CAST(sum(CASE WHEN d = 4 THEN n ELSE 0 END)
                       AS BIGINT) AS h4,
                     CAST(sum(CASE WHEN d = 5 THEN n ELSE 0 END)
                       AS BIGINT) AS h5,
                     CAST(sum(CASE WHEN d = 6 THEN n ELSE 0 END)
                       AS BIGINT) AS h6
              FROM census)
            SELECT n_total, n_reached, sum_dist,
                   CAST(n_reached - 1 AS DOUBLE)
                     / CAST(sum_dist AS DOUBLE) AS closeness,
                   CAST(h1 AS DOUBLE) / 1.0
                     + CAST(h2 AS DOUBLE) / 2.0
                     + CAST(h3 AS DOUBLE) / 3.0
                     + CAST(h4 AS DOUBLE) / 4.0
                     + CAST(h5 AS DOUBLE) / 5.0
                     + CAST(h6 AS DOUBLE) / 6.0 AS harmonic
            FROM agg"""))

  /** X238 g10: HITS hub/authority scores on the DIRECTED supplier→part
    * supply graph (g1's edges) — two rounds of mutual reinforcement
    * kept ENTIRELY IN INTEGERS by skipping the cosmetic normalization:
    * a₁(p) = indegree, h₁(s) = Σ_out a₁, a₂(p) = Σ_in h₁ are exact
    * BIGINT path counts (h₁ counts supplier→part→supplier' paths, a₂
    * counts length-3 alternating paths into p), so the ranking is
    * hash-exact with no float-sum order hazard — the g9/m33 lesson
    * applied to spectral-style scores (normalized HITS converges to
    * the same ORDER; the order is what operators read). Each round is
    * one equi-join + one map-side-combinable groupBy on the edge list;
    * top-15 per role via TakeOrderedAndProject, never a global sort.
    */
  private val g10 = Q(
    "g10_hits_bipartite",
    (s, dir) => {
      val edges = Tables.load(s, dir, "lineitem")
        .select(col("l_suppkey").as("su"), col("l_partkey").as("pa"))
        .distinct()
        .localCheckpoint()
      val a1 = edges.groupBy("pa").agg(count(lit(1)).as("a1"))
      val h1 = edges.join(a1, "pa")
        .groupBy("su").agg(sum("a1").as("h1"))
      val a2 = edges.join(h1, "su")
        .groupBy("pa").agg(sum("h1").as("a2"))
      val topHubs = h1
        .select(lit("hub").as("role"), col("su").as("node"),
          col("h1").as("score_r1"), lit(null).cast("long").as("score_r2"))
        .orderBy(col("score_r1").desc, col("node")).limit(15)
      val topAuth = a1.join(a2, "pa")
        .select(lit("authority").as("role"), col("pa").as("node"),
          col("a1").as("score_r1"), col("a2").as("score_r2"))
        .orderBy(col("score_r2").desc, col("node")).limit(15)
      topAuth.unionAll(topHubs).orderBy("role", "node")
    },
    Some("""WITH edges AS (
              SELECT DISTINCT l_suppkey AS su, l_partkey AS pa
              FROM lineitem),
            a1 AS (
              SELECT pa, CAST(count(*) AS BIGINT) AS a1
              FROM edges GROUP BY pa),
            h1 AS (
              SELECT e.su, CAST(sum(a.a1) AS BIGINT) AS h1
              FROM edges e JOIN a1 a USING (pa) GROUP BY e.su),
            a2 AS (
              SELECT e.pa, CAST(sum(h.h1) AS BIGINT) AS a2
              FROM edges e JOIN h1 h USING (su) GROUP BY e.pa),
            top_hubs AS (
              SELECT 'hub' AS role, su AS node, h1 AS score_r1,
                     CAST(NULL AS BIGINT) AS score_r2
              FROM h1 ORDER BY h1 DESC, su LIMIT 15),
            top_auth AS (
              SELECT 'authority' AS role, a1.pa AS node,
                     a1.a1 AS score_r1, a2.a2 AS score_r2
              FROM a1 JOIN a2 USING (pa)
              ORDER BY a2.a2 DESC, a1.pa LIMIT 15)
            SELECT * FROM top_auth
            UNION ALL
            SELECT * FROM top_hubs
            ORDER BY role, node"""))

  /** X256 g11: DEGREE-DISTRIBUTION histogram of the co-purchase graph
    * in power-of-two bands — the first profile anyone pulls on a new
    * graph (is it power-law? near-regular? does orientation pruning
    * have any skew to exploit? — exactly the question the g3-g6
    * kernels answered by hand, now a queryable row). Banding is a
    * fixed integer CASE chain (NO log2: not cross-engine
    * bit-deterministic), everything else exact integers. Scale: the
    * degree aggregate is the only data-sized step; the histogram is
    * ≤64 cells forever.
    */
  private val g11 = Q(
    "g11_degree_histogram",
    (s, dir) => {
      val e0 = coEdges(s, dir)
      val deg = degrees(e0)
      val band = when(col("deg") < 2L, 1L)
        .when(col("deg") < 4L, 2L)
        .when(col("deg") < 8L, 4L)
        .when(col("deg") < 16L, 8L)
        .when(col("deg") < 32L, 16L)
        .when(col("deg") < 64L, 32L)
        .when(col("deg") < 128L, 64L)
        .when(col("deg") < 256L, 128L)
        .otherwise(256L)
      deg.withColumn("band_lo", band)
        .groupBy("band_lo")
        .agg(count(lit(1)).as("n_nodes"),
          min("deg").as("min_deg"), max("deg").as("max_deg"),
          sum("deg").as("deg_sum"))
        .orderBy("band_lo")
    },
    Some(duckCoEdgeDegrees + """,
            banded AS (
              SELECT deg,
                     CASE WHEN deg < 2 THEN 1
                          WHEN deg < 4 THEN 2
                          WHEN deg < 8 THEN 4
                          WHEN deg < 16 THEN 8
                          WHEN deg < 32 THEN 16
                          WHEN deg < 64 THEN 32
                          WHEN deg < 128 THEN 64
                          WHEN deg < 256 THEN 128
                          ELSE 256 END AS band_lo
              FROM deg)
            SELECT CAST(band_lo AS BIGINT) AS band_lo,
                   CAST(count(*) AS BIGINT) AS n_nodes,
                   min(deg) AS min_deg, max(deg) AS max_deg,
                   CAST(sum(deg) AS BIGINT) AS deg_sum
            FROM banded GROUP BY band_lo ORDER BY band_lo"""))

  /** X286 g12: MODULARITY of a node partition — the community-quality
    * metric every clustering pipeline reports (Newman's
    * Q = Σ_c [e_c/m − (d_c/2m)²]): here the co-purchase graph scored
    * against the part-BRAND partition, computed EXACTLY in integers by
    * clearing denominators — Q·4m² = Σ_c (4·m·e_c − d_c²), every term
    * BIGINT (at sf0.1: 4m·e_c ≈ 5.8e12, well inside int64), with the
    * one final division emitting the float Q. The measured Q ≈ 0 is
    * the honest reading: brands are orthogonal to co-purchase
    * structure — the row proves the METRIC, and a real community
    * detector would be judged by exactly this number. Scale: two
    * broadcast-joins tag edge endpoints with communities (community
    * map is dimension-sized), one degree aggregation — same shuffle
    * envelope as a groupBy on the edge list.
    */
  private val g12 = Q(
    "g12_modularity",
    (s, dir) => {
      val e0 = coEdges(s, dir)
      // NOTE (round-18 opt): folding this count into the final plan as
      // a broadcast 1-row cross join (the e12/t7 pattern) measured
      // WORSE here (2.07 -> 2.85/3.00 s, two scoped draws) — the count
      // over the checkpointed edge list is nearly free while the extra
      // broadcast branch delays the main job. Kept as a driver job.
      val m = e0.count()
      val comm = Tables.load(s, dir, "part")
        .select(col("p_partkey").as("node"), col("p_brand").as("c"))
      val dsum = degrees(e0)
        .join(broadcast(comm), "node")
        .groupBy("c").agg(sum("deg").as("d_c"))
      val intra = e0
        .join(broadcast(comm.select(col("node").as("p1"),
          col("c").as("c1"))), "p1")
        .join(broadcast(comm.select(col("node").as("p2"),
          col("c").as("c2"))), "p2")
        .filter(col("c1") === col("c2"))
        .groupBy(col("c1").as("c")).agg(count(lit(1)).as("e_c"))
      dsum.join(intra, Seq("c"), "left")
        .select(col("c").as("community"),
          coalesce(col("e_c"), lit(0L)).as("e_c"), col("d_c"),
          (lit(4L) * m * coalesce(col("e_c"), lit(0L))
            - col("d_c") * col("d_c")).as("q_contrib_4m2"),
          lit(m).as("m_edges"))
        .withColumn("q_scaled_4m2", sum("q_contrib_4m2").over(
          org.apache.spark.sql.expressions.Window
            .rowsBetween(org.apache.spark.sql.expressions.Window
              .unboundedPreceding,
              org.apache.spark.sql.expressions.Window.unboundedFollowing))
          .cast("long"))
        .orderBy("community")
    },
    Some("""WITH op AS (
              SELECT DISTINCT l_orderkey AS o, l_partkey AS p
              FROM lineitem),
            edges AS (
              SELECT DISTINCT a.p AS p1, b.p AS p2
              FROM op a JOIN op b ON a.o = b.o AND a.p < b.p),
            m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM edges),
            comm AS (SELECT p_partkey AS node, p_brand AS c FROM part),
            deg AS (
              SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
                SELECT p1 AS node FROM edges
                UNION ALL SELECT p2 AS node FROM edges)
              GROUP BY node),
            dsum AS (
              SELECT cm.c, CAST(sum(d.deg) AS BIGINT) AS d_c
              FROM deg d JOIN comm cm ON cm.node = d.node GROUP BY cm.c),
            intra AS (
              SELECT c1.c, CAST(count(*) AS BIGINT) AS e_c
              FROM edges e JOIN comm c1 ON c1.node = e.p1
                           JOIN comm c2 ON c2.node = e.p2
              WHERE c1.c = c2.c GROUP BY c1.c),
            per AS (
              SELECT d.c, coalesce(i.e_c, 0) AS e_c, d.d_c,
                     4 * (SELECT m FROM m) * coalesce(i.e_c, 0)
                       - d.d_c * d.d_c AS q_contrib_4m2
              FROM dsum d LEFT JOIN intra i ON i.c = d.c)
            SELECT c AS community, e_c, d_c,
                   CAST(q_contrib_4m2 AS BIGINT) AS q_contrib_4m2,
                   (SELECT m FROM m) AS m_edges,
                   CAST(sum(q_contrib_4m2) OVER () AS BIGINT)
                     AS q_scaled_4m2
            FROM per ORDER BY community"""))

  def all: Seq[Q] =
    Seq(g1, g2, g3, g4, g5, g5b, g6, g7, g8, g9, g10, g11, g12)
}
