package graft.queries

import graft.ops.LinAlg.dot
import graft.ops.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** One iteration's outcome: sizes/shift per cluster plus the new
  * centroids (needed to seed the next iteration's literal plan). */
case class LloydIter(iter: Int, sizes: Map[Int, Long],
    shifts: Map[Int, Double], cent: Seq[(Int, Seq[Double])])

/** Shared k-means machinery for m10_kmeans_converge / s5_ivf_kmeans:
  * a driver loop over Lloyd steps. Per iteration the centroids (k·dim
  * doubles — bounded by k, never by corpus size) are collected and
  * re-embedded as literal arrays, so the assignment pass is scan-local
  * (no join, no shuffle): cluster = argmin over k literal-centroid
  * distances via an array_min over (d2, cluster) structs. The centroid
  * recompute shuffles (cluster, pos) partial averages — the standard
  * distributed k-means step shape (MLlib's KMeans does exactly this
  * collect-and-rebroadcast per iteration).
  *
  * The DuckDB oracle replays the same fixed number of iterations as a
  * chained CTE pipeline (duckCtes); distances use the same operand
  * order (v·v − 2·(v·c) + c·c) so the exact-IEEE argmin matches, and
  * all emitted floats are rounded at 6 so last-bit differences between
  * Spark's partial-sum averages and DuckDB's never surface.
  *
  * Assignment-stability assumption: the argmin consumes UNROUNDED
  * centroids that each engine averages independently, so integer
  * outputs (cluster sizes, cell memberships) are stable only while
  * every vector's margin between its two nearest centroids exceeds the
  * engines' centroid drift (~1 ulp of partial-sum reordering). That
  * holds by a wide margin on the synthetic embeddings (verified by the
  * m10/s5/d11 oracle runs every round); a production corpus with
  * near-equidistant vectors would round centroids to a fixed scale
  * between iterations in both engines to pin assignments.
  */
object KMeansOps {

  val k = 4
  val iters = 4
  val dim = 64

  /** Size-aware cell count for the blocked-pairs consumers (d11): the
    * Σ|cell|² enumeration cost is quadratic in cell population, so k
    * must GROW with the corpus to keep cells bounded at ~targetCell
    * vectors. Round-9 ScaleProbe `semantic` mode measured the cliff and
    * the fix: fixed k=4 grows Σ|cell|² 64× (0.36→4.22 s) from 1× to 8×
    * corpus, scaled k grows it 8× (0.37→0.69 s — flat) at ~95 % of the
    * fixed-k pair recall. At the driver's test scales (≤2000 vectors)
    * this yields exactly the oracle-pinned k=4, so hashes are
    * unchanged; the oracle derives the same k from the same count
    * ([[adaptiveKSql]]). Consumers whose cost is LINEAR in corpus per
    * cell (s5's probe-side top-k, m10's convergence trace) keep the
    * pinned k.
    */
  val targetCell = 500
  def adaptiveK(n: Long): Int =
    math.max(k, math.ceil(n / targetCell.toDouble).toInt)
  val adaptiveKSql: String =
    s"SELECT GREATEST($k, CAST(ceil(count(*) / $targetCell.0) AS INT)) FROM e"

  def loadV(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "embeddings")
      .select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))

  /** Scan-local assignment: argmin_{cluster} ||v − c||² with the
    * centroids embedded as literal arrays. Ties break toward the lower
    * cluster id ((d2, cluster) struct ordering — same as the oracle's
    * ORDER BY d2, cluster). */
  def assignExpr(cent: Seq[(Int, Seq[Double])]): Column =
    array_min(array(cent.map { case (cl, cv) =>
      val arr = array(cv.map(lit): _*)
      struct(
        (dot(col("v"), col("v")) - lit(2.0) * dot(col("v"), arr)
          + dot(arr, arr)).as("d2"),
        lit(cl).as("cluster"))
    }: _*)).getField("cluster")

  /** Seed centroids: the vectors with vec_id < kk (fixed,
    * engine-neutral). kk defaults to the oracle-pinned k; ScaleProbe's
    * semantic mode passes a corpus-scaled kk (cells of bounded size —
    * the production posture; the registry rows stay at the pinned k
    * so their DuckDB replays are untouched).
    */
  def seeds(e: DataFrame, kk: Int = k): Seq[(Int, Seq[Double])] =
    e.filter(col("vec_id") < kk)
      .select(col("vec_id").cast("int"), col("v"))
      .collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1)))
      .sortBy(_._1).toSeq

  /** Run `n` Lloyd iterations; e must have (vec_id, v). */
  def lloyd(e: DataFrame, n: Int, kk: Int = k): Seq[LloydIter] = {
    var cent = seeds(e, kk)
    (1 to n).map { it =>
      val assigned = e.withColumn("cluster", assignExpr(cent))
      val sizes = assigned.groupBy("cluster").count()
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      val newCent = assigned
        .select(col("cluster"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy("cluster", "pos").agg(avg("x").as("m"))
        .groupBy("cluster")
        .agg(array_sort(collect_list(struct(col("pos"), col("m"))))
          .getField("m").as("ncv"))
        .collect().map(r => (r.getInt(0), r.getSeq[Double](1)))
        .sortBy(_._1).toSeq
      val old = cent.toMap
      // left-to-right fold over pos — the same order as the oracle's
      // list_sum over list_zip
      val shifts = newCent.map { case (cl, ncv) =>
        val ocv = old(cl)
        var s = 0.0
        var i = 0
        while (i < ncv.length) {
          val d = ncv(i) - ocv(i); s += d * d; i += 1
        }
        cl -> math.sqrt(s)
      }.toMap
      cent = newCent
      LloydIter(it, sizes, shifts, newCent)
    }
  }

  /** Convenience: just the converged centroids after `n` iterations.
    * kk < 0 (default) = oracle-pinned k; kk = 0 = size-aware
    * [[adaptiveK]] of the corpus count; kk > 0 = explicit. */
  def centroids(s: SparkSession, dir: String, n: Int,
      kk: Int = -1): Seq[(Int, Seq[Double])] = {
    val e = loadV(s, dir).persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val useK =
        if (kk > 0) kk else if (kk == 0) adaptiveK(e.count()) else k
      lloyd(e, n, useK).last.cent
    } finally e.unpersist()
  }

  // ---- DuckDB oracle side ----------------------------------------

  private val duckVec = "list_transform(embedding, x -> CAST(x AS DOUBLE))"

  private def duckD2(v: String, cv: String): String =
    s"""list_sum(list_transform($v, x -> x * x))
       |          - 2 * list_sum(list_transform(list_zip($v, $cv), p -> p[1] * p[2]))
       |          + list_sum(list_transform($cv, x -> x * x))""".stripMargin

  /** CTE chain `e, c0, a1, m1, c1, z1, s1, …, a$n, …, s$n` replaying n
    * Lloyd iterations: a$i = assignment under c${i-1}, c$i = recomputed
    * centroids, z$i = cluster sizes, s$i = (iter, cluster, n_members,
    * shift). Compose with a final SELECT over s* or a search over c$n.
    */
  def duckCtes(n: Int, kExpr: String = k.toString,
      where: String = ""): String = {
    val sb = new StringBuilder
    sb ++= s"""WITH e AS (
              |  SELECT vec_id, $duckVec AS v FROM embeddings $where),
              |c0 AS (
              |  SELECT CAST(vec_id AS INT) AS cluster, v AS cv FROM e
              |  WHERE vec_id < ($kExpr))""".stripMargin
    for (i <- 1 to n) {
      sb ++= s""",
                |a$i AS (
                |  SELECT vec_id, v, cluster FROM (
                |    SELECT e.vec_id, e.v, c.cluster,
                |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
                |        ${duckD2("e.v", "c.cv")},
                |        c.cluster) AS rn
                |    FROM e CROSS JOIN c${i - 1} c) q WHERE rn = 1),
                |m$i AS (
                |  SELECT cluster, t.pos, avg(v[t.pos]) AS m
                |  FROM a$i, range(1, ${dim + 1}) t(pos) GROUP BY 1, 2),
                |c$i AS (
                |  SELECT cluster, list(m ORDER BY pos) AS cv FROM m$i
                |  GROUP BY 1),
                |z$i AS (
                |  SELECT cluster, count(*) AS n_members FROM a$i GROUP BY 1),
                |s$i AS (
                |  SELECT $i AS iter, z.cluster, z.n_members,
                |    round(sqrt(list_sum(list_transform(
                |      list_zip(n.cv, p.cv), q -> (q[1] - q[2]) * (q[1] - q[2])))),
                |      6) AS shift
                |  FROM c$i n JOIN c${i - 1} p USING (cluster)
                |  JOIN z$i z USING (cluster))""".stripMargin
    }
    sb.toString
  }
}
