package graft

import graft.ops.GkSketch
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The GK quantile sketch's contract, proven at three levels: the raw
  * invariant on adversarial inputs under arbitrary split/merge
  * topologies (the property partial aggregation rides on), the
  * persistence surface (serialize → merge later), and the registered
  * `graft_gk_quantile` aggregate end-to-end against exact ranks.
  */
class GkSketchSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = GraftSession(4)

  override def afterAll(): Unit = spark.stop()

  /** Worst-case rank error of `s.query(phi)` over `data`, in ranks. */
  private def rankErr(s: GkSketch, data: Array[Double],
      phi: Double): Long = {
    val sorted = data.sorted
    val n = data.length.toLong
    val est = s.query(phi)
    val r = math.max(1L, math.ceil(phi * n).toLong)
    val lo = sorted.count(_ < est).toLong + 1 // lowest rank est could hold
    val hi = sorted.count(_ <= est).toLong    // highest rank est could hold
    if (r < lo) lo - r else if (r > hi) r - hi else 0L
  }

  private val phis = Seq(0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99)

  test("single-stream bound: rank error <= ceil(eps*n) on adversarial inputs") {
    val n = 20000
    val eps = 0.01
    val shapes: Map[String, Array[Double]] = Map(
      "sorted" -> Array.tabulate(n)(_.toDouble),
      "reverse" -> Array.tabulate(n)(i => (n - i).toDouble),
      // 90% duplicates of one value — ties stress the rank brackets
      "constant-heavy" -> Array.tabulate(n)(i =>
        if (i % 10 == 0) i.toDouble else 42.0),
      // lognormal-ish skew without Random: deterministic sawtooth powers
      "skewed" -> Array.tabulate(n)(i => math.pow(1.0007, i % 17351)))
    for ((name, data) <- shapes) {
      val s = new GkSketch(eps)
      data.foreach(s.insert)
      val tol = math.ceil(eps * n).toLong
      for (phi <- phis) {
        val err = rankErr(s, data, phi)
        assert(err <= tol, s"$name phi=$phi err=$err > $tol")
      }
      // the space story: far fewer tuples than values
      assert(s.tupleCount < 2000, s"$name kept ${s.tupleCount} tuples")
    }
  }

  test("merge bound holds under any split and merge topology") {
    val n = 24000
    val eps = 0.02
    val data = Array.tabulate(n)(i => ((i * 7919) % n).toDouble) // perm
    val tol = math.ceil(eps * n).toLong
    // 1) uneven splits, left-deep merge
    val cuts = Seq(0, 17, 18, 5000, 5001, 11111, 24000)
    val parts = cuts.sliding(2).map(c => data.slice(c(0), c(1))).toSeq
    val leftDeep = parts.map { p =>
      val s = new GkSketch(eps); p.foreach(s.insert); s
    }.reduce(_ mergeWith _)
    for (phi <- phis)
      assert(rankErr(leftDeep, data, phi) <= tol, s"left-deep phi=$phi")
    // 2) bushy (tree) merge over 32 equal chunks — the combiner shape
    val chunks = data.grouped(n / 32).map { p =>
      val s = new GkSketch(eps); p.foreach(s.insert); s
    }.toSeq
    def tree(ss: Seq[GkSketch]): GkSketch =
      if (ss.size == 1) ss.head
      else tree(ss.grouped(2).map(g =>
        if (g.size == 2) g(0).mergeWith(g(1)) else g(0)).toSeq)
    val bushy = tree(chunks)
    assert(bushy.n == n)
    for (phi <- phis)
      assert(rankErr(bushy, data, phi) <= tol, s"bushy phi=$phi")
  }

  test("persistence: serialized partials merge later within the bound") {
    val n = 10000
    val eps = 0.01
    val data = Array.tabulate(n)(i => math.sin(i * 0.37) * 1000)
    val blobs = data.grouped(2500).map { p =>
      val s = new GkSketch(eps); p.foreach(s.insert); s.serialize()
    }.toSeq
    // "tomorrow": deserialize the stored partials and merge
    val merged = blobs.map(GkSketch.deserialize).reduce(_ mergeWith _)
    assert(merged.n == n)
    val tol = math.ceil(eps * n).toLong
    for (phi <- phis)
      assert(rankErr(merged, data, phi) <= tol, s"persisted phi=$phi")
    // round-trip stability: serialize(deserialize(b)) == b
    val b = merged.serialize()
    assert(java.util.Arrays.equals(GkSketch.deserialize(b).serialize(), b))
  }

  test("NaN input fails loudly instead of poisoning comparisons") {
    val s = new GkSketch(0.01)
    s.insert(1.0)
    val ex = intercept[IllegalArgumentException](s.insert(Double.NaN))
    assert(ex.getMessage.contains("NaN"))
  }

  test("graft_gk_quantile end-to-end: partial agg across partitions, nulls, empty") {
    import spark.implicits._
    val n = 50000
    val df = (0 until n).map(i => ("g" + (i % 3), ((i * 104729) % n).toDouble))
      .toDF("g", "v")
      .withColumn("v", when(col("v") === 13.0, lit(null)).otherwise(col("v")))
      .repartition(7) // force a real partial/final split
    df.createOrReplaceTempView("gk_input")
    val rows = spark.sql(
      """SELECT g, count(v) AS cnt,
        |       graft_gk_quantile(v, 0.01d,
        |         array(0.25d, 0.5d, 0.9d)) AS est
        |FROM gk_input GROUP BY g""".stripMargin)
      .collect()
    assert(rows.length == 3)
    val byG = df.filter(col("v").isNotNull).as[(String, Double)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    for (r <- rows) {
      val data = byG(r.getString(0))
      val cnt = r.getLong(1)
      assert(cnt == data.length)
      val est = r.getSeq[Double](2)
      for ((phi, e) <- Seq(0.25, 0.5, 0.9).zip(est)) {
        val target = math.max(1L, math.ceil(phi * cnt).toLong)
        val lo = data.count(_ < e) + 1
        val hi = data.count(_ <= e)
        val tol = math.ceil(0.01 * cnt).toLong
        assert(lo <= target + tol && hi >= target - tol,
          s"g=${r.getString(0)} phi=$phi est=$e rank=[$lo,$hi] target=$target")
      }
    }
    // all-null group -> NULL array, not a crash
    val nullRow = spark.sql(
      """SELECT graft_gk_quantile(CAST(NULL AS DOUBLE), 0.01d, array(0.5d))
        |FROM range(5)""".stripMargin).collect()
    assert(nullRow.head.isNullAt(0))
  }
}
