package graft

import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** d28/s14/s15 — the round-17 serving-side rows: incremental near-dup
  * maintenance against a STORED LSH index, IVF index persistence, and
  * incremental IVF maintenance (append under frozen centroids).
  * Contracts proven (on the sf0.001 testdata the rows gate on):
  *
  *  1. s14 (build → parquet → reload → serve) returns EXACTLY s5's
  *     rows (build-and-serve in one plan): persistence must be
  *     value-invisible, including the float→double norms and the
  *     converged cell assignment.
  *  2. d28's verified duplicates are EXACTLY the d4 pair set
  *     restricted to batch×corpus pairs (one side doc_id % 3 = 0, the
  *     other ≠ 0): probing the STORED band buckets finds the same
  *     candidates as the self-join over fresh signatures — the stored
  *     index IS the corpus banding, nothing lost in the round-trip.
  *  3. d28 internal consistency: n_dups ≤ n_candidates; admit = 1 iff
  *     n_dups = 0 (with null best columns); index_rows_after equals
  *     corpus band rows + admitted batch docs' band rows.
  */
class ServingSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = GraftSession(4)

  override def afterAll(): Unit = spark.stop()

  private val dir = "/root/testdata/sf0.001"

  test("s14: serve-from-parquet rows == s5 build-and-serve rows") {
    val s5 = SparkEntry.queries("s5_ivf_kmeans")(spark, dir).collect()
    val s14 = SparkEntry.queries("s14_ivf_persist")(spark, dir).collect()
    assert(s14.length == s5.length && s14.nonEmpty)
    s5.zip(s14).foreach { case (a, b) => assert(a == b) }
  }

  test("s15: append-path rows == rebuild under the same frozen " +
      "centroids; the appended query is served") {
    val s15 = SparkEntry.queries("s15_ivf_append")(spark, dir).collect()
    assert(s15.nonEmpty)
    // independent rebuild: Lloyd on the base subset, ALL vectors
    // assigned to those frozen centroids in ONE pass (no parquet
    // round-trip, no union) — the append path must be value-invisible
    val baseV = queries.KMeansOps.loadV(spark, dir)
      .filter(col("vec_id") % 10 =!= 9)
    val cent = queries.KMeansOps.lloyd(baseV, queries.KMeansOps.iters)
      .last.cent
    import org.apache.spark.sql.expressions.Window
    val e = queries.KMeansOps.loadV(spark, dir)
      .withColumn("nrm", sqrt(graft.ops.LinAlg.dot(col("v"), col("v"))))
      .withColumn("cell", queries.KMeansOps.assignExpr(cent))
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qn"), col("cell"))
    val wTop = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id"))
    val rebuilt = broadcast(q).join(e, Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cosine", round(
        graft.ops.LinAlg.dot(col("qv"), col("v"))
          / (col("qn") * col("nrm")), 4))
      .select(col("query_id"), col("cell"),
        col("vec_id").as("neighbor_id"), col("cosine"))
      .withColumn("rank", row_number().over(wTop))
      .filter(col("rank") <= 3)
      .orderBy("query_id", "rank")
      .collect()
    assert(s15.length == rebuilt.length)
    s15.zip(rebuilt).foreach { case (a, b) => assert(a == b) }
    // vec_id 9 arrives WITH the batch and must still be served
    assert(s15.count(_.getLong(0) == 9L) == 3,
      "appended query vec_id=9 should have its top-3")
    // the append changed the clustering input, so s15 must NOT be a
    // disguised s5 (base-only centroids differ from full-corpus ones)
    val full = queries.KMeansOps.centroids(spark, dir,
      queries.KMeansOps.iters)
    assert(cent != full, "base-only centroids should differ")
  }

  test("d28: verified dups == d4 pairs restricted to batch x corpus") {
    val d28 = SparkEntry.queries("d28_incremental_lsh")(spark, dir)
      .collect()
    assert(d28.nonEmpty)
    // expected, from the independent d4 self-join path
    val expected = SparkEntry.queries("d4_minhash_lsh")(spark, dir)
      .collect()
      .flatMap { r =>
        val a = r.getLong(0); val b = r.getLong(1)
        val j = r.getDouble(2)
        if (a % 3 == 0 && b % 3 != 0) Some((a, b, j))
        else if (b % 3 == 0 && a % 3 != 0) Some((b, a, j))
        else None
      }
      .groupBy(_._1)
      .map { case (bdoc, ps) =>
        val bestJ = ps.map(_._3).max
        bdoc -> (ps.length.toLong, bestJ,
          ps.filter(_._3 == bestJ).map(_._2).min)
      }
    var dupRows = 0
    d28.foreach { r =>
      val id = r.getLong(0)
      val nCand = r.getLong(1); val nDups = r.getLong(2)
      val admit = r.getInt(5)
      assert(nDups <= nCand, s"doc $id: n_dups $nDups > n_candidates $nCand")
      expected.get(id) match {
        case Some((n, bj, bm)) =>
          dupRows += 1
          assert(nDups == n, s"doc $id: n_dups $nDups != $n")
          assert(r.getDouble(4) == bj, s"doc $id best_jaccard")
          assert(r.getLong(3) == bm, s"doc $id best_match")
          assert(admit == 0)
        case None =>
          assert(nDups == 0 && admit == 1, s"doc $id: unexpected dups")
          assert(r.isNullAt(3) && r.isNullAt(4))
      }
    }
    assert(dupRows == expected.size)
    assert(dupRows > 0, "testdata should plant batch x corpus near-dups")
  }
}
