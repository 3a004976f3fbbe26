package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Unit pins for the graph kernels that aren't covered by a closed-form
  * law elsewhere: g3's degree-oriented triangle count on graphs whose
  * triangle count is known analytically.
  */
class GraphOpsSpec extends AnyFunSuite {

  private lazy val spark = GraftSession(2)

  /** Count triangles of an undirected edge list with the same
    * degree-ordered orientation g3 uses. */
  private def triangles(edges: Seq[(Long, Long)]): Long = {
    import spark.implicits._
    val e0 = edges.toDF("p1", "p2")
    val deg = e0.select(col("p1").as("node"))
      .unionByName(e0.select(col("p2").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val withDeg = e0
      .join(deg.select(col("node").as("p1"), col("deg").as("d1")), Seq("p1"))
      .join(deg.select(col("node").as("p2"), col("deg").as("d2")), Seq("p2"))
    def before(dA: org.apache.spark.sql.Column, a: org.apache.spark.sql.Column,
        dB: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      dA < dB || (dA === dB && a < b)
    val oriented = withDeg.select(
      when(before(col("d1"), col("p1"), col("d2"), col("p2")),
        col("p1")).otherwise(col("p2")).as("src"),
      when(before(col("d1"), col("p1"), col("d2"), col("p2")),
        col("p2")).otherwise(col("p1")).as("dst"),
      when(before(col("d1"), col("p1"), col("d2"), col("p2")),
        col("d2")).otherwise(col("d1")).as("ddst"))
    val wedges = oriented.as("x").join(oriented.as("y"), Seq("src"))
      .filter(before(col("x.ddst"), col("x.dst"), col("y.ddst"), col("y.dst")))
      .select(col("x.dst").as("v"), col("y.dst").as("w"))
    wedges.join(oriented,
      col("v") === col("src") && col("w") === col("dst")).count()
  }

  test("triangle (K3) counts once") {
    assert(triangles(Seq((1L, 2L), (2L, 3L), (1L, 3L))) == 1L)
  }

  test("K4 has 4 triangles") {
    val k4 = for (i <- 1L to 4L; j <- (i + 1) to 4L) yield (i, j)
    assert(triangles(k4) == 4L)
  }

  test("K5 has 10 triangles; star and path have none") {
    val k5 = for (i <- 1L to 5L; j <- (i + 1) to 5L) yield (i, j)
    assert(triangles(k5) == 10L)
    assert(triangles(Seq((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L))) == 0L)
    assert(triangles(Seq((1L, 2L), (2L, 3L), (3L, 4L))) == 0L)
  }
}
