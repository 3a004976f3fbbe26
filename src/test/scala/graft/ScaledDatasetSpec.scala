package graft

import graft.ops.Tables
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The m× dataset ScaleProbe's decade and sf1full boards run on. */
class ScaledDatasetSpec extends AnyFunSuite with TempDirs {

  private val src = "/root/testdata/sf0.001"

  private lazy val spark = GraftSession(2)

  private lazy val dir =
    tempDir("graft_scaled") + "/m2"

  override def afterAll(): Unit = try spark.stop() finally super.afterAll()

  private def read(from: String, table: String) =
    spark.read.parquet(s"$from/$table.parquet")

  test("buildScaled at m=2: 2x rows, disjoint offset keys, fixed dims, total joins, 2x event span") {
    graft.dev.ScaleProbe.buildScaled(spark, src, 2, dir, 1000f)
    val offsetKeys = Seq(
      "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
      "orders" -> Seq("o_orderkey", "o_custkey"), "part" -> Seq("p_partkey"),
      "supplier" -> Seq("s_suppkey"), "customer" -> Seq("c_custkey"),
      "documents" -> Seq("doc_id"), "embeddings" -> Seq("vec_id"),
      "events" -> Seq("event_id"))
    for ((t, keys) <- offsetKeys) {
      assert(new java.io.File(s"$dir/$t.parquet").isFile, s"$t is one file")
      val (a, b) = (read(src, t), read(dir, t))
      assert(b.count() == 2 * a.count(), t)
      for (k <- keys)
        assert(b.select(k).distinct().count() == 2 * a.select(k).distinct().count(),
          s"$t.$k replicas overlap")
    }
    for (t <- Seq("nation", "region")) {
      val (a, b) = (read(src, t), read(dir, t))
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty, s"$t changed")
    }
    val orphans = read(dir, "lineitem")
      .join(read(dir, "orders"), col("l_orderkey") === col("o_orderkey"), "left_anti")
    assert(orphans.isEmpty, "a replicated lineitem lost its order")
    def span(from: String) = Tables.normalizeTs(read(from, "events"))
      .agg(max(unix_micros(col("ts"))) - min(unix_micros(col("ts"))))
      .first().getLong(0) + 1
    assert(span(dir) == 2 * span(src))
  }

  test("a built dir is not rebuilt (the _built marker)") {
    graft.dev.ScaleProbe.buildScaled(spark, src, 2, dir, 1000f)
    val region = new java.io.File(s"$dir/region.parquet")
    assert(region.delete())
    graft.dev.ScaleProbe.buildScaled(spark, src, 2, dir, 1000f)
    assert(!region.exists())
  }
}
