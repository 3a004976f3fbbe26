package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops.WedgeKernel

/** Pins the chunked g5 wedge kernel (round-16): the block-pair
  * decomposition of a heavy center's adjacency must emit EXACTLY the
  * multiset of packed pairs the single-array kernel emits — same
  * pairs, same multiplicities (a pair seen from k shared centers
  * appears k times; the downstream groupBy turns that into the
  * common-neighbor count). The old kernel crashed at center degree
  * ≥ 46341; these tests force degrees far past small blockSizes so
  * every decomposition path (within-block, cross-block, short last
  * block, exact-multiple boundary) is exercised.
  */
class WedgeKernelSpec extends AnyFunSuite {

  private lazy val spark = GraftSession(2)

  /** Brute-force multiset of packed pairs per center. */
  private def brute(nbr: Seq[(Long, Long)]): Map[Long, Long] =
    nbr.groupBy(_._1).toSeq.flatMap { case (_, xs) =>
      val a = xs.map(_._2).sorted.toArray
      for {
        i <- a.indices
        j <- (i + 1) until a.length
      } yield (a(i) << 32) | a(j)
    }.groupBy(identity).map { case (pk, v) => pk -> v.size.toLong }

  private def kernel(nbr: Seq[(Long, Long)], blockSize: Int)
      : (Map[Long, Long], Long) = {
    import spark.implicits._
    val df = nbr.toDF("c", "x")
    val (pk, total) = WedgeKernel.pairPk(spark, df, blockSize)
    val m = pk.groupBy("pk").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (m, total)
  }

  /** A graph with one hub (degree 50), several mid centers, and leaf
    * centers — neighbor ids deliberately NOT contiguous so block
    * slices have uneven value gaps.
    */
  private val mixed: Seq[(Long, Long)] = {
    val hub = (1L to 50L).map(i => (1000L, i * 7 % 97 + 100))
    val mid = (1L to 9L).map(i => (2000L, i * 13 + 5)) ++
      (1L to 8L).map(i => (2001L, i * 3 + 2))
    val leaves = Seq((3000L, 1L), (3001L, 2L), (3002L, 3L))
    (hub ++ mid ++ leaves).distinct
  }

  test("chunked == unchunked == brute force on a hub graph") {
    val expect = brute(mixed)
    for (b <- Seq(4, 7, 16, 46340)) {
      val (got, total) = kernel(mixed, b)
      assert(got == expect, s"blockSize=$b")
      assert(total == expect.values.sum, s"blockSize=$b total")
    }
  }

  test("degree an exact multiple of blockSize") {
    val g = (1L to 12L).map(i => (7L, i + 30)) // degree 12, blocks of 4/6/12
    val expect = brute(g)
    for (b <- Seq(4, 6, 12)) {
      val (got, total) = kernel(g, b)
      assert(got == expect, s"blockSize=$b")
      assert(total == 66L)
    }
  }

  test("degree = blockSize + 1 (one-element trailing block)") {
    val g = (1L to 5L).map(i => (7L, i + 30))
    val (got, total) = kernel(g, 4)
    assert(got == brute(g))
    assert(total == 10L)
  }

  test("degree 1 centers emit nothing; empty input emits nothing") {
    val (got, total) = kernel(Seq((5L, 9L), (6L, 11L)), 4)
    assert(got.isEmpty && total == 0L)
    val (got2, total2) = kernel(Seq.empty, 4)
    assert(got2.isEmpty && total2 == 0L)
  }

  test("multiplicity: a pair shared by many centers counts per center") {
    // centers 1..6 all adjacent to {101, 102} -> pair (101,102) ×6
    val g = (1L to 6L).flatMap(c => Seq((c, 101L), (c, 102L)))
    val (got, total) = kernel(g, 4)
    assert(got == Map(((101L << 32) | 102L) -> 6L))
    assert(total == 6L)
  }

  test("heavy center past the old 46341 crash bound decomposes") {
    // Degree 300 with blockSize 64 — 5 blocks, 15 block-pair rows.
    // (A true 46341-degree center would take minutes in a unit test;
    // the decomposition arithmetic is identical, and the old require
    // is gone from the code path entirely.)
    val g = (1L to 300L).map(i => (9L, i + 1000))
    val expect = brute(g)
    val (got, total) = kernel(g, 64)
    assert(got == expect)
    assert(total == 300L * 299 / 2)
  }

  test("g5b with every node anchored IS the exact per-node top-5 board") {
    // sf0.001 has ~200 part nodes <= the 2000 anchor budget, so the
    // sampled scoreboard must EQUAL the brute-force full-population
    // per-node top-5 (the d25/DedupTopkSpec-style n <= A equality).
    val dir = "/root/testdata/sf0.001"
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
      .select("l_orderkey", "l_partkey").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val op = li.distinct
    val edges = op.groupBy(_._1).values.flatMap { g =>
      val ps = g.map(_._2).distinct.sorted
      for (i <- ps.indices; j <- (i + 1) until ps.length)
        yield (ps(i), ps(j))
    }.toSet
    val adj = edges.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    assert(adj.size <= 2000, "fixture must anchor every node")
    val expect = adj.keys.toSeq.sorted.flatMap { a =>
      val cn = scala.collection.mutable.Map.empty[Long, Long]
      for (m <- adj(a); x <- adj(m) if x != a)
        cn(x) = cn.getOrElse(x, 0L) + 1
      cn.toSeq
        .filter { case (x, _) =>
          !edges.contains((math.min(a, x), math.max(a, x))) }
        .sortBy { case (x, c) => (-c, x) }.take(5)
        .zipWithIndex.map { case ((x, c), i) => (a, i + 1, x, c) }
    }
    val got = Registry.queries("g5b_link_prediction_sampled")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(got == expect)
  }

  test("countByKeyMin == repartition+groupBy count at every minCount") {
    import spark.implicits._
    // keys with multiplicities 1..6 plus negative-ish spread patterns;
    // 3 partitions so runs cross partition boundaries only by key hash
    val rows = (1L to 6L).flatMap(k => Seq.fill(k.toInt)((k << 32) | (k + 9))) ++
      Seq.fill(4)(0L) ++ (100L to 160L).map(k => (k << 32) | 7L)
    val df = rows.toDF("pk")
    val expectAll = rows.groupBy(identity).map { case (k, v) =>
      k -> v.size.toLong }
    for (minC <- Seq(1L, 2L, 3L)) {
      val got = WedgeKernel.countByKeyMin(df, 3, minC).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expectAll.filter(_._2 >= minC), s"minCount=$minC")
    }
    // empty input emits nothing
    assert(WedgeKernel.countByKeyMin(Seq.empty[Long].toDF("pk"), 2, 2L)
      .collect().isEmpty)
    // oversized expectedRows routes to the spillable groupBy fallback
    // (round-17 advice guard) — identical counts, identical schema
    for (minC <- Seq(1L, 2L, 3L)) {
      val fb = WedgeKernel.countByKeyMin(df, 3, minC,
        expectedRows = WedgeKernel.MaxKernelRowsPerTask * 4L)
      assert(fb.columns.toSeq == Seq("pk", "common_neighbors"))
      val got = fb.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expectAll.filter(_._2 >= minC), s"fallback minCount=$minC")
    }
    // in-band expectedRows keeps the kernel path (same result either way)
    assert(WedgeKernel.countByKeyMin(df, 3, 2L, expectedRows = rows.size.toLong)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      == expectAll.filter(_._2 >= 2L))
  }

  test("blockSize bounds are enforced") {
    import spark.implicits._
    val df = Seq((1L, 2L)).toDF("c", "x")
    intercept[IllegalArgumentException] {
      WedgeKernel.pairPk(spark, df, 1)
    }
    intercept[IllegalArgumentException] {
      WedgeKernel.pairPk(spark, df, 46341)
    }
  }
}
