package graft

import graft.ops.BpeTrainer
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The task-local BPE trainer (t31's kernel): exact agreement with a
  * naive from-scratch recount trainer over the FULL 1000-merge trace
  * (the incremental pair-count updates change the cost, never the
  * function), structural invariants, and the measured rounds-per-merge
  * win over the t28 driver loop.
  */
class BpeTrainerSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sfDir = "/root/testdata/sf0.001"

  private lazy val spark = GraftSession(4)

  override def afterAll(): Unit = spark.stop()

  /** t31's unit table: adjacent clean-word bigrams with frequencies. */
  private lazy val units: IndexedSeq[(String, Long)] = {
    import spark.implicits._
    val toks = graft.ops.Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("j0", "w0")))
      .select(col("doc_id"), (col("j0") + 1).as("j"),
        lower(col("w0")).as("w"))
      .filter(col("w").rlike("^[a-z]+$") && length(col("w")) >= 2)
    val wnd = Window.partitionBy("doc_id").orderBy("j")
    toks.withColumn("nj", lead("j", 1).over(wnd))
      .withColumn("nw", lead("w", 1).over(wnd))
      .filter(col("nj") === col("j") + 1)
      .select(concat(col("w"), lit("_"), col("nw")).as("u"))
      .groupBy("u").agg(count(lit(1)).as("cnt"))
      .as[(String, Long)].collect().sortBy(_._1).toIndexedSeq
  }

  /** From-scratch reference: recount EVERY pair over EVERY unit each
    * merge — O(vocab) per merge, no incremental state to get wrong. */
  private def naiveTrain(us: IndexedSeq[(String, Long)], maxMerges: Int)
      : (IndexedSeq[BpeTrainer.Merge], IndexedSeq[String]) = {
    val seg = Array.tabulate(us.length)(i =>
      us(i)._1.map(_.toString).mkString(" "))
    val out = scala.collection.mutable.ArrayBuffer.empty[BpeTrainer.Merge]
    var it = 1
    var done = false
    while (it <= maxMerges && !done) {
      val pc = scala.collection.mutable.HashMap.empty[(String, String), Long]
      for (i <- seg.indices) {
        val syms = seg(i).split(' ')
        for (j <- 0 until syms.length - 1)
          pc.updateWith((syms(j), syms(j + 1)))(
            v => Some(v.getOrElse(0L) + us(i)._2))
      }
      if (pc.isEmpty) done = true
      else {
        val (bk, bn) = pc.toSeq.minBy { case ((l, r), n) => (-n, l, r) }
        out += BpeTrainer.Merge(it, bk._1, bk._2, bn)
        val pat = bk._1 + " " + bk._2
        for (i <- seg.indices)
          if (seg(i).contains(pat)) seg(i) = seg(i).replace(pat, bk._1 + bk._2)
        it += 1
      }
    }
    (out.toIndexedSeq, seg.toIndexedSeq)
  }

  test("unit table has the diversity a real merge count needs") {
    assert(units.length > 500, s"only ${units.length} units")
    assert(units.map { case (u, _) => u.length - 1 }.sum > 2000)
  }

  test("incremental trainer agrees with the naive recount trainer on all 1000 merges") {
    val (fast, fastSeg) = BpeTrainer.train(units, 1000)
    val (slow, slowSeg) = naiveTrain(units, 1000)
    assert(fast.length == slow.length)
    val firstDiff = fast.zip(slow).indexWhere { case (a, b) => a != b }
    assert(firstDiff == -1,
      s"traces diverge at $firstDiff: ${fast.lift(firstDiff)} vs " +
        s"${slow.lift(firstDiff)}")
    assert(fastSeg == slowSeg)
  }

  test("1000 merges train in bounded time (the rounds-per-merge win)") {
    BpeTrainer.train(units, 1000) // warm JIT
    val t0 = System.nanoTime()
    val (merges, _) = BpeTrainer.train(units, 1000)
    val ms = (System.nanoTime() - t0) / 1e6
    assert(merges.length >= 500, s"exhausted at ${merges.length}")
    info(f"${merges.length} merges in $ms%.0f ms " +
      f"(${ms / merges.length}%.3f ms/merge; the t28 driver loop " +
      f"measures ~320 ms/merge)")
    assert(ms < 5000, f"training took $ms%.0f ms")
  }

  test("invariants: positive argmax counts, space-erasure preserves characters") {
    val (merges, segs) = BpeTrainer.train(units, 1000)
    assert(merges.forall(_.n > 0))
    // each merge removes exactly the spaces between l and r: stripping
    // all spaces from the final segmentation recovers the unit
    units.indices.foreach { i =>
      assert(segs(i).replace(" ", "") == units(i)._1,
        s"unit ${units(i)._1} corrupted to ${segs(i)}")
    }
    // iters are dense 1..k and learned symbols compose (each merged
    // symbol is the concatenation of its parts)
    assert(merges.map(_.iter) == (1 to merges.length))
  }
}
