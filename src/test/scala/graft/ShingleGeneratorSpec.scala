package graft

import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The `graft_shingles(text, k)` native GENERATOR
  * ([[graft.functions.ShingleGenerator]]): bit-identity against the
  * retired mapPartitions spelling it replaced, edge semantics, and the
  * codegen'd Generate plan shape (the scan→Generate fusion that is the
  * whole point of the UDTF tier).
  */
class ShingleGeneratorSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sfDir = "/root/testdata/sf0.001"

  private lazy val spark = GraftSession(4)

  override def afterAll(): Unit = spark.stop()

  /** The exact Dataset spelling shingled() used before the generator —
    * kept here as the reference implementation. */
  private def legacyShingled() = {
    import spark.implicits._
    graft.ops.Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions(_.flatMap { case (id, text) =>
        val toks = text.split(" ").filter(_.nonEmpty)
        val shs =
          if (toks.length < 3) Set.empty[String]
          else toks.sliding(3).map(_.mkString(" ")).toSet
        shs.iterator.map(sh => graft.queries.ShingleRow(id, shs.size, sh))
      })
      .toDF()
  }

  private def generated() =
    graft.ops.Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), expr("graft_shingles(text, 3)"))

  test("bit-identity with the mapPartitions spelling over the full corpus") {
    val a = generated().collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).sorted
    val b = legacyShingled().collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).sorted
    assert(a.length == b.length && a.length > 1000, s"${a.length} rows")
    assert(a.sameElements(b))
  }

  test("edges: short text emits nothing, repeats dedup, null text emits nothing") {
    import spark.implicits._
    val df = Seq(
      (1L, "a b"),                       // < k tokens
      (2L, "a  b   c a b c a b c d"),    // empties dropped, dup 3-grams
      (3L, null.asInstanceOf[String]))
      .toDF("id", "text")
      .select(col("id"), expr("graft_shingles(text, 3)"))
    val rows = df.collect().map(r =>
      (r.getLong(0), r.getInt(1), r.getString(2))).sorted.toSeq
    // tokens of doc 2: a b c a b c a b c d → distinct 3-grams:
    // "a b c", "b c a", "c a b", "b c d"
    assert(rows == Seq((2L, 4, "a b c"), (2L, 4, "b c a"),
      (2L, 4, "b c d"), (2L, 4, "c a b")))
  }

  test("k is honored and a non-literal k fails analysis loudly") {
    import spark.implicits._
    val one = Seq((1L, "x y z w")).toDF("id", "text")
    val k2 = one.select(expr("graft_shingles(text, 2)"))
      .collect().map(_.getString(1)).sorted.toSeq
    assert(k2 == Seq("x y", "y z", "z w"))
    val e = intercept[Exception] {
      one.select(expr("graft_shingles(text, CAST(id AS INT))")).collect()
    }
    assert(e.getMessage.contains("integer literal"), e.getMessage)
  }

  test("plan: Generate graft_shingles fuses into whole-stage codegen with the scan") {
    val p = generated().queryExecution.executedPlan.toString
    assert(p.contains("graft_shingles"), p.take(2000))
    // the Generate rides inside a WholeStageCodegen span (codegen'd
    // CollectionGenerator — no CodegenFallback, no typed ser/de)
    val gen = p.linesIterator.find(_.contains("Generate")).get
    assert(gen.trim.startsWith("*"),
      s"Generate not codegen'd:\n${p.take(2000)}")
    assert(!p.contains("DeserializeToObject"), p.take(2000))
  }
}
