package graft

import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Invariant tests for the round-5 training-data operators (value-level
  * correctness is the driver's DuckDB gate; these pin the structural
  * properties that survive refactors): connected-component labels are
  * component minima, chunking tiles documents exactly, stratified
  * sampling keeps whole strata at rate 1.
  */
class TrainingOpsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sfDir = "/root/testdata/sf0.01"

  private lazy val spark = GraftSession(4)

  override def afterAll(): Unit = spark.stop()

  test("d9 clusters: label = min member, pairs land in one cluster") {
    val comp = SparkEntry.queries("d9_dedup_clusters")(spark, sfDir)
      .persist()
    // cluster id is the minimum doc_id of its members
    val badMin = comp.groupBy("cluster")
      .agg(min("doc_id").as("mn"))
      .filter(col("cluster") =!= col("mn"))
      .count()
    assert(badMin == 0)
    // every verified near-dup pair maps into a single cluster
    val pairs = SparkEntry.queries("d4_minhash_lsh")(spark, sfDir)
      .select("doc_a", "doc_b")
    val ca = comp.select(col("doc_id").as("doc_a"), col("cluster").as("cl_a"))
    val cb = comp.select(col("doc_id").as("doc_b"), col("cluster").as("cl_b"))
    val split = pairs.join(ca, Seq("doc_a")).join(cb, Seq("doc_b"))
      .filter(col("cl_a") =!= col("cl_b")).count()
    assert(split == 0)
    comp.unpersist()
  }

  test("t8 chunks tile each document: stride 30, size <= 40, gapless") {
    val chunks = SparkEntry.queries("t8_token_chunks")(spark, sfDir)
      .persist()
    assert(chunks.filter(col("start_tok") =!= col("chunk_idx") * 30)
      .count() == 0)
    assert(chunks.filter(col("n_tok") > 40 || col("n_tok") < 0).count() == 0)
    // every doc appears, chunk indexes are dense 0..k
    val perDoc = chunks.groupBy("doc_id")
      .agg(count(lit(1)).as("k"), max("chunk_idx").as("mx"))
    assert(perDoc.filter(col("mx") =!= col("k") - 1).count() == 0)
    val nDocs = spark.read.parquet(s"$sfDir/documents.parquet").count()
    assert(perDoc.count() == nDocs)
    chunks.unpersist()
  }

  test("p11 stratified sample: rate-1 strata keep everything") {
    val out = SparkEntry.queries("p11_stratified_sample")(spark, sfDir)
    val full = out
      .filter(col("source").isin("src0", "src1", "src2", "src3", "src4"))
    assert(full.filter(col("n_kept") =!= col("n_total")).count() == 0)
    // lower-rate strata keep strictly less than everything (md5 spread)
    val some = out.filter(col("source").isin("src15", "src16"))
      .filter(col("n_kept") >= col("n_total")).count()
    assert(some == 0)
  }

  test("s6 multi-probe is a superset-or-equal recall of s2 single-bucket") {
    // every (query, neighbor) s2 returns at rank<=3 has cosine <= the
    // rank-3 cosine of s6 for that query (s6 searches strictly more
    // buckets, so its top-3 dominates)
    val s2 = SparkEntry.queries("s2_lsh_ann")(spark, sfDir)
      .groupBy("query_id").agg(max("cosine").as("best2"))
    val s6 = SparkEntry.queries("s6_lsh_multiprobe")(spark, sfDir)
      .groupBy("query_id").agg(max("cosine").as("best6"))
    val worse = s2.join(s6, Seq("query_id"))
      .filter(col("best6") < col("best2")).count()
    assert(worse == 0)
  }

  test("Corpus stratum thresholds: strict aborts on a malformed source, " +
      "lenient quarantines it into the 1/8 bucket") {
    import spark.implicits._
    import graft.ops.Corpus
    val good = Seq("src3", "src7", "src12", "src20").toDF("source")
    // strict and lenient agree wherever strict is defined
    assert(good.filter(Corpus.sourceThresholdLenient(col("source"))
      =!= Corpus.sourceThreshold(col("source"))).count() == 0)
    val bad = Seq("srcX", "src3").toDF("source")
    intercept[Exception] {
      bad.select(Corpus.sourceThreshold(col("source"))).collect()
    }
    val lenient = bad.select(
      Corpus.sourceThresholdLenient(col("source")).as("thr"),
      Corpus.stratumUnparseable(col("source")).as("quarantined")).collect()
    assert(lenient.exists(r => r.getString(0) == "20" && r.getBoolean(1)))
    assert(lenient.exists(r => r.getString(0) == "zz" && !r.getBoolean(1)))
  }
}
