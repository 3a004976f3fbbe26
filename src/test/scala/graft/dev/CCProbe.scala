package graft.dev

import graft.GraftSession
import org.apache.spark.sql.functions._

/** Probe: rounds + wall time of the pointer-jumping CC
  * (graft.ops.ConnectedComponents) on (a) the real d4 near-dup graph
  * and (b) adversarial chain graphs of growing depth — the case plain
  * min-label propagation handles in O(d) rounds and the escalation
  * must handle in O(log d).
  * usage: Test/runMain graft.dev.CCProbe [sfDir]
  */
object CCProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = GraftSession()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    def sym(df: org.apache.spark.sql.DataFrame) =
      df.union(df.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))

    // (a) the real near-dup graph
    val t0 = System.nanoTime()
    val pairs = graft.SparkEntry.queries("d4_minhash_lsh")(spark, dir)
      .select("doc_a", "doc_b")
    val (lbl, rounds) = graft.ops.ConnectedComponents.minLabel(sym(pairs))
    println(f"d4-graph  rounds=$rounds  nverts=${lbl.count()}  " +
      f"${(System.nanoTime() - t0) / 1e9}%.2fs")

    // (b) adversarial chains: depth d needs d rounds without jumping
    for (n <- Seq(256L, 1024L, 4096L, 16384L)) {
      val t1 = System.nanoTime()
      val chain = (0L until n - 1).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
      val (cl, r) = graft.ops.ConnectedComponents.minLabel(sym(chain))
      val bad = cl.filter(col("lbl") =!= 0L).count()
      println(f"chain n=$n  rounds=$r  mislabeled=$bad  " +
        f"${(System.nanoTime() - t1) / 1e9}%.2fs")
    }
    spark.stop()
  }
}
