package graft.dev
import graft.GraftSession

/** Dev-only: write `explain("formatted")` for selected registry
  * queries to files — the round-17 optimization evidence trail
  * (`plans/r17/<query>_{before,after}.txt`).
  * usage: Test/runMain graft.dev.PlanDump <sfDir> <outDir> <suffix> <query>...
  * NOTE: driver-loop queries (streaming proofs, k-means/BPE training)
  * execute their loop jobs during construction; their dumped plan is
  * the final returned DataFrame's.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val suffix = args(2)
    val names = args.drop(3)
    val spark = GraftSession()
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { n =>
      val fn = graft.SparkEntry.queries(n)
      val df = fn(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(outDir, s"${n}_$suffix.txt"), plan)
      println(s"PLANDUMP wrote $outDir/${n}_$suffix.txt")
    }
    spark.stop()
  }
}
