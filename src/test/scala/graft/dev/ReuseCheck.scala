package graft.dev
import graft.GraftSession
object ReuseCheck {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession()
    spark.sparkContext.setLogLevel("ERROR")
    for (n <- args.drop(1)) {
      val df = graft.SparkEntry.queries(n)(spark, args(0))
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      val ids = "ShuffleQueryStage ([0-9]+)".r.findAllMatchIn(p)
        .map(_.group(1)).toList
      println(s"REUSECHECK $n shuffleStages=${ids.size} " +
        s"distinct=${ids.distinct.size} ids=${ids.mkString(",")}")
    }
    spark.stop()
  }
}
