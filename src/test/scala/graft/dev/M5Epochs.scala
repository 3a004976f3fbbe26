package graft.dev

import graft.GraftSession
import org.apache.spark.sql.functions._

/** Step-count experiment for the robust M5 band misses: Keras
  * `model.fit` runs ceil(nTrain/32) SHUFFLED minibatch steps per
  * epoch (weather_pred.py passes no batch_size, so 32), while our
  * adamTrain takes ONE full-batch step per epoch — at the reference's
  * 250-epoch protocol we take ~half the optimizer steps on a ~50-
  * window series. This probe retrains the 9 miss series at matched
  * STEP counts (epochs × ceil(nTrain/32)) to see whether the robust
  * misses are an undertraining artifact of the epoch≠step mismatch.
  * usage: Test/runMain graft.dev.M5Epochs
  */
object M5Epochs {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession(8)
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val refDir = "/root/reference/scripts"
    val all = spark.read.option("header", true).option("inferSchema", true)
      .csv(s"$refDir/output/weather_output/future_pred.csv")
      .select(concat(col("country"), lit(" : "), col("state")).as("series"),
        col("date").cast("int").as("date"),
        col("TAVG_pred").cast("double").as("value"))
    val missSeries = Seq("Chile : UNK", "Iran : UNK", "Korea, South : UNK",
      "Puerto Rico [United States] : PR", "Tajikistan : UNK",
      "United States : KS", "United States : MN", "United States : OR",
      "United States : RI")
    val data = all.filter(col("series").isin(missSeries: _*))
      .as[(String, Int, Double)].collect()
      .groupBy(_._1).map { case (k, rows) =>
        k -> rows.sortBy(_._2).map(_._3)
      }
    for (name <- missSeries) {
      val raw = data(name)
      val maxabs = raw.map(math.abs).max
      val xs = raw.map(_ / maxabs)
      val seed = name.hashCode.toLong & 0x7fffffffL
      val nTrain = xs.length - 120 - 10
      val stepsPerEpoch = (nTrain + 31) / 32
      val res = Seq(
        ("e250/p25 (committed)", 250, 25),
        (s"e${250 * stepsPerEpoch}/p${25 * stepsPerEpoch} (step-matched)",
          250 * stepsPerEpoch, 25 * stepsPerEpoch),
        ("e1000/p100 (converged)", 1000, 100))
        .map { case (tag, ep, pa) =>
          val (fit, rmse) = graft.ops.Lstm.trainSeries(
            xs, h = 16, nSteps = 120, nTest = 10,
            epochs = ep, patience = pa, seed = seed)
          f"$tag rmse=$rmse%.4f best=${fit.bestEpoch} ran=${fit.epochsRun}"
        }
      println(s"M5EPOCHS $name\n  " + res.mkString("\n  "))
    }
    spark.stop()
  }
}
