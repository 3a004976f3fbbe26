package graft.dev

import graft.GraftSession
import org.apache.spark.sql.functions._

/** Multi-seed bands for the 9 series that miss the M5 full-population
  * comparability band (round-16 verdict ask #6): the committed golden
  * is ONE unseeded Keras draw per series, so a band miss can be seed
  * luck rather than a fit bug. This probe retrains each miss series
  * with the production seed plus 4 alternates (identical
  * 120/16/250/25 protocol) and prints the per-series seed-to-seed
  * spread next to the committed score and the band threshold
  * max(2.5 × committed, corpus p75). If the committed score sits
  * inside (or the band intersects) the spread, the miss is draw
  * variance — the unseeded-Keras argument made quantitative; a series
  * whose WHOLE spread stays above the band is a real fit bug.
  * usage: Test/runMain graft.dev.M5Seeds
  */
object M5Seeds {
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
    val committed = spark.read.option("header", true)
      .option("inferSchema", true)
      .csv(s"$refDir/output/weather_output/rsme_score.csv")
      .select(concat(col("country"), lit(" : "), col("state")).as("series"),
        col("TAVG_rmse").cast("double").as("rmse_gold"))
      .as[(String, Double)].collect().toMap
    val sorted = committed.values.toSeq.sorted
    val goldP75 = sorted(math.min(sorted.size - 1, (0.75 * sorted.size).toInt))
    val missSeries = Seq("Chile : UNK", "Iran : UNK", "Korea, South : UNK",
      "Puerto Rico [United States] : PR", "Tajikistan : UNK",
      "United States : KS", "United States : MN", "United States : OR",
      "United States : RI")
    val data = all.filter(col("series").isin(missSeries: _*))
      .as[(String, Int, Double)].collect()
      .groupBy(_._1)
      .map { case (k, rows) =>
        k -> rows.sortBy(_._2).map(_._3)
      }
    for (name <- missSeries) {
      val raw = data(name)
      val maxabs = raw.map(math.abs).max
      val xs = raw.map(_ / maxabs)
      val baseSeed = name.hashCode.toLong & 0x7fffffffL
      val seeds = Seq(baseSeed, 7L, 13L, 101L, 1234567L).distinct
      val scores = seeds.map { sd =>
        val (_, rmse) = graft.ops.Lstm.trainSeries(
          xs, h = 16, nSteps = 120, nTest = 10,
          epochs = 250, patience = 25, seed = sd)
        sd -> rmse
      }
      val band = math.max(committed(name) * 2.5, goldP75)
      val lo = scores.map(_._2).min
      val hi = scores.map(_._2).max
      val verdict =
        if (committed(name) >= lo && committed(name) <= hi) "GOLD-IN-SPREAD"
        else if (lo <= band) "BAND-IN-SPREAD"
        else "ROBUST-MISS"
      println(f"M5SEEDS ${name}%-34s gold=${committed(name)}%.4f " +
        f"band=$band%.4f spread=[$lo%.4f, $hi%.4f] " +
        scores.map { case (sd, r) => f"$sd:$r%.4f" }.mkString(" ") +
        s" -> $verdict")
    }
    spark.stop()
  }
}
