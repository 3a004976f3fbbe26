package perfbench

import scala.util.Random
import scala.util.hashing.MurmurHash3
import scala.util.control.NonFatal

import graft.pipelines.{CovidDataTransform, CovidSimulator, WeatherForecast}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Releases what a finished call left behind, as `graft.Bench` does:
  * SQL-cached plans, checkpointed RDD blocks and, after a pass, streaming
  * queries and their memory-sink views. */
object Cleanup {
  def caches(spark: SparkSession): Double = Outcome.time {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }._2

  def streams(spark: SparkSession): Unit = {
    spark.streams.active.foreach(q => try q.stop() catch { case NonFatal(_) => () })
    try spark.catalog.listTables().collect()
      .filter(t => t.isTemporary && t.name.startsWith("stream_"))
      .foreach(t => spark.catalog.dropTempView(t.name))
    catch { case NonFatal(_) => () }
  }
}

/** Registry rows (`SparkEntry.queries`): each call builds the row's
  * DataFrame and counts it, the `graft.Bench` action. The seed permutes
  * the row order of every pass. */
final class RegistryWorkload(spark: SparkSession, dir: String,
    val calls: Seq[String]) extends Workload {

  private val fns = {
    val all = graft.SparkEntry.queries
    calls.map(n => n -> all.getOrElse(n,
      throw new IllegalArgumentException(s"no registry row '$n'"))).toMap
  }

  def order(rnd: Random): Seq[String] = rnd.shuffle(calls)

  def run(name: String): Outcome =
    try {
      val (df, buildS) = Outcome.time(fns(name)(spark, dir))
      Outcome(Seq("build_s" -> buildS, "rows" -> df.count()))
    } catch { case NonFatal(e) => Outcome(Outcome.failure(e)) }

  /** Row count plus an order-insensitive hash of the collected rows:
    * each row renders its columns, in name order, to a canonical string
    * that two seeded MurmurHash3 runs hash; the unsigned hashes are
    * summed, so row order does not matter. */
  def check(name: String): Seq[(String, Any)] =
    try {
      val df = fns(name)(spark, dir)
      val order = df.columns.zipWithIndex.sortBy(identity).map(_._2)
      val rows = df.collect()
      var lo, hi = 0L
      rows.foreach { r =>
        val s = order.map(i => render(r.get(i))).mkString("\u0001")
        lo += Integer.toUnsignedLong(MurmurHash3.stringHash(s, 0x3c074a61))
        hi += Integer.toUnsignedLong(MurmurHash3.stringHash(s, 0x5bd1e995))
      }
      Seq("rows" -> rows.length, "hash" -> f"$lo%x-$hi%x")
    } catch { case NonFatal(e) => Outcome.failure(e) }

  private def render(v: Any): String = v match {
    case null => "\u0000"
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }.sorted.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case d: java.math.BigDecimal => d.toPlainString
    case other => other.toString
  }

  def afterCall(): Double = Cleanup.caches(spark)
  def afterPass(): Double = { Cleanup.streams(spark); 0.0 }
}

/** The paper's chain on generated fixtures, one stage per call:
  * forecast (GHCND-like series → LSTM → `future_pred.csv`), transform
  * (→ `dataset_full.csv`), then the simulator's features, coefficients,
  * simulate and compareIntervention. Stages hand over through CSV files
  * as the reference scripts do; writing and re-reading them is timed as
  * `handoff_s` inside the call that does it. Outputs persist until the
  * end of the pass, where the chain is cleaned up. */
final class CovidWorkload(spark: SparkSession, get: String => String)
    extends Workload {

  val calls: Seq[String] =
    Seq("forecast", "transform", "features", "coefficients", "simulate", "compare")

  private val fixtures = get("fixture_dir")
  private val work = get("work_dir")
  private val horizon = get("horizon").toInt
  private val nTest = get("lstm.test").toInt

  private def csv(path: String): DataFrame =
    spark.read.option("header", true).option("inferSchema", true).csv(path)

  /** GHCND daily observations → one TAVG series per (country, state), the
    * forecast's input: blank station states become 'UNK', country names
    * are trimmed, stations of one location are averaged per day. */
  private def ghcndSeries(): DataFrame = {
    val stations = csv(s"$fixtures/weather_meta_data/ghcnd_stations.csv")
      .select(col("id"), coalesce(trim(col("state")), lit("UNK")).as("state"))
      .withColumn("state", when(col("state") === "", "UNK").otherwise(col("state")))
    val countries = csv(s"$fixtures/weather_meta_data/ghcnd_countries.csv")
      .select(col("code"), trim(col("name")).as("country"))
    csv(s"$fixtures/weather_data")
      .filter(col("element") === "TAVG")
      .select(col("id"), col("date").cast("int").as("date"),
        col("value").cast("double").as("value"))
      .join(stations, "id")
      .withColumn("code", substring(col("id"), 1, 2))
      .join(countries, "code")
      .groupBy("country", "state", "date").agg(avg("value").as("value"))
      .select(concat(col("country"), lit(" : "), col("state")).as("series"),
        col("date"), col("value"))
  }

  private var series: DataFrame = _
  private var forecast: (DataFrame, DataFrame, DataFrame) = _
  private var rmse: Array[Row] = Array.empty
  private var datasetFull: DataFrame = _
  private var feats: DataFrame = _
  private var coefs: DataFrame = _
  private var sim: Array[Row] = Array.empty
  private var cmp: Array[Row] = Array.empty

  def order(rnd: Random): Seq[String] = calls

  def run(name: String): Outcome =
    try Outcome(stage(name)) catch { case NonFatal(e) => Outcome(Outcome.failure(e)) }

  private def stage(name: String): Seq[(String, Any)] = name match {
    case "forecast" =>
      val (s, readS) = Outcome.time { series = ghcndSeries(); series }
      val (_, runS) = Outcome.time {
        forecast = WeatherForecast.run(spark, s, minRows = get("min_rows").toInt,
          nTest = nTest, horizon = horizon, model = "lstm",
          nSteps = get("lstm.steps").toInt, hidden = get("lstm.hidden").toInt,
          epochs = get("lstm.epochs").toInt, patience = get("lstm.patience").toInt)
        rmse = forecast._3.collect()
      }
      val (_, writeS) = Outcome.time {
        val parts = split(col("series"), " : ")
        forecast._2.select(col("pred").as("TAVG_pred"), parts.getItem(1).as("state"),
            col("date"), parts.getItem(0).as("country"), col("date_idx"))
          .coalesce(1).write.mode("overwrite").option("header", true)
          .csv(s"$fixtures/output/weather_output/future_pred.csv")
      }
      Seq("rows" -> rmse.length, "stage_s" -> runS, "handoff_s" -> (readS + writeS))
    case "transform" =>
      val path = s"$work/dataset_full.csv"
      val (_, runS) = Outcome.time {
        CovidDataTransform.run(spark, fixtures)
          .write.mode("overwrite").option("header", true).csv(path)
      }
      val (_, readS) = Outcome.time { datasetFull = csv(path) }
      Seq("stage_s" -> runS, "handoff_s" -> readS)
    case "features" =>
      val (n, s) = Outcome.time {
        feats = CovidSimulator.features(spark, datasetFull).persist()
        feats.count()
      }
      Seq("rows" -> n, "stage_s" -> s)
    case "coefficients" =>
      val (n, s) = Outcome.time {
        coefs = CovidSimulator.coefficients(feats).persist()
        coefs.count()
      }
      Seq("rows" -> n, "stage_s" -> s)
    case "simulate" =>
      val (_, s) = Outcome.time { sim = CovidSimulator.simulate(feats, coefs).collect() }
      Seq("rows" -> sim.length, "stage_s" -> s)
    case "compare" =>
      val (_, s) = Outcome.time {
        cmp = CovidSimulator.compareIntervention(feats, coefs).collect()
      }
      Seq("rows" -> cmp.length, "stage_s" -> s)
  }

  /** Runs the stage, then the invariants the fixture sizes determine. */
  def check(name: String): Seq[(String, Any)] = {
    val ran = run(name).fields
    if (ran.exists(_._1 == "error")) ran else ran.filter(_._1 != "rows") ++ invariants(name)
  }

  private def invariants(name: String): Seq[(String, Any)] =
    try name match {
      case "forecast" =>
        val fp = forecast._2.groupBy("series")
          .agg(count(lit(1)).as("n"), min("date_idx").as("lo"), max("date_idx").as("hi"))
        Seq("series_total" -> series.select("series").distinct().count(),
          "series_admitted" -> rmse.length,
          "rmse_nonfinite" -> rmse.count { r =>
            val v = r.getAs[Double]("rmse"); v.isNaN || v.isInfinite },
          "horizon_rows" -> forecast._2.count(),
          "horizon_bad_series" -> fp.filter(col("n") =!= horizon || col("lo") =!= 0 ||
            col("hi") =!= horizon - 1).count(),
          "pred_actual_rows" -> forecast._1.count())
      case "transform" =>
        Seq("rows" -> datasetFull.count(),
          "locations" -> datasetFull.select("location_name").distinct().count())
      case "features" =>
        Seq("rows" -> feats.count(),
          "gov_action_values" -> feats.select("gov_action").distinct().count())
      case "coefficients" =>
        Seq("rows" -> coefs.count(),
          "nonfinite" -> coefs.filter(isnan(col("lag_confirmed")) ||
            col("lag_confirmed").isNull).count())
      case "simulate" =>
        Seq("rows" -> sim.length,
          "negative_pred_removed" -> sim.count(_.getAs[Double]("pred_removed") < 0))
      case "compare" =>
        Seq("rows" -> cmp.length,
          "diff_removed_nonzero" -> cmp.count(r =>
            math.abs(r.getAs[Double]("diff_removed")) > 1e-9))
    } catch { case NonFatal(e) => Outcome.failure(e) }

  def afterCall(): Double = 0.0

  def afterPass(): Double = {
    series = null; forecast = null; datasetFull = null; feats = null; coefs = null
    Cleanup.caches(spark)
  }
}
