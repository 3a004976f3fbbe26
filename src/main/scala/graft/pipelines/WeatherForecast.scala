package graft.pipelines

import java.time.LocalDate
import java.time.format.DateTimeFormatter.BASIC_ISO_DATE

import graft.ops.{Lstm, Sequential}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Tagged union of the three output kinds one forecast series emits. */
case class ForecastOut(kind: String, series: String, date: Int,
    date_idx: Int, pred: Double, actual: Double)

/** The reference's per-location forecasting pipeline
  * (weather_pred.py __main__, SURVEY.md §3.2): one per-series
  * `groupByKey.flatMapGroups` fold that holds the whole protocol —
  * series admission (A8), abs-max normalization (W8), train/test tail
  * split (O3), one-step test evaluation + RMSE (M6), autoregressive
  * future rollout (W7), de-normalization — and the output contract
  * (pred_actual, future_pred, rsme_score). Each group task fits its own
  * series single-threaded: the reference's one-model-per-(country,
  * state, feature) shape is embarrassingly parallel across series,
  * with no driver state and no shuffle beyond the one series
  * partition. Only the model differs:
  *
  *   - `model = "lstm"`, the DEFAULT and the reference's ACTUAL model:
  *     LSTM(H) → Dense(1, tanh) trained to convergence with full-batch
  *     adam and EarlyStopping(patience, restore_best_weights)
  *     ([[graft.ops.Lstm.trainSeries]], weather_pred.py:108-116,
  *     304-311), rolled out by [[graft.ops.Lstm.netRollout]].
  *     LstmTrainingSpec proves the kernel (gradient vs finite
  *     differences; convergence + committed-scale RMSE at the
  *     reference's exact 365/30/50 shape).
  *   - `model = "ar1"`, the fast flag (documented substitution, SURVEY
  *     §7.3 #3): closed-form OLS AR(1), rolled out by
  *     [[graft.ops.Sequential.arRollout]].
  *
  * PipelinesSpec drives both models end-to-end and replays the AR(1)
  * protocol straight-line.
  */
object WeatherForecast {

  /** The pipeline entry point. `model = "lstm"` (the default) is the
    * reference's documented mode; `model = "ar1"` is the fast
    * closed-form flag for smoke runs and series too short for the
    * window shape. `nSteps`/`hidden`/`epochs`/`patience` shape the
    * LSTM and default to the reference's values (365/50/500/25); the
    * LSTM admits only series long enough for `nTest` test windows.
    *
    * @param series (series string, date int yyyyMMdd, value double)
    * @return (predActual, futurePred, rmseScore) */
  def run(spark: SparkSession, series: DataFrame,
      minRows: Int = 60, nTest: Int = 10, horizon: Int = 30,
      model: String = "lstm", nSteps: Int = 365, hidden: Int = 50,
      epochs: Int = 500, patience: Int = 25)
      : (DataFrame, DataFrame, DataFrame) = {
    import spark.implicits._
    val minLen = model match {
      case "lstm" => math.max(minRows, nSteps + nTest + 1)
      case "ar1" => minRows
      case other => throw new IllegalArgumentException(
        s"unknown forecast model '$other' (expected lstm or ar1)")
    }
    // ONE fit per series, run here into a local checkpoint that the three
    // outputs read and the ContextCleaner frees with them (no CacheManager
    // entry). Bounded: (nTest + horizon + 1) rows per series.
    val tagged = series.select("series", "date", "value")
      .as[(String, Int, Double)]
      .groupByKey(_._1)
      .flatMapGroups { (key, it) =>
        val rows = it.toArray.sortBy(_._2)
        if (rows.length < minLen) Iterator.empty
        else {
          val maxabs = rows.iterator.map(r => math.abs(r._3)).max
          val xs = rows.map(_._3 / maxabs)
          val fit =
            if (model == "ar1") ar1(xs, nTest, horizon)
            else Some(lstm(xs, nTest, horizon, nSteps, hidden, epochs,
              patience, seed = key.hashCode.toLong & 0x7fffffffL))
          fit.iterator.flatMap { case (test, rmse, future) =>
            val pa = test.zip(rows.takeRight(nTest)).map { case (p, r) =>
              ForecastOut("pa", key, r._2, 0, p * maxabs, r._3)
            }
            val lastDate = LocalDate.parse(rows.last._2.toString,
              BASIC_ISO_DATE)
            val fp = future.zipWithIndex.map { case (p, i) =>
              ForecastOut("fp", key,
                lastDate.plusDays(i + 1L).format(BASIC_ISO_DATE).toInt,
                i, p * maxabs, 0.0)
            }
            (pa :+ ForecastOut("rs", key, 0, nTest, rmse, 0.0)) ++ fp
          }
        }
      }.toDF().localCheckpoint()
    val predActual = tagged.filter(col("kind") === "pa")
      .select("series", "date", "pred", "actual")
    val futurePred = tagged.filter(col("kind") === "fp")
      .select("series", "date", "date_idx", "pred")
      .orderBy("series", "date_idx")
    val rmseScore = tagged.filter(col("kind") === "rs")
      .select(col("series"), round(col("pred"), 6).as("rmse"),
        col("date_idx").cast("long").as("n_test"))
      .orderBy("series")
    (predActual, futurePred, rmseScore)
  }

  /** One series' fit on the normalized scale: the one-step predictions
    * of its last `nTest` values, their RMSE, and the `horizon`-step
    * rollout from its last value. */
  private type Fit = (Seq[Double], Double, Seq[Double])

  /** M5 substitution: AR(1) by closed-form OLS on the train prefix
    * (every pair but those ending in the last `nTest` values). None when
    * the lagged values are (near) constant, so the slope is undefined. */
  private def ar1(xs: Array[Double], nTest: Int, horizon: Int): Option[Fit] = {
    val nTrain = xs.length - nTest
    var n, sx, sy, sxy, sxx = 0.0
    var i = 1
    while (i < nTrain) {
      val (p, y) = (xs(i - 1), xs(i))
      n += 1; sx += p; sy += y; sxy += p * y; sxx += p * p
      i += 1
    }
    if (!(sxx - sx * sx / n > 1e-12)) None
    else {
      val b = (sxy - sx * sy / n) / (sxx - sx * sx / n)
      val a = sy / n - b * sx / n
      val test = (nTrain until xs.length).map(i => a + b * xs(i - 1))
      val sse = test.indices.map { j =>
        val d = test(j) - xs(nTrain + j); d * d }.sum
      Some((test, math.sqrt(sse / nTest),
        Sequential.arRollout(IndexedSeq(xs.last), IndexedSeq(b), a, horizon)))
    }
  }

  /** The reference's model: an LSTM trained on the series' windows, its
    * test windows predicted and its last window rolled out. */
  private def lstm(xs: Array[Double], nTest: Int, horizon: Int, nSteps: Int,
      hidden: Int, epochs: Int, patience: Int, seed: Long): Fit = {
    val (fit, rmse) = Lstm.trainSeries(xs, hidden, nSteps, nTest, epochs,
      patience, seed)
    val test = Lstm.splitSequence(xs, nSteps).takeRight(nTest).toSeq
      .map { case (w, _) => Lstm.netPredict(w, fit.params, hidden) }
    (test, rmse, Lstm.netRollout(xs.takeRight(nSteps), horizon, fit.params,
      hidden).toSeq)
  }
}
