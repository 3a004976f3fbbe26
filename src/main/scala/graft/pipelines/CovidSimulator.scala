package graft.pipelines

import graft.ops.{MixedLm, Sequential}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{DoubleType, IntegerType}

/** Per-state simulation row (top-level for Encoders). */
case class SimRow(state: String, rn: Int, confirmed: Double, removed: Double,
    population: Double, z1: Double, r0: Double, beta: Double)
case class SimOut(state: String, rn: Int, pred_confirmed: Double,
    pred_removed: Double, pred_susceptible: Double)

/** The reference's causal-simulation pipeline (covid_simulator.py
  * __main__ → causal_simulation, SURVEY.md §3.3) over the
  * `dataset_full` produced by [[CovidDataTransform]]:
  *
  *  1. [[features]] — the pandasql feature engineering (temperature
  *     bands, gov_action date threshold, compound state key) rewritten
  *     to Spark SQL, then the per-state window layer: trim to first
  *     confirmed>0 (W3), lag/diff columns (W1/W2), removed =
  *     death+recovered, R₀ from the first-30 positive increments (A9)
  *     with mean imputation (A10).
  *  2. [[coefficients]] — the real mixed model (round 9, closing SURVEY
  *     §7.3 #1): d_removed ~ Intercept + gov_action + TAVG +
  *     lag_confirmed with random (Intercept, lag_confirmed) per state,
  *     fit by REML-EM ([[graft.ops.MixedLm]] — statsmodels MixedLM's
  *     default flavor), emitted in the committed `recover_coefs.csv`
  *     column shape, with the reference's negative-β mean imputation.
  *  3. [[simulate]] — the discrete SIR recurrence (W6/M4,
  *     [[graft.ops.Sequential.sirSimulate]]) per state driven by the
  *     per-state coefficients, with the bias adjustment (M8:
  *     pred_removed -= |mean bias|, clamp at 0).
  */
object CovidSimulator {

  /** The committed per-state US time series (pop_dataset.csv,
    * 2020-02-28..04-19 — the reference simulator's committed
    * intermediate) reshaped to the dataset_full schema. TAVG is 0
    * (the raw GHCN weather blobs are not committed), which the model
    * carries as a zero-variance covariate absorbed by the ridge.
    */
  def loadPopDataset(spark: SparkSession, refDir: String): DataFrame = {
    CovidDataTransform.readCsv(spark,
        s"$refDir/data/simulation_data/pop_dataset.csv",
        Map("date" -> IntegerType, "positive" -> DoubleType,
          "recovered" -> DoubleType, "death" -> DoubleType,
          "population" -> DoubleType))
      .select(col("date"), lit("United States").as("country_region"),
        col("state").as("province_state"), col("positive").as("confirmed"),
        col("recovered"), col("death"), col("population"),
        lit(0.0).as("TAVG"), lit(-1.0).as("date_idx"))
      .withColumn("location_name",
        concat(col("country_region"), lit(" : "), col("province_state")))
  }

  /** Stage 1-5 of §3.3 (covid_simulator.py:335-448). */
  def features(spark: SparkSession, datasetFull: DataFrame,
      startDate: String = "2020-02-22",
      holdoutDate: String = "2020-04-20"): DataFrame = {
    // NB: like SQLite, Spark resolves TAVG in the CASEs to the RAW
    // input column, not the TAVG/10 alias — reproduced deliberately.
    val dateval = "date_format(to_date(CAST(date AS STRING), 'yyyyMMdd'), 'yyyy-MM-dd')"
    val projected = datasetFull.selectExpr("province_state",
        "country_region AS country", "date", "confirmed", "recovered",
        "death", "population", "TAVG/10 AS TAVG", "location_name",
        s"$dateval AS dateval",
        "country_region || '-' || province_state AS state",
        "CASE WHEN TAVG <= 0 THEN 1 ELSE 0 END AS is_freezing",
        "CASE WHEN TAVG > 0 AND TAVG/10 < 20 THEN 1 ELSE 0 END AS is_cold",
        "CASE WHEN TAVG >= 20 AND TAVG/10 < 35 THEN 1 ELSE 0 END AS is_warm",
        "CASE WHEN TAVG >= 35 THEN 1 ELSE 0 END AS is_hot",
        "CASE WHEN TAVG >= 20 THEN 1 ELSE 0 END AS temp_th",
        s"CASE WHEN to_date($dateval) > DATE '2020-03-20' THEN 1 ELSE 0 END " +
          "AS gov_action")
      .dropDuplicates()
      .withColumn("Intercept", lit(1.0))
      .filter(col("dateval") >= startDate)
      .withColumn("holdout",
        when(col("dateval") >= holdoutDate, 1).otherwise(0))
    val w = Window.partitionBy("state").orderBy("dateval")
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val trimmed = projected
      .withColumn("seen",
        sum(when(col("confirmed") > 0, 1).otherwise(0)).over(wRun))
      .filter(col("seen") > 0).drop("seen")
      .withColumn("removed", col("death") + col("recovered"))
      // lag_* columns: the reference INITIALIZES them to 0.0 and its
      // fill loop starts at t=1 (covid_simulator.py:420-430), so the
      // first trimmed row keeps lag 0 → coalesce matches exactly...
      .withColumn("lag_confirmed", coalesce(lag("confirmed", 1).over(w), lit(0.0)))
      .withColumn("lag_death", coalesce(lag("death", 1).over(w), lit(0.0)))
      .withColumn("lag_recovered", coalesce(lag("recovered", 1).over(w), lit(0.0)))
      .withColumn("lag_removed", coalesce(lag("removed", 1).over(w), lit(0.0)))
      // ...but the d_* DIFFS stay 0.0 on that first row (not value−0):
      // diff against the RAW nullable lag, then coalesce the result.
      // (Round-9 fix, found by the R_0 replay test: diffing against the
      // coalesced lag leaked confirmed/removed_first into the first row.)
      .withColumn("d_death",
        coalesce(col("death") - lag("death", 1).over(w), lit(0.0)))
      .withColumn("d_recovered",
        coalesce(col("recovered") - lag("recovered", 1).over(w), lit(0.0)))
      .withColumn("d_removed",
        coalesce(col("removed") - lag("removed", 1).over(w), lit(0.0)))
    // R0 per state: the reference takes the first 30 rows of the
    // confirmed>0 SUBSET and sums positive increments of CONSECUTIVE
    // FILTERED rows, first row excluded (rho_data[0:30], loop s>0 —
    // covid_simulator.py:393-410). The lag therefore runs over the
    // filtered frame (not `trimmed`), and null first-row increments
    // fall to the otherwise(0) branch, excluding them like s>0 does.
    val diffs = trimmed.filter(col("confirmed") > 0)
      .withColumn("rrn", row_number().over(w))
      .filter(col("rrn") <= 30)
      .withColumn("dcc", col("confirmed") - lag("confirmed", 1).over(w))
      .withColumn("drr", col("recovered") - lag("recovered", 1).over(w))
      .withColumn("ddd", col("death") - lag("death", 1).over(w))
      .groupBy("state")
      .agg(
        sum(when(col("dcc") > 0, col("dcc")).otherwise(0.0)).as("z1"),
        sum(when(col("drr") > 0, col("drr")).otherwise(0.0)).as("z2"),
        sum(when(col("ddd") > 0, col("ddd")).otherwise(0.0)).as("z3"))
      .withColumn("R_0",
        when(col("z2") + col("z3") > 0,
          (col("z1") + col("z2") + col("z3")) / (col("z2") + col("z3")))
          .otherwise(lit(0.0)))
      .select("state", "R_0")
    val mu = diffs.filter(col("R_0") > 0).agg(avg("R_0").as("mu"))
    val r0 = diffs.crossJoin(broadcast(mu))
      .withColumn("R_0", when(col("R_0") === 0, col("mu")).otherwise(col("R_0")))
      .select("state", "R_0")
    trimmed.join(broadcast(r0), Seq("state"), "left")
  }

  /** Stage 6 of §3.3 — the per-state coefficient table in the
    * recover_coefs.csv shape, fit by the REML-EM mixed model
    * ([[graft.ops.MixedLm]]): random (Intercept, lag_confirmed) per
    * state, exactly the statsmodels `MixedLM(..., exog_re=[Intercept,
    * lag_confirmed], groups=state).fit()` surface the reference calls
    * (covid_simulator.py:456-460; `.fit()` defaults to REML).
    * PipelinesSpec value-compares the per-state β against the
    * reference's committed recover_coefs.csv golden.
    *
    * `imputeNegative=false` yields the PRE-imputation table — the shape
    * the reference commits to recover_coefs.csv (the CSV is written
    * BEFORE the mean_beta imputation at covid_simulator.py:501-502), so
    * the golden-parity spec compares against that.
    */
  def coefficients(feats: DataFrame,
      imputeNegative: Boolean = true): DataFrame = {
    val xs = Seq("Intercept", "gov_action", "TAVG", "lag_confirmed")
    val train = feats.filter(col("removed") > 0 && col("holdout") === 0)
      .select((col("state") +: col("d_removed").cast("double").as("y") +:
        xs.map(c => col(c).cast("double").as(c))): _*)
      .na.drop()
    // ONE observation-level pass → per-state stats collected to the
    // driver (capped at MixedLm.MaxGroups: a mis-keyed input fails loud,
    // not OOM); EM and the BLUPs run there, no Spark job per iteration
    val stats = MixedLm.groupStats(train, "state", "y", xs)
    val fit = MixedLm.fitEm(stats, zIdx = Seq(0, 3))
    val beta = fit.beta
    import feats.sparkSession.implicits._
    val blups = MixedLm.blups(stats, fit, zIdx = Seq(0, 3)).toSeq
    val rc = blups
      .map { case (g, b) => (g, "Intercept", b(0), b(1)) }
      .toDF("state", "coef_name", "coef_value", "re_lag_confirmed")
      .withColumn("fe_Intercept", lit(beta(0)))
      .withColumn("Intercept", col("fe_Intercept") + col("coef_value"))
      .withColumn("lag_confirmed", lit(beta(3)) + col("re_lag_confirmed"))
      .withColumn("gov_action", lit(beta(1)))
      .withColumn("TAVG", lit(beta(2)))
    // negative-beta mean imputation (covid_simulator.py:501-502), from
    // the driver's BLUPs; with no positive β there is no mean to impute
    // (pandas would give NaN), so fail naming every state's β
    val out =
      if (!imputeNegative) rc
      else {
        val lag = blups.map { case (g, b) => g -> (beta(3) + b(1)) }
        val positive = lag.map(_._2).filter(_ > 0)
        if (positive.isEmpty)
          throw new IllegalArgumentException("no state has a positive " +
            "lag_confirmed beta to impute the negative ones with: " +
            lag.map { case (g, v) => s"$g=$v" }.mkString(", "))
        rc.withColumn("lag_confirmed",
          when(col("lag_confirmed") < 0, lit(positive.sum / positive.size))
            .otherwise(col("lag_confirmed")))
      }
    out.select("state", "coef_name", "coef_value", "re_lag_confirmed",
      "fe_Intercept", "Intercept", "lag_confirmed", "gov_action", "TAVG")
  }

  /** Stages 10-11 of §3.3 (covid_simulator.py:599-627) — the causal
    * question: simulate twice, once as-is and once with gov_action
    * zeroed from `pivotDate` on (covid_simulator.py:557-559), then
    * self-join the runs with _after/_before suffixes and emit
    * per-(state, step) differences.
    */
  def compareIntervention(feats: DataFrame, coefs: DataFrame,
      pivotDate: String = "2020-03-25"): DataFrame = {
    val zeroed = feats.withColumn("gov_action",
      when(col("dateval") > pivotDate, 0).otherwise(col("gov_action")))
    val preds = Seq("confirmed", "removed", "susceptible")
    def sim(f: DataFrame, tag: String) = simulate(f, coefs).select(col("state") +:
      col("rn") +: preds.map(p => col(s"pred_$p").as(s"pred_${p}_$tag")): _*)
    sim(feats, "after").join(sim(zeroed, "before"), Seq("state", "rn"))
      .withColumns(preds.map(p => s"diff_$p" ->
        (col(s"pred_${p}_after") - col(s"pred_${p}_before"))).toMap)
  }

  /** Stages 7-8 of §3.3 — per-state discrete SIR on the training rows
    * with alpha = beta*R0/N (generate_dataset, covid_simulator.py:39-58;
    * the recurrence is [[graft.ops.Sequential.sirSimulate]], which
    * registry row w6_sir_recurrence checks against DuckDB) and z1(t) =
    * cI + cGov*gov_action(t) + cT*TAVG(t), then the bias adjustment on
    * pred_removed and the final clamp at zero.
    */
  def simulate(feats: DataFrame, coefs: DataFrame): DataFrame = {
    val spark = feats.sparkSession
    import spark.implicits._
    val w = Window.partitionBy("state").orderBy("dateval")
    feats.filter(col("removed") > 0 && col("holdout") === 0)
      .join(broadcast(coefs.select(col("state"), col("Intercept").as("cI"),
        col("gov_action").as("cG"), col("TAVG").as("cT"),
        col("lag_confirmed").as("beta"))), Seq("state"))
      .withColumn("rn", row_number().over(w))
      .select(col("state"), col("rn"), col("confirmed"), col("removed"),
        col("population"),
        (col("cI") + col("cG") * col("gov_action") + col("cT") * col("TAVG"))
          .as("z1"),
        col("R_0").as("r0"), col("beta"))
      .as[SimRow]
      .groupByKey(_.state)
      .flatMapGroups { (state: String, it: Iterator[SimRow]) =>
        val rows = it.toIndexedSeq.sortBy(_.rn)
        val h = rows.head
        val n = h.population
        // rn runs 1..rows.length, so step t of the kernel is row rn = t + 1
        val sir = Sequential.sirSimulate(h.confirmed, h.removed, n,
          h.beta * h.r0 / n, h.beta, rows.map(_.z1))
        // M8 bias adjust: mean(pred_removed − removed) summed in rn
        // order, so the bias does not depend on the input partitioning
        var biasSum = 0.0
        var i = 0
        while (i < rows.length) {
          biasSum += sir(i)._2 - rows(i).removed
          i += 1
        }
        val bias = math.abs(biasSum / rows.length)
        sir.iterator.zip(rows.iterator).map { case ((pc, pr, ps), r) =>
          SimOut(state, r.rn, pc, math.max(0.0, pr - bias), ps)
        }
      }
      .toDF()
  }
}
