package graft

import java.nio.file.{Files, Paths}

import graft.pipelines.{CovidChain, CovidDataTransform, CovidSimulator, WeatherForecast}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end pipeline tests: the transform reproduces the dataset_full
  * contract, the simulator's features, R₀, simulation and intervention
  * comparison hold their contracts, the coefficient table matches the
  * committed recover_coefs.csv golden, and the forecaster — both its
  * models, the AR(1) flag and the default LSTM — honors the reference's
  * output contract (pred_actual / future_pred / rsme_score).
  *
  * Inputs: the reference's own committed CSVs under `refDir` when that
  * checkout is present; otherwise seeded inputs in the same shapes and
  * relative paths ([[PipelineFixtures]]). The contract tests (transform,
  * features, R₀ replay, SIR replay, simulation clamp, intervention
  * diff, AR(1) and LSTM forecast output, AR(1) replay) run on either,
  * and say in an `info` line which they used. Four more check generated
  * inputs only: the transform's edge rows and the negative-β imputation
  * (cancelled where the reference is present), and the plans' job
  * counts and the whole [[CovidChain]] (always run on generated
  * inputs). The tests that compare against an
  * artifact only the reference commits are cancelled when the file they
  * read is absent:
  *  - the coefficient shape and per-state β tests need
  *    `data/simulation_data/recover_coefs.csv`;
  *  - the 250-series forecast test and the committed future_pred.csv
  *    contract need `output/weather_output/future_pred.csv`;
  *  - the two LSTM parity tests need that file and
  *    `output/weather_output/rsme_score.csv`.
  */
class PipelinesSpec extends AnyFunSuite with TempDirs {

  private val refDir = "/root/reference/scripts"
  private val fixtureSeed = 7L

  private lazy val spark = GraftSession(8)

  override def afterAll(): Unit = try spark.stop() finally super.afterAll()

  /** Generated inputs, whether or not the reference checkout is here. */
  private lazy val fixtureDir: String = {
    val d = tempDir("graft_pipeline_inputs")
    PipelineFixtures.write(Paths.get(d), fixtureSeed)
    d
  }

  /** The reference checkout when present, else generated inputs. */
  private lazy val dataDir: String =
    if (Files.isDirectory(Paths.get(refDir))) refDir else fixtureDir

  /** The session's temp view names. */
  private def tempViews(s: org.apache.spark.sql.SparkSession): Set[String] =
    s.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSet

  /** An empty CacheManager. This spec keeps its shared frames in local
    * checkpoints, outside the CacheManager, so that a test can see an
    * entry that a pipeline leaves there. */
  private def emptyCache(): Unit = {
    spark.catalog.clearCache()
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  private def reportInputs(): Unit =
    info(if (dataDir == refDir) s"inputs: the reference's CSVs under $refDir"
      else s"inputs: PipelineFixtures seed $fixtureSeed ($refDir absent)")

  /** Cancels a test that compares against the reference's committed
    * `artifact` when `rel` (under `refDir`) is not on this machine. */
  private def assumeReference(rel: String, artifact: String): Unit = {
    val path = s"$refDir/$rel"
    val present = Files.exists(Paths.get(path))
    assume(present,
      s"$path absent: compares against the reference's committed $artifact")
  }

  private val recoverCoefs = "data/simulation_data/recover_coefs.csv"
  private val futurePred = "output/weather_output/future_pred.csv"
  private val rsmeScore = "output/weather_output/rsme_score.csv"

  private lazy val datasetFull =
    CovidDataTransform.run(spark, dataDir).localCheckpoint()

  /** A committed or generated `future_pred.csv` as the forecaster's
    * (series, date, value) input. */
  private def forecastInput(path: String) =
    spark.read.option("header", true).option("inferSchema", true).csv(path)
      .select(concat(col("country"), lit(" : "), col("state")).as("series"),
        col("date").cast("int").as("date"),
        col("TAVG_pred").cast("double").as("value"))

  /** `got` within `tol` of `expected`, relative to `1 + |expected|`. */
  private def close(got: Double, expected: Double, tol: Double): Boolean =
    math.abs(got - expected) <= tol * (1.0 + math.abs(expected))

  test("transform emits the dataset_full contract") {
    reportInputs()
    // names and types as FIXTURES.md documents dataset_full
    assert(datasetFull.schema.map(f => f.name -> f.dataType.simpleString) ==
      Seq("date" -> "int", "country_region" -> "string",
        "province_state" -> "string", "confirmed" -> "double",
        "recovered" -> "double", "death" -> "double",
        "population" -> "double", "TAVG" -> "double",
        "date_idx" -> "double", "location_name" -> "string"))
    val n = datasetFull.count()
    assert(n > 0)
    // every admitted location carries the full 180-day horizon and a
    // constant non-zero population
    val bad = datasetFull.groupBy("location_name")
      .agg(max("date_idx").as("mx"),
        countDistinct("population").as("npop"),
        min("population").as("minpop"))
      .filter(col("mx") =!= 179.0 || col("npop") =!= 1 ||
        col("minpop") <= 0)
      .count()
    assert(bad == 0)
  }

  test("JHU 3-key join keeps country-level rows (blank province_state)") {
    // the reference's pandas merge matches NaN keys; an equi-join on a
    // null province_state silently dropped every country-level series
    val dir = java.nio.file.Paths.get(tempDir("graft_jhu"))
    val wide = Seq("confirmed" -> 10, "recovered" -> 20, "death" -> 30)
      .map { case (m, base) =>
        val f = dir.resolve(s"$m.csv")
        java.nio.file.Files.writeString(f,
          "province_state,country_region,_4_1_20,_4_2_20\n" +
            s",Italy,$base,${base + 1}\n" +
            s"Ontario,Canada,${base + 2},${base + 3}\n")
        spark.read.option("header", true).option("inferSchema", true)
          .csv(f.toString)
      }
    val rows = CovidDataTransform.joinJhu(wide)
      .select("province_state", "country_region", "date", "confirmed",
        "recovered", "death")
      .orderBy("country_region", "date").collect().map(_.toSeq).toSeq
    assert(rows == Seq(
      Seq("Ontario", "Canada", 20200401, 12, 22, 32),
      Seq("Ontario", "Canada", 20200402, 13, 23, 33),
      Seq(null, "Italy", 20200401, 10, 20, 30),
      Seq(null, "Italy", 20200402, 11, 21, 31)))
  }

  /** The generated inputs' edge rows, traced through the transform:
    * which locations survive it, and one country roll-up by value. */
  test("transform admits exactly the generated full-horizon, populated locations") {
    assume(dataDir != refDir, "checks PipelineFixtures' edge rows only")
    import spark.implicits._
    val locs = datasetFull.select("location_name").distinct().as[String]
      .collect().toSet
    assert(locs == PipelineFixtures.Admitted.toSet)
    // Borduria's two JHU province rows, one under a legacy name, sum to
    // one country-level row
    val jhu = Files.readAllLines(
      Paths.get(dataDir, "data/covid_data/jhu_confirmed_covid.csv"))
    val day = jhu.get(0).split(",", -1).indexOf("_3_1_20")
    val expected = (1 until jhu.size).map(jhu.get(_).split(",", -1))
      .filter(_(1) == "Borduria").map(_(day).toLong).sum
    val got = datasetFull.filter(col("location_name") === "Borduria : UNK" &&
        col("date") === 20200301)
      .select(col("confirmed").cast("long")).as[Long].collect().toSeq
    assert(got == Seq(expected))
  }

  /** Building the pipeline's plans reads only the CSV headers: one job
    * per typed read, no schema-inference scans (8 reads took 16 jobs
    * while they inferred). */
  test("building the transform and pop_dataset plans reads only the CSV headers") {
    val (_, transformJobs) = SparkJobs.during(spark) {
      CovidDataTransform.run(spark, fixtureDir) }
    assert(transformJobs <= 8, s"$transformJobs jobs to build the transform")
    val (_, popJobs) = SparkJobs.during(spark) {
      CovidSimulator.loadPopDataset(spark, fixtureDir) }
    assert(popJobs <= 1, s"$popJobs jobs to build loadPopDataset")
  }

  /** The whole chain on generated inputs, whatever `dataDir` is: every
    * stage's CSV holds the rows it reported, and the run leaves no temp
    * view, cache entry or persistent RDD behind. */
  test("CovidChain writes every stage and reports the rows it wrote") {
    val work = tempDir("graft_chain")
    emptyCache()
    val (views, rdds) = (tempViews(spark), spark.sparkContext.getPersistentRDDs)
    val stages = CovidChain.run(spark, fixtureDir, work)
    assert(stages.map(_.name) == Seq("dataset_full", "features",
      "coefficients", "simulation", "intervention"))
    stages.foreach { s =>
      info(s"${s.name}: ${s.rows} rows")
      val reread = spark.read.option("header", true)
        .csv(s"$work/${s.name}.csv").count()
      assert(s.rows > 0 && s.rows == reread, s)
      assert(s.seconds >= 0.0, s)
    }
    // the generated series run past the gov_action threshold and the
    // intervention pivot, so zeroing gov_action changes some prediction
    val changed = spark.read.option("header", true)
      .csv(s"$work/intervention.csv")
      .filter(abs(col("diff_removed").cast("double")) > 0.0).count()
    assert(changed > 0, "intervention.csv: no non-zero diff_removed")
    assert(tempViews(spark) == views)
    assert(spark.sharedState.cacheManager.isEmpty)
    val newRdds = spark.sparkContext.getPersistentRDDs.keySet.diff(rdds.keySet)
    assert(newRdds.isEmpty, newRdds)
  }

  private lazy val feats =
    CovidSimulator.features(spark,
      CovidSimulator.loadPopDataset(spark, dataDir)).localCheckpoint()

  test("features registers no temp view") {
    val fresh = spark.newSession() // temp views are per session
    CovidSimulator.features(fresh, CovidSimulator.loadPopDataset(fresh, dataDir))
    assert(tempViews(fresh).isEmpty)
  }

  test("simulator features carry both date encodings, bands and lags") {
    reportInputs()
    val cols = feats.columns.toSet
    assert(Set("dateval", "date", "is_freezing", "is_cold", "is_warm",
      "is_hot", "temp_th", "gov_action", "Intercept", "holdout",
      "lag_confirmed", "d_removed", "R_0").subsetOf(cols))
    // gov_action flips at 2020-03-20 (julianday threshold)
    val flips = feats.select("gov_action").distinct().count()
    assert(flips == 2)
    // R_0 imputation leaves no zeros
    assert(feats.filter(col("R_0") <= 0).count() == 0)
  }

  // ONE REML-EM fit shared by the shape/simulate/intervention tests
  private lazy val coefsShared =
    CovidSimulator.coefficients(feats).localCheckpoint()

  test("coefficient table matches the committed recover_coefs.csv golden shape") {
    assumeReference(recoverCoefs, "recover_coefs.csv golden")
    val coefs = coefsShared
    val golden = spark.read.option("header", true).option("inferSchema", true)
      .csv(s"$refDir/data/simulation_data/recover_coefs.csv")
    // same column contract (minus the pandas index column)
    assert(coefs.columns.toSeq ==
      golden.columns.filterNot(_.startsWith("_c0")).toSeq)
    // the committed golden covers the same US states our pop_dataset
    // run fits: every state we fit appears in the golden
    val ours = coefs.select("state").as[String](spark.implicits.newStringEncoder)
      .collect().toSet
    val theirs = golden.select("state")
      .as[String](spark.implicits.newStringEncoder).collect().toSet
    assert(ours.nonEmpty)
    // near-total overlap (the reference's run dropped DC)
    assert(ours.intersect(theirs).size >= ours.size - 1,
      s"states missing from golden: ${ours.diff(theirs).take(5)}")
    // negative-beta imputation holds (reference covid_simulator.py:502)
    assert(coefs.filter(col("lag_confirmed") < 0).count() == 0)
  }

  /** VALUE-level golden parity (round-9 ask): join our per-state β
    * (lag_confirmed, PRE-imputation — the committed recover_coefs.csv is
    * written at covid_simulator.py:497 BEFORE the mean_beta imputation
    * at :501-502) against the reference's committed numbers on the 50
    * shared US states.
    *
    * Expected residual discrepancy, explained: the golden was produced
    * by the reference's GLOBAL MixedLM run — 188 groups (138 countries +
    * 50 US states) with REAL GHCN TAVG — while the committed inputs only
    * let us refit the 49-state pop_dataset slice with TAVG≡0. The
    * per-state β of a mixed model is data-dominated wherever a state has
    * many observations, so the two fits agree closely there; the gap
    * concentrates in LOW-DATA states (AK/WY/ND), whose BLUPs shrink
    * toward different pooled means (our US-only fe_lag≈0.0100 vs the
    * global fe_lag≈0.0494) under different fitted Ψ. Measured with the
    * REML-EM fit: median |Δβ| = 0.0078, p90 ≈ 0.03, max = 0.067 (AK) on
    * 48 shared states — asserted below with headroom. The FIXED effects
    * cannot match (global-vs-US pooling; fe_Intercept 29.65 global vs
    * ≈0.51 US-only) and are deliberately not asserted.
    */
  test("per-state beta matches the committed recover_coefs.csv golden values") {
    assumeReference(recoverCoefs, "recover_coefs.csv golden")
    import spark.implicits._
    val mine = CovidSimulator.coefficients(feats, imputeNegative = false)
      .select(col("state"), col("lag_confirmed").as("beta_mine"))
    val golden = spark.read.option("header", true).option("inferSchema", true)
      .csv(s"$refDir/data/simulation_data/recover_coefs.csv")
      .select(col("state"), col("lag_confirmed").cast("double").as("beta_gold"))
    val diffs = mine.join(golden, "state")
      .select(col("state"), abs(col("beta_mine") - col("beta_gold")).as("d"))
      .as[(String, Double)].collect().sortBy(_._2)
    assert(diffs.length >= 45, s"only ${diffs.length} shared states")
    val median = diffs(diffs.length / 2)._2
    val worst = diffs.last
    assert(median < 0.02, s"median |beta diff| $median vs golden")
    assert(worst._2 < 0.10, s"worst state ${worst._1} |beta diff| ${worst._2}")
    assert(diffs.count(_._2 > 0.05) <= 3,
      s"too many outlier states: ${diffs.filter(_._2 > 0.05).mkString(", ")}")
  }

  /** PipelineFixtures' NM reports falling removals as its cases rise, so
    * its fitted β is negative; the reference's mean imputation
    * (covid_simulator.py:501-502) replaces it with the mean positive β.
    * The fixture twin of the golden-shape test's imputation assert. */
  test("negative-beta imputation replaces every negative fitted beta") {
    assume(dataDir != refDir, "checks PipelineFixtures' falling-removals state")
    import spark.implicits._
    val raw = CovidSimulator.coefficients(feats, imputeNegative = false)
      .select("state", "lag_confirmed").as[(String, Double)].collect().toMap
    val imputed = coefsShared.select("state", "lag_confirmed")
      .as[(String, Double)].collect().toMap
    val negative = raw.filter(_._2 < 0).keySet
    assert(negative.nonEmpty, s"no negative beta in $raw")
    val positive = raw.values.filter(_ > 0)
    val mean = positive.sum / positive.size
    assert(imputed.values.forall(_ >= 0), imputed)
    negative.foreach(st => assert(close(imputed(st), mean, 1e-12), st))
  }

  /** With every state's removals falling — each generated state's daily
    * removal change negated, as NM's removals fall, and NM itself left
    * out — no fitted β is positive, so there is no mean to impute the
    * negative ones with: the imputation fails naming the states instead
    * of emitting NULL β that `simulate` would crash on. */
  test("negative-beta imputation fails loudly when no fitted beta is positive") {
    import spark.implicits._
    val falling = CovidSimulator.features(spark,
        CovidSimulator.loadPopDataset(spark, fixtureDir))
      .filter(!col("state").endsWith("-NM"))
      .withColumn("d_removed", -col("d_removed"))
    val raw = CovidSimulator.coefficients(falling, imputeNegative = false)
      .select("state", "lag_confirmed").as[(String, Double)].collect()
    assert(raw.nonEmpty && raw.forall(_._2 < 0), raw.toSeq)
    val e = intercept[IllegalArgumentException](
      CovidSimulator.coefficients(falling))
    raw.foreach { case (st, _) => assert(e.getMessage.contains(st), e.getMessage) }
  }

  /** R₀ is model-free arithmetic (covid_simulator.py:393-410) but is not
    * part of any committed reference artifact (input_data.csv lives under
    * the uncommitted output/ tree) — so the strongest available check is
    * an INDEPENDENT replay: a straight-line Scala fold over the collected
    * pop_dataset rows (49 states × ≤60 days — bounded test-side collect)
    * implementing the reference's exact loop semantics (trim to first
    * confirmed≠0, first 30 confirmed>0 rows, positive-increment sums,
    * rho=(z1+z2+z3)/(z2+z3), zero→mean-of-positives imputation), compared
    * against the distributed window/agg computation in features().
    */
  test("R_0 matches an independent straight-line replay of the reference loop") {
    reportInputs()
    import spark.implicits._
    val raw = CovidSimulator.loadPopDataset(spark, dataDir)
      .select(col("province_state"), col("date"), col("confirmed"),
        col("recovered"), col("death"))
      .as[(String, Int, Double, Double, Double)].collect()
    val perState = raw.groupBy(_._1).flatMap { case (st, rows) =>
      val sorted = rows.sortBy(_._2)
      val from = sorted.indexWhere(_._3 != 0.0)
      if (from < 0) None
      else {
        val dat = sorted.drop(from)
        val rho30 = dat.filter(_._3 > 0).take(30)
        var z1 = 0.0; var z2 = 0.0; var z3 = 0.0
        for (s <- 1 until rho30.length) {
          val dc = rho30(s)._3 - rho30(s - 1)._3
          val dr = rho30(s)._4 - rho30(s - 1)._4
          val dd = rho30(s)._5 - rho30(s - 1)._5
          if (dc > 0) z1 += dc
          if (dr > 0) z2 += dr
          if (dd > 0) z3 += dd
        }
        val rho = if (z2 + z3 > 0) (z1 + z2 + z3) / (z2 + z3) else 0.0
        Some(s"United States-$st" -> rho)
      }
    }.toMap
    val pos = perState.values.filter(_ > 0)
    val mu = pos.sum / pos.size
    val expected = perState.map { case (k, v) => k -> (if (v == 0) mu else v) }
    val got = feats.select(col("state"), col("R_0"))
      .distinct().as[(String, Double)].collect().toMap
    assert(got.keySet == expected.keySet,
      s"state sets differ: ${got.keySet.diff(expected.keySet).take(3)} / " +
        s"${expected.keySet.diff(got.keySet).take(3)}")
    val bad = expected.filter { case (st, e) =>
      math.abs(got(st) - e) > 1e-9 * (1.0 + math.abs(e)) }
    assert(bad.isEmpty, s"R_0 mismatch: ${bad.take(3)}")
  }

  /** The SIR recurrence (covid_simulator.py:39-58) replayed straight-line
    * per state from the collected training rows and coefficients, then
    * the bias adjustment and the clamp, against [[CovidSimulator.simulate]]. */
  test("simulation matches a straight-line SIR replay with bias adjustment") {
    reportInputs()
    import spark.implicits._
    val coefs = coefsShared.select("state", "Intercept", "gov_action", "TAVG",
        "lag_confirmed")
      .as[(String, Double, Double, Double, Double)].collect()
      .map(c => c._1 -> c).toMap
    val train = feats.filter(col("removed") > 0 && col("holdout") === 0)
      .select(col("state"), col("dateval"), col("confirmed").cast("double"),
        col("removed").cast("double"), col("population").cast("double"),
        col("gov_action").cast("double"), col("TAVG").cast("double"),
        col("R_0"))
      .as[(String, String, Double, Double, Double, Double, Double, Double)]
      .collect()
    val expected = train.groupBy(_._1).toSeq.flatMap { case (st, rows) =>
      val sorted = rows.sortBy(_._2)
      val (_, cI, cG, cT, beta) = coefs(st)
      val h = sorted.head
      val n = h._5
      val alpha = beta * h._8 / n
      var pc = h._3; var pr = h._4; var ps = n
      val steps = sorted.indices.map { t =>
        if (t > 0) {
          val r = sorted(t)
          val z = cI + cG * r._6 + cT * r._7
          val pcN = pc + alpha * ps * pc - beta * pc - z
          val prN = pr + beta * pc + z
          val psN = ps - alpha * ps * pc
          pc = pcN; pr = prN; ps = psN
        }
        (pc, pr, ps)
      }
      val bias = steps.zip(sorted).map { case (s, r) => s._2 - r._4 }.sum /
        sorted.length
      steps.zipWithIndex.map { case ((c, r, s), t) =>
        (st, t + 1) -> (c, math.max(0.0, r - math.abs(bias)), s)
      }
    }.toMap
    val got = CovidSimulator.simulate(feats, coefsShared)
      .select("state", "rn", "pred_confirmed", "pred_removed",
        "pred_susceptible")
      .as[(String, Int, Double, Double, Double)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4, r._5)).toMap
    assert(expected.nonEmpty && got.keySet == expected.keySet)
    val bad = expected.filter { case (k, (c, r, s)) =>
      val (gc, gr, gs) = got(k)
      !(close(gc, c, 1e-9) && close(gr, r, 1e-9) && close(gs, s, 1e-9))
    }
    assert(bad.isEmpty, s"simulate mismatch: ${bad.take(3)}")
  }

  test("simulation output is clamped and covers every fitted state") {
    reportInputs()
    val coefs = coefsShared
    val sim = CovidSimulator.simulate(feats, coefs)
    assert(sim.filter(col("pred_removed") < 0).count() == 0)
    assert(sim.select("state").distinct().count() == coefs.count())
  }

  test("simulation is bit-identical at 1 and 7 shuffle partitions") {
    reportInputs()
    import spark.implicits._
    import graft.streaming.StreamReplay.{withConf, withShufflePartitions}
    // no broadcast joins and no AQE coalescing, so that the 7-partition
    // run really shuffles the simulation's rows into 7 partitions
    def simAt(parts: Int) =
      withConf(spark, "spark.sql.autoBroadcastJoinThreshold", "-1") {
        withConf(spark, "spark.sql.adaptive.coalescePartitions.enabled", "false") {
          withShufflePartitions(spark, parts) {
            CovidSimulator.simulate(feats, coefsShared)
              .as[(String, Int, Double, Double, Double)].collect()
              .map(r => (r._1, r._2) -> r).toMap
          }
        }
      }
    val (s1, s7) = (simAt(1), simAt(7))
    assert(s1.nonEmpty && s1 == s7,
      s"differ at ${s1.keySet.filter(k => !s7.get(k).contains(s1(k))).take(3)}")
  }

  test("intervention comparison diverges only where gov_action was zeroed") {
    reportInputs()
    val coefs = coefsShared
    val cmp = CovidSimulator.compareIntervention(feats, coefs)
    assert(cmp.count() > 0)
    // zeroing gov_action must change some predictions...
    assert(cmp.filter(abs(col("diff_removed")) > 1e-9).count() > 0)
    // ...but step 1 (the seeded initial state) is always identical
    assert(cmp.filter(col("rn") === 1 &&
      abs(col("diff_confirmed")) > 1e-12).count() == 0)
  }

  /** The AR(1) protocol replayed straight-line per series on the
    * collected input: admission, abs-max normalisation, OLS on the
    * train prefix, one-step test predictions, the RMSE rounded to 6
    * decimals and the 30-step feedback rollout with its dates. */
  test("AR(1) forecast matches a straight-line replay of the protocol") {
    reportInputs()
    import spark.implicits._
    val src = forecastInput(s"$dataDir/$futurePred")
    val (nTest, horizon) = (10, 30)
    val ymd = java.time.format.DateTimeFormatter.BASIC_ISO_DATE
    case class Expected(test: Seq[(Int, Double, Double)], rmse: Double,
        future: Seq[(Int, Int, Double)])
    val expected = src.as[(String, Int, Double)].collect().groupBy(_._1)
      .flatMap { case (series, obs) =>
        val rows = obs.sortBy(_._2)
        val maxabs = rows.map(r => math.abs(r._3)).max
        val xs = rows.map(_._3 / maxabs)
        val nTrain = xs.length - nTest
        var (n, sx, sy, sxy, sxx) = (0.0, 0.0, 0.0, 0.0, 0.0)
        for (i <- 1 until nTrain) {
          n += 1; sx += xs(i - 1); sy += xs(i)
          sxy += xs(i - 1) * xs(i); sxx += xs(i - 1) * xs(i - 1)
        }
        val den = sxx - sx * sx / n
        if (rows.length < 60 || !(den > 1e-12)) None
        else {
          val b = (sxy - sx * sy / n) / den
          val a = sy / n - b * sx / n
          val test = (nTrain until xs.length).map { i =>
            (rows(i)._2, (a + b * xs(i - 1)) * maxabs, rows(i)._3)
          }
          val mse = (nTrain until xs.length).map { i =>
            val e = a + b * xs(i - 1) - xs(i); e * e }.sum / nTest
          val rmse = BigDecimal(math.sqrt(mse))
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
          val last = java.time.LocalDate.parse(rows.last._2.toString, ymd)
          var x = xs.last
          val future = (0 until horizon).map { i =>
            x = a + b * x
            (last.plusDays(i + 1L).format(ymd).toInt, i, x * maxabs)
          }
          Some(series -> Expected(test, rmse, future))
        }
      }
    val (pa, fp, rs) = WeatherForecast.run(spark, src,
      minRows = 60, nTest = nTest, horizon = horizon, model = "ar1")
    val gotRmse = rs.select("series", "rmse", "n_test")
      .as[(String, Double, Long)].collect()
    assert(expected.nonEmpty &&
      gotRmse.map(_._1).toSet == expected.keySet)
    gotRmse.foreach { case (s, r, nt) =>
      assert(math.abs(r - expected(s).rmse) <= 1e-6, s"$s rmse $r")
      assert(nt == nTest, s"$s n_test $nt")
    }
    val gotTest = pa.select("series", "date", "pred", "actual")
      .as[(String, Int, Double, Double)].collect().groupBy(_._1)
    val gotFuture = fp.select("series", "date", "date_idx", "pred")
      .as[(String, Int, Int, Double)].collect().groupBy(_._1)
    expected.foreach { case (s, e) =>
      val t = gotTest(s).sortBy(_._2).toSeq
      assert(t.map(_._2) == e.test.map(_._1), s"$s test dates")
      t.zip(e.test).foreach { case (g, x) =>
        assert(close(g._3, x._2, 1e-9) && close(g._4, x._3, 1e-9),
          s"$s test row $g vs $x")
      }
      val f = gotFuture(s).sortBy(_._3).toSeq
      assert(f.map(r => (r._2, r._3)) == e.future.map(r => (r._1, r._2)),
        s"$s future dates")
      f.zip(e.future).foreach { case (g, x) =>
        assert(close(g._4, x._3, 1e-9), s"$s future row $g vs $x")
      }
    }
  }

  /** The forecast's fold is stored outside the CacheManager, so repeated
    * runs leave it as they found it, and give bit-identical outputs. */
  test("forecast runs add no CacheManager entry") {
    val src = forecastInput(s"$dataDir/$futurePred")
    emptyCache()
    val outs = (1 to 3).map { _ =>
      val (pa, fp, rs) = WeatherForecast.run(spark, src, model = "ar1")
      (pa.orderBy("series", "date").collect().toSeq, fp.collect().toSeq,
        rs.collect().toSeq)
    }
    assert(spark.sharedState.cacheManager.isEmpty)
    assert(outs.head._1.nonEmpty && outs.forall(_ == outs.head))
  }

  /** The output contract of the test below, on whichever inputs ran,
    * for both models: every series with `minRows` rows is forecast. The
    * LSTM runs at a window shape the 180-day series admit, small enough
    * to train in seconds; it is the fixture-backed twin of the gated
    * LSTM parity tests. */
  test("AR(1) and LSTM forecasts honor their output contract on the pipeline inputs") {
    reportInputs()
    import spark.implicits._
    val src = forecastInput(s"$dataDir/$futurePred")
    val eligible = src.groupBy("series").count()
      .filter(col("count") >= 60).count()
    for (model <- Seq("ar1", "lstm")) {
      val (pa, fp, rs) = WeatherForecast.run(spark, src,
        minRows = 60, nTest = 10, horizon = 30, model = model,
        nSteps = 20, hidden = 4, epochs = 20, patience = 5)
      val nSeries = rs.count()
      assert(nSeries > 0 && nSeries == eligible, model)
      assert(pa.count() == nSeries * 10, model)
      assert(fp.count() == nSeries * 30, model)
      assert(fp.filter(col("date_idx") < 0 || col("date_idx") > 29).count() == 0,
        model)
      assert(fp.filter(col("pred").isNull).count() == 0, model)
      val rmse = rs.select("rmse").as[Double].collect()
      assert(rmse.forall(r => !r.isNaN && !r.isInfinite), s"$model: $rmse")
    }
  }

  test("forecast pipeline honors the reference output contract") {
    assumeReference(futurePred, "future_pred.csv (its 250 series)")
    val src = forecastInput(s"$refDir/$futurePred")
    val (pa, fp, rs) = WeatherForecast.run(spark, src,
      minRows = 60, nTest = 10, horizon = 30, model = "ar1")
    val nSeries = rs.count()
    assert(nSeries == 250) // the reference forecast 250 series
    assert(pa.count() == nSeries * 10)
    assert(fp.count() == nSeries * 30)
    // future dates advance from each series' max date
    assert(fp.filter(col("date_idx") < 0 || col("date_idx") > 29).count() == 0)
    assert(fp.filter(col("pred").isNull).count() == 0)
  }

  /** The REAL model path — and the pipeline's DEFAULT mode since round
    * 11: per-series LSTM training inside flatMapGroups through the
    * `run(model = "lstm")` dispatcher, same protocol and output
    * contract as the AR(1) flag. Window shape 120/16 because the
    * committed series are 180 days (the reference-scale 365/50/500
    * convergence proof is LstmTrainingSpec's); three real series keep
    * the test bounded. Epochs are the reference's own 500
    * (weather_pred.py:308 — full batch, `batch_size=train_x.shape[0]`,
    * exactly our adamTrain shape); patience is widened 25 → 50 because
    * the scaled-down 16-unit full-batch loss curve plateaus longer
    * than the reference's 50-unit net before descending: the round-17
    * M5Epochs probe (recorded in SURVEY.md) measured 6 of the 9
    * round-16 band misses as plateau EARLY-STOPS at epoch 38–47 (best=38–47, ran≤74 of 250)
    * whose RMSE collapses 3–10× with the plateau cleared
    * (e.g. Tajikistan 0.2513 → 0.0267, US:KS 0.3249 → 0.0390) —
    * an optimization artifact, not model capacity; multi-seed spreads
    * (M5Seeds, 5 seeds/series) had already shown those misses were
    * robust to seed choice, ruling out draw luck. Parity: per-series
    * normalized test RMSE is joined against the reference's COMMITTED
    * rsme_score.csv values for the SAME series (weather_pred.py:407-409
    * writes that artifact) and asserted comparable — committed:
    * El Salvador 0.0515, Mozambique 0.0257, Luxembourg 0.0660.
    */
  test("LSTM pipeline mode: trains per-series models, RMSE parity vs committed rsme_score.csv") {
    assumeReference(futurePred, "future_pred.csv")
    assumeReference(rsmeScore, "rsme_score.csv")
    import spark.implicits._
    val picked = Seq("El Salvador : UNK", "Mozambique : UNK",
      "Luxembourg : UNK")
    val src = forecastInput(s"$refDir/$futurePred")
      .filter(col("series").isin(picked: _*))
    val (pa, fp, rs) = WeatherForecast.run(spark, src,
      minRows = 60, nTest = 10, horizon = 30,
      nSteps = 120, hidden = 16, epochs = 500, patience = 50)
    assert(rs.count() == 3)
    assert(pa.count() == 30 && fp.count() == 90)
    assert(fp.filter(col("pred").isNull).count() == 0)
    assert(fp.filter(col("date_idx") < 0 || col("date_idx") > 29).count() == 0)
    // every trained series produced a finite, sane normalized RMSE
    val scores = rs.select("series", "rmse").as[(String, Double)]
      .collect().toMap
    assert(scores.values.forall(r => r >= 0 && r < 1.0 && !r.isNaN),
      s"scores $scores")
    // committed rsme_score.csv parity for the same three series
    val committed = spark.read.option("header", true)
      .option("inferSchema", true)
      .csv(s"$refDir/output/weather_output/rsme_score.csv")
      .select(concat(col("country"), lit(" : "), col("state")).as("series"),
        col("TAVG_rmse").cast("double").as("rmse_gold"))
      .filter(col("series").isin(picked: _*))
      .as[(String, Double)].collect().toMap
    assert(committed.keySet == scores.keySet)
    scores.foreach { case (k, r) =>
      info(f"$k: ours $r%.4f vs committed ${committed(k)}%.4f")
    }
    // parity band: our seeded fit on 180-day series vs the reference's
    // unseeded Keras draw on multi-year GHCN — same order of magnitude,
    // each within 2.5x of its committed score and inside the committed
    // corpus IQR ceiling (p75 = 0.0829 across all 250 series)
    scores.foreach { case (k, r) =>
      assert(r <= committed(k) * 2.5 + 1e-9,
        f"$k: RMSE $r%.4f not comparable to committed ${committed(k)}%.4f")
      assert(r <= 0.083, f"$k: RMSE $r%.4f above committed corpus p75")
    }
    // predictions stay in the de-normalized value range (tanh head ×
    // maxabs bounds |pred| by each series' abs-max)
    val mx = src.agg(max(abs(col("value")))).first().getDouble(0)
    assert(fp.filter(abs(col("pred")) > mx * 1.01).count() == 0)
  }

  /** VALUE parity against the committed future_pred.csv is impossible
    * in principle — the golden is ONE DRAW of a nondeterministic
    * process (Keras GlorotUniform inits from an unseeded global RNG,
    * multi-threaded fit order, EarlyStopping on a nondeterministic
    * val-loss trajectory, one independent model per series ×250;
    * weather_pred.py:296-311 sets no seed anywhere). Re-running the
    * REFERENCE itself yields different numbers, so no engine can
    * hash-match the artifact. What IS deterministic — and therefore
    * what this test pins — is the artifact's CONTRACT, verified here
    * directly against the committed CSV: 250 series × 180 rows,
    * date_idx 0..179 dense per series, dates advancing by exactly one
    * calendar day, predictions present everywhere. The committed
    * values themselves show why range isn't pinnable tightly: the
    * un-normalized LSTM rollouts diverge to −196 K and +418 K on some
    * series — free extrapolation, faithfully recorded. See SURVEY
    * §7.4's documented-impossible note.
    */
  test("committed future_pred.csv contract: shape, density, date monotonicity") {
    assumeReference(futurePred, "future_pred.csv")
    val golden = spark.read.option("header", true).option("inferSchema", true)
      .csv(s"$refDir/output/weather_output/future_pred.csv")
      .select(concat(col("country"), lit(" : "), col("state")).as("series"),
        col("date").cast("int").as("date"),
        col("date_idx").cast("int").as("date_idx"),
        col("TAVG_pred").cast("double").as("pred"))
    assert(golden.count() == 45000)
    assert(golden.filter(col("pred").isNull).count() == 0)
    val perSeries = golden.groupBy("series")
      .agg(count(lit(1)).as("n"), countDistinct("date_idx").as("nd"),
        min("date_idx").as("lo"), max("date_idx").as("hi"))
    assert(perSeries.count() == 250)
    assert(perSeries.filter(col("n") =!= 180 || col("nd") =!= 180 ||
      col("lo") =!= 0 || col("hi") =!= 179).count() == 0)
    // consecutive date_idx steps are consecutive calendar days
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("series").orderBy("date_idx")
    val steps = golden
      .withColumn("d", to_date(col("date").cast("string"), "yyyyMMdd"))
      .withColumn("gap", datediff(col("d"), lag("d", 1).over(w)))
      .filter(col("gap").isNotNull)
    assert(steps.filter(col("gap") =!= 1).count() == 0)
  }

  /** FULL-POPULATION LSTM parity (round-16, upgrading the round-15
    * 25-of-250 md5 sample to all 250 series — the last sampled claim
    * in the reference-parity story): every series trained with the
    * identical 120/16/250/25 protocol in one flatMapGroups pass
    * (task-parallel — wall clock is series/threads, ~10 min at
    * local[8]), RMSE joined against the committed rsme_score.csv.
    * Per-series the committed golden is ONE unseeded Keras draw (see
    * the contract test above), so the parity claims are
    * DISTRIBUTIONAL, now over the whole population:
    *   - every score is finite and sane;
    *   - our population MEDIAN beats the committed corpus p75
    *     (0.0829) — "typically as good as the reference's typical
    *     fit";
    *   - our p75 beats the committed corpus p90 (computed from the
    *     same CSV, not hardcoded) — the upper tail is comparable too;
    *   - per-series, at most 5% of the 250 miss the
    *     max(2.5× committed, corpus p75) comparability band (the
    *     round-15 sample measured 0/25 misses; a handful of tail
    *     misses over 250 is the expected cost of comparing two
    *     unseeded draws, not a protocol drift).
    */
  test("LSTM full-population parity: all 250 series vs committed rsme_score.csv") {
    assumeReference(futurePred, "future_pred.csv")
    assumeReference(rsmeScore, "rsme_score.csv")
    import spark.implicits._
    val all = forecastInput(s"$refDir/$futurePred")
    val (_, fp, rs) = WeatherForecast.run(spark, all,
      minRows = 60, nTest = 10, horizon = 30,
      nSteps = 120, hidden = 16, epochs = 500, patience = 50)
    val scores = rs.select("series", "rmse").as[(String, Double)]
      .collect().toMap
    assert(scores.size == 250)
    assert(scores.values.forall(r => r >= 0 && r < 1.0 && !r.isNaN),
      s"scores $scores")
    val committed = spark.read.option("header", true)
      .option("inferSchema", true)
      .csv(s"$refDir/output/weather_output/rsme_score.csv")
      .select(concat(col("country"), lit(" : "), col("state")).as("series"),
        col("TAVG_rmse").cast("double").as("rmse_gold"))
      .as[(String, Double)].collect().toMap
    assert(committed.keySet == scores.keySet)
    def quantile(xs: Seq[Double], q: Double): Double = {
      val s = xs.sorted
      s(math.min(s.size - 1, (q * s.size).toInt))
    }
    val goldP75 = quantile(committed.values.toSeq, 0.75)
    val goldP90 = quantile(committed.values.toSeq, 0.90)
    val misses = scores.toSeq.sortBy(_._1).filter { case (k, r) =>
      r > math.max(committed(k) * 2.5, goldP75) + 1e-9
    }
    misses.foreach { case (k, r) =>
      info(f"band miss $k: ours $r%.4f vs committed ${committed(k)}%.4f")
    }
    val ourMedian = quantile(scores.values.toSeq, 0.50)
    val ourP75 = quantile(scores.values.toSeq, 0.75)
    info(f"population: ours median $ourMedian%.4f p75 $ourP75%.4f vs " +
      f"committed p75 $goldP75%.4f p90 $goldP90%.4f; " +
      f"band misses ${misses.size}/250")
    assert(ourMedian <= goldP75 + 1e-9,
      f"population median $ourMedian%.4f above committed corpus p75")
    assert(ourP75 <= goldP90 + 1e-9,
      f"population p75 $ourP75%.4f above committed corpus p90")
    assert(misses.size <= 12,
      s"${misses.size}/250 series outside the comparability band")
    // rollouts stay in each series' de-normalized range
    val mx = all.agg(max(abs(col("value")))).first().getDouble(0)
    assert(fp.filter(abs(col("pred")) > mx * 1.01).count() == 0)
  }
}
