package graft.pipelines

import graft.ops.Sequential
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Row shape for the TAVG smoothing fold (top-level for Encoders). */
case class WxRow(country_region: String, province_state: String, date: Int,
    tavg: Option[Double], date_idx: Double)
case class WxOut(country_region: String, province_state: String, date: Int,
    TAVG: Double, date_idx: Double)

/** The reference's multi-source ETL (covid_data_transform.py __main__,
  * SURVEY.md §3.1) re-composed from the operator library as ONE lazy
  * Spark DAG over the reference's own committed CSVs: JHU wide tables
  * are unpivoted, 3-key-joined, location-canonicalized (lookup UPDATE →
  * broadcast join + coalesce), country-rolled-up and unioned with the
  * US daily table, population-joined, united with the weather forecast,
  * TAVG-smoothed per location (W5 fold), right-joined onto weather,
  * admission-filtered to full-horizon locations, population-broadcast,
  * and named. Output = the `dataset_full` shape (FIXTURES.md).
  *
  * The raw GHCN weather blobs are not committed in the reference repo,
  * so the weather frame is the committed forecast output
  * (`future_pred.csv`) alone — the historical-weather branch
  * (covid_data_transform.py:129-173) is exercised by the same operators
  * in the query library (A6 pivot, J3 station join, A1 mean roll-up).
  */
object CovidDataTransform {

  private val measures = Seq("confirmed", "recovered", "death")

  private val jhuDate = "_\\d+_\\d+_\\d+" // a JHU date column, `_M_D_YY`

  /** A header CSV read without schema inference: names from the file's
    * header (one job; the sources differ in their unused columns, so a
    * positional schema would misread some), the `types` columns parsed
    * as those types, the rest as strings. */
  private[pipelines] def readCsv(spark: SparkSession, path: String,
      types: PartialFunction[String, DataType]): DataFrame = {
    val names = spark.read.option("header", true).csv(path).columns
    spark.read.option("header", true)
      .schema(StructType(names.map(n =>
        StructField(n, types.applyOrElse(n, (_: String) => StringType)))))
      .csv(path)
  }

  /** `_M_D_YY` wide-column name → yyyyMMdd int (the reference parses
    * dates out of COLUMN NAMES during melt, covid_data_transform.py:86). */
  private def colToYmd(c: String): Int = {
    val Array(m, d, y) = c.stripPrefix("_").split("_").map(_.toInt)
    (2000 + y) * 10000 + m * 100 + d
  }

  /** Unpivot one JHU wide table to (province_state, country_region,
    * date int, <measure> long). */
  private def meltJhu(df: DataFrame, measure: String): DataFrame = {
    val dateCols = df.columns.filter(_.matches(jhuDate))
    val renamed = df.select(
      (Seq(col("province_state"), col("country_region")) ++
        dateCols.map(c => col(c).as(colToYmd(c).toString))): _*)
    renamed.unpivot(
        Array(col("province_state"), col("country_region")),
        dateCols.map(c => col(colToYmd(c).toString)),
        "date", measure)
      .withColumn("date", col("date").cast("int"))
  }

  /** Stages 1+4-5: melt the JHU wide tables (in `measures` order) and
    * join them on (province_state, country_region, date). A
    * country-level row's blank province_state reads as null, and the
    * reference's pandas merge matches NaN keys, so the joins are
    * null-safe (`<=>`); a plain equi-join drops every such series. */
  private[graft] def joinJhu(wide: Seq[DataFrame]): DataFrame = {
    val keys = Seq("province_state", "country_region", "date")
    measures.zip(wide).map { case (m, df) => meltJhu(df, m) }.reduce { (l, r) =>
      l.join(r, keys.map(k => l(k) <=> r(k)).reduce(_ && _))
        .select(l.columns.map(l(_)) ++ r.columns.diff(keys).map(r(_)): _*)
    }
  }

  /** rename_location (covid_data_transform.py:14-21): two sequential
    * lookup-UPDATEs per row of location_match. Rule 1 rewrites
    * province_state where (ps, cr) == (ps_old, cr_old); rule 2 then
    * rewrites country_region where (ps, cr) == (ps_NEW, cr_old) — note
    * rule 2 matches the ALREADY-UPDATED province_state.
    */
  private def renameLocation(df: DataFrame, lookup: DataFrame): DataFrame = {
    val r1 = lookup.select(col("province_state_old"), col("country_region_old"),
      col("province_state_new").as("ps_new1")).distinct()
    val r2 = lookup.select(col("province_state_new"), col("country_region_old"),
      col("country_region_new").as("cr_new2")).distinct()
    df.join(broadcast(r1),
        df("province_state") === r1("province_state_old") &&
          df("country_region") === r1("country_region_old"), "left")
      .withColumn("province_state", coalesce(col("ps_new1"), col("province_state")))
      .drop("province_state_old", "country_region_old", "ps_new1")
      .join(broadcast(r2),
        col("province_state") === r2("province_state_new") &&
          col("country_region") === r2("country_region_old"), "left")
      .withColumn("country_region", coalesce(col("cr_new2"), col("country_region")))
      .drop("province_state_new", "country_region_old", "cr_new2")
  }

  /** aggregate_loc_covid / aggregate_loc_weather
    * (covid_data_transform.py:24-52): non-US countries collapse to one
    * 'UNK' country-level row per date (sum for covid counts, mean for
    * weather); US keeps its per-state rows. pandas groupby silently
    * drops string columns — here the aggregated columns are explicit.
    */
  private def rollupNonUs(df: DataFrame, aggs: Seq[(String, String)]): DataFrame = {
    val us = df.filter(col("country_region") === "United States")
    val rest = df.filter(col("country_region") =!= "United States")
    val exprs = aggs.map { case (c, how) =>
      (if (how == "sum") sum(col(c)) else avg(col(c))).as(c)
    }
    val rolled = rest.groupBy("date", "country_region")
      .agg(exprs.head, exprs.tail: _*)
      .withColumn("province_state", lit("UNK"))
      .select(us.columns.map(col): _*)
    us.unionByName(rolled)
  }

  /** The `dataset_full` frame from the inputs under `refDir`, laid out
    * as the reference's `scripts/` directory (FIXTURES.md). */
  def run(spark: SparkSession, refDir: String): DataFrame = {
    import spark.implicits._
    // each used column typed as FIXTURES.md documents it
    def csv(path: String, types: PartialFunction[String, DataType]) =
      readCsv(spark, s"$refDir/$path", types)

    val lookup = csv("data/covid_data/location_match.csv", Map.empty)

    var interCovid = joinJhu(measures.map(m =>
        csv(s"data/covid_data/jhu_${m}_covid.csv",
          { case c if c.matches(jhuDate) => LongType })))
      .withColumn("country_region",
        when(col("country_region") === "US", "United States")
          .otherwise(col("country_region")))
    interCovid = renameLocation(interCovid, lookup)
    interCovid = rollupNonUs(interCovid, measures.map(_ -> "sum"))

    // stage 3+7: population dims and joins
    val jhuPop = csv("data/covid_data/jhu_countries_with_code.csv",
        Map("pop_data_2018" -> LongType))
      .withColumn("country_region",
        regexp_replace(col("countries_and_territories"), "_", " "))
      .select(col("country_region"), col("pop_data_2018").as("population"))
      .dropDuplicates()
    interCovid = interCovid.join(broadcast(jhuPop), Seq("country_region"), "inner")

    val usCovid = csv("data/covid_data/daily_covid_usstates.csv",
        Map("date" -> IntegerType, "positive" -> LongType,
          "recovered" -> LongType, "death" -> LongType))
      .select(col("date"), col("state").as("province_state"),
        col("positive").as("confirmed"), col("recovered"), col("death"),
        lit("United States").as("country_region"))
      .na.fill(0)
    val usPop = csv("data/covid_data/covid_county_population_usafacts.csv",
        Map("population" -> LongType))
      .groupBy(col("State").as("province_state"))
      .agg(sum("population").as("population"))
    val usWithPop = usCovid.join(broadcast(usPop), Seq("province_state"), "inner")

    val covid = interCovid.unionByName(usWithPop, allowMissingColumns = true)
      .na.fill("UNK", Seq("province_state"))
      .na.fill(0)
      .withColumn("country_region", trim(col("country_region")))

    // stages 9-11: weather frame = committed forecast, canonicalized,
    // rolled up (mean), then the W5 smoothing recurrence per location
    var weather = csv("output/weather_output/future_pred.csv",
        Map("TAVG_pred" -> DoubleType, "date" -> IntegerType,
          "date_idx" -> IntegerType))
      .select(col("TAVG_pred").as("TAVG"), col("state").as("province_state"),
        col("date"), col("country").as("country_region"),
        col("date_idx").cast("double").as("date_idx"))
      .na.fill(-1.0, Seq("date_idx"))
    weather = renameLocation(weather, lookup)
    weather = rollupNonUs(weather,
      Seq("TAVG" -> "mean", "date_idx" -> "mean"))
    val smoothed = weather
      .select(col("country_region"), col("province_state"), col("date"),
        col("TAVG").as("tavg"), col("date_idx"))
      .as[WxRow]
      .groupByKey(r => (r.country_region, r.province_state))
      .flatMapGroups { (key: (String, String), it: Iterator[WxRow]) =>
        val (cr, ps) = key
        val sorted = it.toIndexedSeq.sortBy(_.date)
        val filled = Sequential.smoothFill(sorted.map(_.tavg))
        sorted.iterator.zip(filled.iterator).map { case (r, t) =>
          WxOut(cr, ps, r.date, t, r.date_idx)
        }
      }
      .toDF()

    // stages 12-14: right join onto weather; keep locations with the
    // full 180-day horizon; broadcast first non-null population and
    // drop zero/absent-population locations
    val joined = covid.join(smoothed,
      Seq("date", "country_region", "province_state"), "right")
    val locKeys = Seq("country_region", "province_state")
    val hasHorizon = joined.groupBy(locKeys.map(col): _*)
      .agg(max("date_idx").as("mx")).filter(col("mx") === 179.0)
      .select(locKeys.map(col): _*)
    val admitted = joined.join(hasHorizon, locKeys, "left_semi")
    val firstPop = admitted.filter(col("population").isNotNull &&
        col("population") =!= 0)
      .groupBy(locKeys.map(col): _*)
      .agg(min_by(col("population"), col("date")).as("pop_broadcast"))
    admitted.drop("population")
      .join(firstPop, locKeys, "inner") // inner = drop no-population locs
      .withColumn("population", col("pop_broadcast").cast("double"))
      .withColumn("location_name",
        concat(col("country_region"), lit(" : "), col("province_state")))
      .withColumns(measures.map(m => m -> col(m).cast("double")).toMap)
      .select("date", "country_region", "province_state", "confirmed",
        "recovered", "death", "population", "TAVG", "date_idx",
        "location_name")
  }
}
