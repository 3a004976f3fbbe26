package graft

import java.nio.file.{Files, Path}
import java.time.LocalDate
import java.util.Locale

/** Seeded generator of the COVID pipeline's inputs in the CSV shapes
  * FIXTURES.md documents, written under the reference checkout's own
  * relative paths (`data/covid_data/…`, `output/weather_output/…`,
  * `data/simulation_data/…`), so `CovidDataTransform.run(spark, dir)`
  * and `CovidSimulator.loadPopDataset(spark, dir)` run without that
  * checkout. The same seed writes the same bytes.
  *
  * Files stay small (tens of rows; `future_pred.csv` holds 180 rows per
  * series). Edge rows on purpose, each one there so that a contract
  * assertion in PipelinesSpec can fail:
  *  - one forecast series (San Lorenzo) is 40 days, not 180: only the
  *    transform's horizon filter keeps it out of `dataset_full`, and it
  *    is under the forecaster's 60-row minimum;
  *  - `location_match` rewrites a legacy country (Old Carpathia →
  *    Carpathia) and a legacy province, and holds a row that matches
  *    nothing;
  *  - JHU country-level rows with a blank province, and province rows
  *    (Borduria) that the transform rolls up per country;
  *  - every US state has a zero-population county, and GU has only
  *    that one, so its population is 0; Elbonia has no population row
  *    at all — both are forecast in full and must be dropped;
  *  - `daily_covid_usstates.csv` leaves `recovered` blank for its
  *    first days;
  *  - the JHU and US series run to 2020-03-30, past the 2020-03-20
  *    gov_action threshold and the 2020-03-25 intervention pivot, so
  *    zeroing gov_action changes the chain's simulation; their growth
  *    midpoints fall late in that span, so the chain fits every state
  *    a positive β;
  *  - `pop_dataset.csv` runs 2020-02-28..2020-04-19, across the
  *    2020-03-20 gov_action threshold and the 2020-03-25 intervention
  *    pivot; its states start with zero-confirmed days, and ND has no
  *    recovered or death increments in its first 30 positive rows, so
  *    its raw R₀ is 0 and the zero→mean imputation runs;
  *  - NM's removals fall as its confirmed cases rise, so its fitted β
  *    is negative and the negative-β mean imputation runs; they never
  *    rise, so its raw R₀ is 0 too.
  */
object PipelineFixtures {

  private val ForecastStart = LocalDate.of(2020, 2, 16)
  private val Horizon = 180

  private case class Series(country: String, state: String, days: Int)

  private val forecast = Seq(
    Series("Aland Isles", "UNK", Horizon),
    Series("Borduria", "UNK", Horizon),
    Series("Carpathia", "UNK", Horizon),
    Series("San Lorenzo", "UNK", 40), // short: the horizon filter drops it
    Series("Elbonia", "UNK", Horizon), // no population row
    Series("United States", "CA", Horizon),
    Series("United States", "NY", Horizon),
    Series("United States", "TX", Horizon),
    Series("United States", "GU", Horizon)) // zero population

  /** The `location_name`s that `dataset_full` must hold. */
  val Admitted: Seq[String] = Seq("Aland Isles : UNK", "Borduria : UNK",
    "Carpathia : UNK", "United States : CA", "United States : NY",
    "United States : TX")

  /** Writes every input under `dir`, replacing files already there. */
  def write(dir: Path, seed: Long): Unit = {
    val rnd = new scala.util.Random(seed)
    writeCovidData(dir, rnd)
    writeForecast(dir, rnd)
    writePopDataset(dir, rnd)
  }

  private def ymd(d: LocalDate): Int =
    d.getYear * 10000 + d.getMonthValue * 100 + d.getDayOfMonth

  private def days(from: LocalDate, n: Int): Seq[LocalDate] =
    (0 until n).map(i => from.plusDays(i.toLong))

  private def uniform(rnd: scala.util.Random, lo: Double, hi: Double): Double =
    lo + (hi - lo) * rnd.nextDouble()

  /** StrictMath: the bytes must not depend on which JIT tier ran. */
  private def logistic(t: Double, k: Double, rate: Double, mid: Double): Double =
    k / (1.0 + StrictMath.exp(-rate * (t - mid)))

  private def fmt(x: Double): String =
    String.format(Locale.ROOT, "%.4f", Double.box(x))

  private def writeCsv(dir: Path, rel: String, header: Seq[String],
      rows: Seq[Seq[Any]]): Unit = {
    val f = dir.resolve(rel)
    Files.createDirectories(f.getParent)
    val sb = new StringBuilder
    (header +: rows).foreach(r => sb.append(r.mkString(",")).append('\n'))
    Files.writeString(f, sb.toString)
  }

  /** Cumulative confirmed cases on a logistic curve, never decreasing. */
  private def confirmedCurve(rnd: scala.util.Random, n: Int, scale: Double,
      mid: Double): Seq[Long] = {
    val k = scale * uniform(rnd, 0.5, 1.5)
    val rate = uniform(rnd, 0.12, 0.2)
    (0 until n).map(t => math.round(logistic(t, k, rate, mid)))
  }

  private def writeCovidData(dir: Path, rnd: scala.util.Random): Unit = {
    val covid = "data/covid_data"
    // JHU wide tables: (province, country) rows, one `_M_D_YY` column a
    // day; the 3 measure tables share their rows
    val jhuDays = days(LocalDate.of(2020, 2, 10), 50) // to 2020-03-30
    val jhuLocs = Seq(
      "" -> "Aland Isles",
      "North Borduria" -> "Borduria",
      "Old South" -> "Borduria", // legacy province, rewritten
      "Prov X" -> "Old Carpathia", // legacy country, rewritten
      "" -> "San Lorenzo",
      "" -> "Elbonia",
      "" -> "US")
    val curves = jhuLocs.map { _ =>
      val conf = confirmedCurve(rnd, jhuDays.length, 5000.0, 45.0)
      val share = uniform(rnd, 0.05, 0.15)
      val removed = conf.map(c => math.round(c * share))
      val death = removed.map(_ / 10)
      (conf, removed.zip(death).map { case (r, d) => r - d }, death)
    }
    val dateCols = jhuDays.map(d =>
      s"_${d.getMonthValue}_${d.getDayOfMonth}_${d.getYear % 100}")
    Seq("confirmed" -> curves.map(_._1), "recovered" -> curves.map(_._2),
      "death" -> curves.map(_._3)).foreach { case (m, values) =>
      writeCsv(dir, s"$covid/jhu_${m}_covid.csv",
        Seq("province_state", "country_region", "latitude", "longitude",
          "location_geom") ++ dateCols,
        jhuLocs.zip(values).zipWithIndex.map { case (((ps, cr), v), i) =>
          Seq(ps, cr, fmt(10.0 + i), fmt(-20.0 + 3 * i), "POINT(0 0)") ++ v
        })
    }

    writeCsv(dir, s"$covid/location_match.csv",
      Seq("country_region_old", "province_state_old", "country_region_new",
        "province_state_new"),
      Seq(Seq("Old Carpathia", "Prov X", "Carpathia", "Prov X"),
        Seq("Borduria", "Old South", "Borduria", "South Borduria"),
        Seq("Nowhere", "Nothing", "Nowhere", "Still Nothing")))

    // country populations, underscored as the ECDC table spells them;
    // Elbonia has no row
    val pops = Seq("Aland_Isles", "Borduria", "Carpathia", "San_Lorenzo",
      "United_States")
      .map(c => c -> (if (c == "United_States") 330000000L
        else 1000000L + rnd.nextInt(50000000)))
    writeCsv(dir, s"$covid/jhu_countries_with_code.csv",
      Seq("date", "day", "month", "year", "daily_confirmed_cases",
        "daily_deaths", "confirmed_cases", "deaths",
        "countries_and_territories", "geo_id", "country_territory_code",
        "pop_data_2018"),
      for {
        ((c, pop), i) <- pops.zipWithIndex
        d <- days(LocalDate.of(2020, 3, 1), 3)
      } yield Seq(d.toString, d.getDayOfMonth, d.getMonthValue, d.getYear,
        0, 0, 0, 0, c, s"G$i", s"C$i", pop))

    // US states: counties summed per state, each with a zero-population
    // county; GU has that county alone
    val states = Seq("CA", "NY", "TX", "GU")
    var fips = 1000L
    val counties = states.flatMap { s =>
      val shares = if (s == "GU") Seq.empty[Double] else Seq(0.5, 0.3, 0.2)
      val total = 1000000L + rnd.nextInt(20000000)
      val named = shares.zipWithIndex.map { case (sh, j) =>
        fips += 1
        Seq(fips, s"County ${j + 1}", s, math.round(total * sh))
      }
      fips += 1
      named :+ Seq(fips, "Statewide Unallocated", s, 0L)
    }
    writeCsv(dir, s"$covid/covid_county_population_usafacts.csv",
      Seq("countyFIPS", "County Name", "State", "population"), counties)

    val usDays = days(ForecastStart, 44) // to 2020-03-30
    val daily = states.flatMap { s =>
      val conf = confirmedCurve(rnd, usDays.length, 2000.0, 40.0)
      usDays.zip(conf).zipWithIndex.map { case ((d, c), t) =>
        val removed = math.round(c * 0.1)
        val death = removed / 10
        // recovered is blank (null) until the state starts reporting it
        val recovered = if (t < 8) "" else (removed - death).toString
        (ymd(d), s, Seq(ymd(d), s, c, 10 * c + t, recovered, death,
          java.lang.Long.toHexString(rnd.nextLong() & 0xffffffffffL)))
      }
    }.sortBy { case (d, s, _) => (-d, s) }.map(_._3)
    writeCsv(dir, s"$covid/daily_covid_usstates.csv",
      Seq("date", "state", "positive", "negative", "recovered", "death",
        "hash"), daily)
  }

  /** The weather forecast's output (weather_pred.py:408): one series per
    * (country, state), `date_idx` counting days from ForecastStart. */
  private def writeForecast(dir: Path, rnd: scala.util.Random): Unit = {
    val rows = forecast.flatMap { s =>
      val base = uniform(rnd, -50.0, 200.0)
      days(ForecastStart, s.days).zipWithIndex.map { case (d, i) =>
        val season = 80.0 * StrictMath.sin(
          2.0 * StrictMath.PI * (d.getDayOfYear - 110) / 365.0)
        val tavg = base + season + 15.0 * rnd.nextGaussian()
        Seq(fmt(tavg), s.state, ymd(d), s.country, i)
      }
    }
    writeCsv(dir, "output/weather_output/future_pred.csv",
      Seq("TAVG_pred", "state", "date", "country", "date_idx"), rows)
  }

  /** The simulator's committed per-state series: removals follow the
    * simulator's own model, d_removed = a + g·gov_action +
    * b·lag_confirmed + noise, with a per-state intercept a and slope b
    * (its random effects); a tenth of the removed are deaths. */
  private def writePopDataset(dir: Path, rnd: scala.util.Random): Unit = {
    val dates = days(LocalDate.of(2020, 2, 28), 52)
    val govFrom = LocalDate.of(2020, 3, 20)
    val states = Seq("CA", "NY", "TX", "WA", "FL", "ND", "NM")
    val g = uniform(rnd, 10.0, 30.0)
    val rows = states.zipWithIndex.flatMap { case (s, i) =>
      val population = 1000000L + rnd.nextInt(30000000)
      val lead = i // zero-confirmed days before the first case
      val grown = confirmedCurve(rnd, dates.length - lead,
        population * 0.003, uniform(rnd, 20.0, 35.0))
      val conf = Vector.fill(lead)(0L) ++ grown.map(math.max(1L, _))
      val a = uniform(rnd, 5.0, 30.0)
      // NM's slope is negative: its removals start at its final case
      // count and never rise (so its raw R₀ is 0), nor fall below 1
      val falling = s == "NM"
      val b = uniform(rnd, 0.005, 0.03) * (if (falling) -1 else 1)
      // ND reports no removals over its first 30 positive rows
      val quietUntil = if (s == "ND") lead + 30 else lead + 1
      var total = if (falling) conf.last.toDouble else 0.0
      val removed = dates.indices.map { t =>
        if (t >= quietUntil) {
          val gov = if (dates(t).isAfter(govFrom)) g else 0.0
          val step = a + gov + b * conf(t - 1) + 5.0 * rnd.nextGaussian()
          total += (if (falling) math.min(0.0, step) else math.max(0.0, step))
        }
        if (falling) math.max(1L, math.round(total))
        else math.min(math.round(total), conf(t))
      }
      val death = removed.map(_ / 10)
      val recovered = removed.zip(death).map { case (r, d) => r - d }
      def inc(xs: Seq[Long], t: Int): Long = if (t == 0) 0L else xs(t) - xs(t - 1)
      dates.indices.map { t =>
        Seq(ymd(dates(t)), s, conf(t), recovered(t), death(t), inc(conf, t),
          inc(death, t), inc(recovered, t), population).map {
          case x: Long => s"$x.0"
          case x => x
        }
      }
    }
    writeCsv(dir, "data/simulation_data/pop_dataset.csv",
      Seq("date", "state", "positive", "recovered", "death",
        "positiveIncrease", "deathIncrease", "recoveredIncrease",
        "population"), rows)
  }
}
