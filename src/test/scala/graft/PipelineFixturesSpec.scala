package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** [[PipelineFixtures]] is a pure function of its seed: PipelinesSpec's
  * contract tests are only reproducible if their generated inputs are. */
class PipelineFixturesSpec extends AnyFunSuite with TempDirs {

  /** Every file under `dir`, by relative path, with its bytes. */
  private def snapshot(dir: Path): Map[String, Seq[Byte]] = {
    val files = Files.walk(dir)
    try files.iterator().asScala.filter(Files.isRegularFile(_))
      .map(f => dir.relativize(f).toString -> Files.readAllBytes(f).toSeq)
      .toMap
    finally files.close()
  }

  private def written(seed: Long): Map[String, Seq[Byte]] = {
    val d = Paths.get(tempDir("graft_fixtures"))
    PipelineFixtures.write(d, seed)
    snapshot(d)
  }

  test("two writes with the same seed give byte-identical files") {
    val a = written(7L)
    val b = written(7L)
    assert(a.keySet == Set(
      "data/covid_data/jhu_confirmed_covid.csv",
      "data/covid_data/jhu_recovered_covid.csv",
      "data/covid_data/jhu_death_covid.csv",
      "data/covid_data/daily_covid_usstates.csv",
      "data/covid_data/covid_county_population_usafacts.csv",
      "data/covid_data/jhu_countries_with_code.csv",
      "data/covid_data/location_match.csv",
      "output/weather_output/future_pred.csv",
      "data/simulation_data/pop_dataset.csv"))
    assert(a.keySet == b.keySet)
    a.foreach { case (f, bytes) => assert(bytes == b(f), s"$f differs") }
    // the seed is what draws the values: another seed changes them
    val c = written(8L)
    assert(a.exists { case (f, bytes) => bytes != c(f) })
  }
}
