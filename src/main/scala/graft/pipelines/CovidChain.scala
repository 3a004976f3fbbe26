package graft.pipelines

import java.util.Locale

import graft.GraftSession
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

/** One stage of [[CovidChain.run]]: the rows it wrote to
  * `<workDir>/<name>.csv` and the seconds the write took. */
case class Stage(name: String, rows: Long, seconds: Double)

/** The paper's pipeline, chained through CSV files as the reference's
  * scripts are (covid_data_transform.py:286 writes `dataset_full.csv`,
  * covid_simulator.py:335 reads it). Each stage writes its CSV under
  * `workDir` and the next reads that file back on the schema just
  * written: no read infers, nothing is cached, and a stage's row count
  * rides along its own write as an `Observation`. Like
  * [[CovidDataTransform]], it starts from the inputs' `future_pred.csv`.
  */
object CovidChain {

  /** transform → features → coefficients → simulation → intervention
    * on the inputs under `inDir`, laid out as the reference's `scripts/`. */
  def run(spark: SparkSession, inDir: String, workDir: String): Seq[Stage] = {
    val stages = Seq.newBuilder[Stage]
    def stage(name: String, df: DataFrame): DataFrame = {
      val path = s"$workDir/$name.csv"
      val rows = Observation(name)
      val t0 = System.nanoTime()
      df.observe(rows, count(lit(1)).as("rows"))
        .write.mode("overwrite").option("header", true).csv(path)
      stages += Stage(name, rows.get("rows").asInstanceOf[Long],
        (System.nanoTime() - t0) / 1e9)
      spark.read.option("header", true).schema(df.schema).csv(path)
    }
    val datasetFull = stage("dataset_full", CovidDataTransform.run(spark, inDir))
    val feats = stage("features", CovidSimulator.features(spark, datasetFull))
    val coefs = stage("coefficients", CovidSimulator.coefficients(feats))
    stage("simulation", CovidSimulator.simulate(feats, coefs))
    stage("intervention", CovidSimulator.compareIntervention(feats, coefs))
    stages.result()
  }

  /** Runnable: `CovidChain <inDir> <workDir>` runs the chain and prints
    * its stages as one JSON line. */
  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: CovidChain <inDir> <workDir>")
    val spark = GraftSession()
    try {
      val stages = run(spark, args(0), args(1)).map { s =>
        "{\"name\":\"%s\",\"rows\":%d,\"seconds\":%.3f}".formatLocal(
          Locale.ROOT, s.name, s.rows, s.seconds)
      }
      print(stages.mkString("{\"stages\":[", ",", "]}\n"))
    } finally spark.stop()
  }
}
