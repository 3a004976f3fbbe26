package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.immutable.ListMap

/** One verifiable query: a Spark DataFrame program over the testdata
  * tables plus (when SQL-expressible) the equivalent ANSI SQL the driver
  * runs in DuckDB. Both sides MUST produce identical column names and a
  * deterministic total row order (ORDER BY in SQL, orderBy in Spark) so
  * the driver's hash compare is stable.
  */
final case class Q(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    doc: String = "")

object Registry {
  /** All registered queries, in stable declaration order. */
  def all: Seq[Q] =
    graft.queries.SourceQueries.all ++
      graft.queries.RelationalQueries.all ++
      graft.queries.JoinQueries.all ++
      graft.queries.AggQueries.all ++
      graft.queries.WindowQueries.all ++
      graft.queries.ScalarFuncQueries.all ++
      graft.queries.SequentialQueries.all ++
      graft.queries.MlQueries.all ++
      graft.queries.TextQueries.all ++
      graft.queries.DedupQueries.all ++
      graft.queries.SimilarityQueries.all ++
      graft.queries.EventQueries.all ++
      graft.queries.SketchQueries.all ++
      graft.queries.PipelineQueries.all ++
      graft.queries.HeadlineQueries.all ++
      graft.queries.TpchQueries.all ++
      graft.queries.GraphQueries.all ++
      graft.queries.SqlSurfaceQueries.all

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    ListMap(all.map(q => q.name -> q.fn): _*)

  def oracleSql: Map[String, String] =
    ListMap(all.flatMap(q => q.oracle.map(q.name -> _)): _*)
}
