package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
import pystreamsspark.relational._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Queries live in `pystreamsspark.*` modules, one object per SURVEY.md §2
  * category; this object just aggregates their registrations.
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    CoreQueries.q1Agg(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    CoreQueries.queries ++ AggQueries.queries ++ JoinQueries.queries ++
      ScalarQueries.queries ++ WindowQueries.queries ++ TimeQueries.queries ++
      LlmQueries.queries ++ SetQueries.queries ++ SqlQueries.queries ++
      ExtraQueries.queries ++ PipelineQueries.queries ++ StorageQueries.queries ++
      GraphQueries.queries ++ AnalyticsQueries.queries ++ LayoutQueries.queries ++
      DriftQueries.queries ++ DmlQueries.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    CoreQueries.oracle ++ AggQueries.oracle ++ JoinQueries.oracle ++
      ScalarQueries.oracle ++ WindowQueries.oracle ++ TimeQueries.oracle ++
      LlmQueries.oracle ++ SetQueries.oracle ++ SqlQueries.oracle ++
      ExtraQueries.oracle ++ PipelineQueries.oracle ++ StorageQueries.oracle ++
      GraphQueries.oracle ++ AnalyticsQueries.oracle ++ LayoutQueries.oracle ++
      DriftQueries.oracle ++ DmlQueries.oracle
}
