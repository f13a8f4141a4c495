package graft

import graft.pipelines.EventsPipeline
import graft.queries._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the per-operator correctness surface: every operator from
  * SURVEY.md §2 (and the training-data extensions) runs as a query over the
  * harness tables; `oracleSql` holds the exact DuckDB twin the driver
  * hash-compares against. Queries with no SQL twin (LDA-based pipelines)
  * get the driver's weaker rows-only check.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The driver builds `spark`, not [[GraftSession]], so it is adopted
    * first: its `events.parquet` needs [[GraftSession.NanosAsLong]]. */
  def entry(spark: SparkSession): DataFrame = {
    val events = Tables.load(GraftSession.adopt(spark),
      "/root/testdata/sf0.001", "events")
    EventsPipeline.results(events, EventsPipeline.train(events, topicCount = 5),
      threshold = 1.0, topK = 100)
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    RelationalQueries.queries ++ FeatureQueries.queries ++
      TextQueries.queries ++ VectorQueries.queries ++
      MultimodalQueries.queries ++ PipelineQueries.queries ++
      FixedModelQueries.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    RelationalQueries.oracles ++ FeatureQueries.oracles ++
      TextQueries.oracles ++ VectorQueries.oracles ++
      MultimodalQueries.oracles ++ PipelineQueries.oracles ++
      FixedModelQueries.oracles
}
