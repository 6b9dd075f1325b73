package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.queries.{AnalyticsQueries, CurationQueries, ExtendedQueries, GovernanceQueries, MlPrepQueries, PipelineQueries, QueryDef, RelationalQueries, SpatialQueries, StreamingQueries, SurveyQueries, Tables, TemporalQueries, UnicodeQueries}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Queries are assembled from twelve registries, in `allQueries` order:
  * [[graft.queries.SurveyQueries]] (the reference's capability surface —
  * clean_columns / clean_rows / merge_table_versions / sensitive_tier and
  * the profiling aggregates — on survey-shaped inputs), Relational,
  * Pipeline (dedup, similarity search, text, multimodal), Extended,
  * Curation (incl. lakehouse maintenance), Analytics, MlPrep, Streaming,
  * Governance, Unicode, Temporal and Spatial (`graft.queries.*Queries`).
  */
object SparkEntry {

  val allQueries: Seq[QueryDef] =
    SurveyQueries.all ++ RelationalQueries.all ++ PipelineQueries.all ++
      ExtendedQueries.all ++ CurationQueries.all ++ AnalyticsQueries.all ++
      MlPrepQueries.all ++ StreamingQueries.all ++ GovernanceQueries.all ++
      UnicodeQueries.all ++ TemporalQueries.all ++ SpatialQueries.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Runs the full clean_columns pipeline on a survey-shaped projection. */
  def entry(spark: SparkSession): DataFrame =
    SurveyQueries.cleanColumns.build(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    allQueries.map(q => q.name -> q.build).toMap

  /** For each key in `queries`, equivalent SQL runnable by DuckDB on the
    * same parquet tables. Omitted for ops whose hashing primitives are
    * Spark-native (simhash/sign-LSH/mapPartitions decode) → driver records
    * a rows-only check; those are pinned against ground truth in
    * PipelineSpec instead. */
  def oracleSql: Map[String, String] =
    allQueries.flatMap(q => q.oracle.map(o => q.name -> o)).toMap
}
