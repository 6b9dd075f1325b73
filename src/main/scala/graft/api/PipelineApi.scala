package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.audit.Audit
import graft.sources.ParquetScan
import graft.transform.{CleanColumns, CleanRows, MergeTableVersions, SensitiveTier}

/** Thin service facade mirroring the reference's five REST endpoints
  * (`/root/reference/core/endpoints.py`): heartbeat, clean_columns,
  * clean_rows, merge_table_versions, create_sensitive_tier. The reference
  * binds them to Flask + BigQuery CTAS; here each is
  * read-parquet (the shared [[ParquetScan]] path: no schema-inference
  * job) → transform → audit plan → overwrite-parquet, returning
  * the same status JSON shape. A `tableId` (e.g.
  * "FlatConnect.module1_v2_JP") selects per-table rename/transform config
  * exactly as the reference's fully-qualified table name does. */
object PipelineApi {

  final case class Result(status: String, submittedSqlPath: String)

  /** B28: request validation — both names must be present (the reference
    * returns 400; we throw, the service layer maps it).
    * Ref: `core/request_helpers.py:3-12`. */
  def extractSourceAndDestination(source: Option[String], dest: Option[String]): (String, String) =
    (source, dest) match {
      case (Some(s), Some(d)) if s.nonEmpty && d.nonEmpty => (s, d)
      case _ => throw new IllegalArgumentException(
        "Both 'source_table' and 'destination_table' must be provided.")
    }

  /** Ref: `core/endpoints.py:11-18`. */
  def heartbeat(service: String = "graft"): Map[String, String] = Map(
    "status" -> "success",
    "service" -> service,
    "timestamp" -> java.time.Instant.now().toString)

  private def materialize(df: DataFrame, dest: String, auditDir: String): Result = {
    val planPath = s"$auditDir/${dest.replaceAll("[^A-Za-z0-9._-]", "_")}.plan.txt"
    Audit.savePlan(df, planPath)
    df.write.mode("overwrite").parquet(dest)
    Result(s"Table $dest successfully created with all transformations applied", planPath)
  }

  /** Ref: `core/endpoints.py:20-35` → process_columns. Archives both the
    * generated SQL text (the reference's audit artifact) and the Spark
    * plan before writing. */
  def cleanColumns(spark: SparkSession, source: String, dest: String,
      tableId: String = "", auditDir: String = "/tmp/graft-audit"): Result = {
    val df = ParquetScan.readPath(spark, source)
    Audit.saveText(
      CleanColumns.toSql(df.schema.fieldNames.toSeq, tableId, source, dest),
      s"$auditDir/${dest.replaceAll("[^A-Za-z0-9._-]", "_")}.sql")
    materialize(CleanColumns(df, tableId), dest, auditDir)
  }

  /** Ref: `core/endpoints.py:37-52` → process_rows. */
  def cleanRows(spark: SparkSession, source: String, dest: String,
      useReference: Boolean = true, auditDir: String = "/tmp/graft-audit"): Result = {
    val df = ParquetScan.readPath(spark, source)
    val cls = CleanRows.classify(df, useReference)
    Audit.saveText(CleanRows.toSql(cls, source, dest),
      s"$auditDir/${dest.replaceAll("[^A-Za-z0-9._-]", "_")}.sql")
    materialize(CleanRows(df, cls), dest, auditDir)
  }

  /** Ref: `core/endpoints.py:54-69` → merge_table_versions. Requires >= 2
    * sources, like the reference (`core/transformations.py:47-48`). */
  def mergeTableVersions(spark: SparkSession, sources: Seq[String], dest: String,
      auditDir: String = "/tmp/graft-audit"): Result = {
    require(sources.size >= 2,
      "A destination table and at least two source tables must be provided.")
    materialize(MergeTableVersions(sources.map(ParquetScan.readPath(spark, _))), dest, auditDir)
  }

  /** Ref: `core/endpoints.py:72-87` → create_sensitive_tier. */
  def createSensitiveTier(spark: SparkSession, source: String, dest: String,
      auditDir: String = "/tmp/graft-audit"): Result =
    materialize(SensitiveTier(ParquetScan.readPath(spark, source)), dest, auditDir)
}
