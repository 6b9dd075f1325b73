package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column <-> Expression bridge. Spark 4 made `Column.expr` and the
  * Column(Expression) constructor `private[sql]` (Connect-agnostic Column
  * API); custom Catalyst expressions still need the classic conversions,
  * so this one-file subpackage of org.apache.spark.sql re-exports them —
  * the standard pattern for third-party Catalyst extensions. */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)

  /** Lazy wrapper — sufficient for embedding a Column into a custom
    * Expression tree (resolution happens at analysis). */
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Eagerly-converted Catalyst expression — needed when the tree itself
    * is inspected before analysis (e.g. rendering `.sql` audit text). */
  def eagerExpression(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter.apply(c.node)

  /** DataFrame over an `RDD[InternalRow]`
    * (`SparkSession.internalCreateDataFrame` is `private[sql]`) — the
    * re-entry point for RDD-level kernels that must stay in the
    * Tungsten row format (e.g. the zipWithIndex global-rank recipe)
    * instead of round-tripping through external `Row` conversion. */
  def ofInternalRows(spark: SparkSession,
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType): org.apache.spark.sql.DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rdd, schema)

  /** Declared Spark schema of ONE parquet file, from its footer, read
    * entirely on the driver. `spark.read.parquet(f).schema` answers the
    * same question but launches a (tiny) Spark JOB for the parallel
    * footer merge — a per-call fixed cost that the streaming gates and
    * lake readers pay once per query start. Uses the same
    * ParquetToSparkSchemaConverter (honoring nanosAsLong /
    * int96 / binary-as-string session flags) as the scan path, so the
    * declared types match `spark.read` exactly. */
  def parquetFooterSchema(spark: SparkSession,
      file: String): org.apache.spark.sql.types.StructType = {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val hconf = classic.sessionState.newHadoopConf()
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(file), hconf)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    // asNullable: file relations force every column nullable (a file may
    // be replaced); without it the footer schema would read non-null for
    // REQUIRED parquet fields and diverge from spark.read
    try new org.apache.spark.sql.execution.datasources.parquet.ParquetToSparkSchemaConverter(
        classic.sessionState.conf)
      .convert(r.getFooter.getFileMetaData.getSchema).asNullable
    finally r.close()
  }

  /** Parquet's `mergeSchema` union of two file schemas
    * (`StructType.merge` is `private[sql]`): fields matched by name,
    * first-seen order kept, new fields appended, incompatible types
    * refused — the same merge Spark's schema-inference job runs. */
  def mergeSchemas(a: org.apache.spark.sql.types.StructType,
      b: org.apache.spark.sql.types.StructType,
      caseSensitive: Boolean): org.apache.spark.sql.types.StructType =
    a.merge(b, caseSensitive)

  /** Every field nullable, recursively (`StructType.asNullable` is
    * `private[spark]`) — the nullability a file relation reports. */
  def asNullable(st: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = st.asNullable

  /** DataFrame over a custom LogicalPlan (`Dataset.ofRows` went
    * `private[sql]` with the Connect split) — the entry point custom
    * logical operators need. */
  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)
}
