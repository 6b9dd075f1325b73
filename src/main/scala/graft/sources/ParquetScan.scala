package graft.sources

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, lit, regexp_replace}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.StructType

/** The one parquet scan path. The four lake layers (Delta log replay,
  * Iceberg manifests, Hudi timeline, snapshot manifests), the served
  * endpoints and the batch table readers each resolve their own
  * metadata — which files are live, what schema the table declares,
  * which rows are deleted — and hand the result here. Two decisions are
  * made in this module and nowhere else:
  *
  *  - READ SCHEMA of a file set: the schema the table DECLARES when it
  *    declares one (Delta `metaData.schemaString`, Iceberg's current
  *    schema); otherwise the FOOTER RULE — the union, by column name, of
  *    every file's parquet footer, files in path order (parquet's
  *    `mergeSchema` semantics, computed on the driver: no Spark job). A
  *    column a later commit added is NULL in older files instead of
  *    silently dropped; incompatible types across footers refuse. All
  *    files of one Spark write share one footer schema, so a layer that
  *    knows its write units (a snapshot dir) may hand over one file per
  *    unit: the same union at one footer read per unit.
  *  - MASKING DELETED ROWS: position deletes anti-join on the scan's own
  *    provenance (`_metadata.file_path`, `_metadata.row_index`), with an
  *    optional sequence bound `deleteSeq >= dataSeq`; equality deletes
  *    anti-join null-safe on their key columns under the strict rule
  *    `deleteSeq > dataSeq`, so a row re-inserted after its delete
  *    survives. Files are matched by [[fileKey]] on both sides; raw
  *    delete targets map to data files by [[location]]. Position-delete
  *    sides are broadcast (see [[readFiles]]).
  */
object ParquetScan {

  /** Provenance columns [[readFiles]] keeps with `provenance = true`:
    * the row's source file as `_metadata.file_path` renders it, and its
    * row index inside that file. */
  val FileCol = "__scan_file"
  val PosCol = "__scan_pos"

  private val DelKey = "__scan_del_file"
  private val DelPos = "__scan_del_pos"
  private val DelLoc = "__scan_del_loc"
  private val DataSeq = "__scan_data_seq"
  private val DelSeq = "__scan_del_seq"

  /** Equality deletes whose rows null-safe-match `keys`: delete files
    * with each one's sequence number. */
  final case class EqualityDeletes(keys: Seq[String], files: Seq[(String, Long)])

  /** Parquet data files under `dir`, recursively, in path order; hidden
    * names (`_SUCCESS`, `.crc`, `_delta_log`, staging dirs — but not a
    * `_col=value` partition dir) are skipped, Spark's own listing rule. */
  def parquetFiles(fs: FileSystem, dir: Path): Seq[FileStatus] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[FileStatus]
    def walk(p: Path): Unit = fs.listStatus(p).foreach { st =>
      val name = st.getPath.getName
      if ((name.startsWith("_") && !name.contains("=")) || name.startsWith(".")) ()
      else if (st.isDirectory) walk(st.getPath)
      else if (name.endsWith(".parquet")) out += st
    }
    walk(dir)
    out.sortBy(_.getPath.toString).toSeq
  }

  /** A file's row count from its parquet footer — a driver-side
    * metadata read, no Spark job. */
  def rowCount(spark: SparkSession, file: String): Long = {
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(new Path(file),
        spark.sparkContext.hadoopConfiguration))
    try r.getRecordCount finally r.close()
  }

  /** A dir written with a partition spec has `col=value` subdirs. */
  def isHivePartitioned(fs: FileSystem, dir: Path): Boolean =
    fs.listStatus(dir).exists(st =>
      st.isDirectory && st.getPath.getName.contains("="))

  /** The read schema of `files`: `declared` when the table declares one,
    * else the footer rule. Nullable throughout, as a file relation
    * reports it. */
  def readSchema(spark: SparkSession, files: => Seq[String],
      declared: Option[StructType] = None): StructType =
    Bridge.asNullable(declared.getOrElse {
      require(files.nonEmpty, "the footer rule needs at least one file")
      val caseSensitive = spark.conf.get("spark.sql.caseSensitive", "false").toBoolean
      files.sorted.map(f => Bridge.parquetFooterSchema(spark, f))
        .reduce(Bridge.mergeSchemas(_, _, caseSensitive))
    })

  /** Scan flat (non-hive) directories with the read schema of all their
    * files — the directories themselves are the scan roots, so Spark
    * lists them on the driver. */
  def readDirs(spark: SparkSession, dirs: Seq[String],
      declared: Option[StructType] = None): DataFrame =
    spark.read.schema(readSchema(spark, dirs.flatMap { d =>
      val p = new Path(d)
      parquetFiles(p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
        .map(_.getPath.toString)
    }, declared)).parquet(dirs: _*)

  /** One parquet path as a reader is handed it (a served endpoint's
    * source, a batch table): a file or a flat directory reads through
    * the footer rule, launching no Spark job; a hive-partitioned
    * directory, a glob or a directory without `.parquet` files goes to
    * Spark's own reader (partition discovery, its own listing). */
  def readPath(spark: SparkSession, path: String): DataFrame = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val st = if (fs.exists(p)) Some(fs.getFileStatus(p)) else None
    if (st.exists(_.isFile)) readFiles(spark, Seq(path))
    else if (st.isDefined && !isHivePartitioned(fs, p) &&
      parquetFiles(fs, p).nonEmpty) readDirs(spark, Seq(path))
    else spark.read.parquet(path)
  }

  /** Scan `files` with their read schema, then mask deleted rows.
    *
    *  - `deleted`: driver-resolved position deletes `(data file, pos,
    *    seq)` — deletion vectors, whose bitmaps are metadata bounded by
    *    one file's rows. The sequence bound is applied on the driver, so
    *    the delete side is a plain local table.
    *  - `deleteFiles`: scanned position deletes, rows `(file, pos, seq)`
    *    where `file` is the RAW location of the data file as the delete
    *    writer recorded it (Iceberg position-delete files). Each target
    *    maps to its data file through the driver's own table of `files`
    *    (both with the URI scheme stripped, see [[location]]), never by
    *    re-encoding the string.
    *  - `equalities`: key-matched deletes, applied where the delete's
    *    sequence is strictly greater than the data file's (`fileSeqs`
    *    required).
    *  - `fileSeqs`: each data file's sequence number; a position delete
    *    applies only where its `seq >=` its data file's (without, always).
    *  - `provenance`: keep [[FileCol]] / [[PosCol]] on the result.
    *
    * Position-delete sides are broadcast (corrections, not corpora; the
    * data side keeps its scan partitioning), driver-resolved ones up to
    * 4M rows: a mass delete past that is a corpus of its own, left to
    * the planner. */
  def readFiles(spark: SparkSession, files: Seq[String],
      declared: Option[StructType] = None,
      deleted: Seq[(String, Long, Long)] = Nil,
      deleteFiles: Option[DataFrame] = None,
      equalities: Seq[EqualityDeletes] = Nil,
      fileSeqs: Seq[(String, Long)] = Nil,
      provenance: Boolean = false): DataFrame = {
    require(files.nonEmpty, "a parquet scan needs at least one file")
    require(equalities.isEmpty || fileSeqs.nonEmpty,
      "equality deletes need the data files' sequence numbers")
    val scan = spark.read.schema(readSchema(spark, files, declared))
      .parquet(files: _*)
    if (deleted.isEmpty && deleteFiles.isEmpty && equalities.isEmpty && !provenance)
      return scan
    import spark.implicits._
    // each data file as (location, key, sequence number); the lowest
    // sequence when none is given, so every delete applies
    lazy val data: Seq[(String, String, Long)] = {
      val seqOf = fileSeqs.toMap
      files.distinct.map(f =>
        (location(f), fileKey(spark, f), seqOf.getOrElse(f, Long.MinValue)))
    }
    def without(df: DataFrame, del: DataFrame): DataFrame =
      df.join(del, fileKey(col(FileCol)) === col(DelKey) && col(PosCol) === col(DelPos),
        "left_anti")
    var df = scan.withColumn(FileCol, col("_metadata.file_path"))
      .withColumn(PosCol, col("_metadata.row_index"))
    if (deleted.nonEmpty) {
      val seqOf = data.map { case (_, k, s) => k -> s }.toMap
      val keyOf = deleted.map(_._1).distinct.map(f => f -> fileKey(spark, f)).toMap
      val rows = deleted.flatMap { case (f, pos, seq) =>
        val k = keyOf(f)
        if (seqOf.get(k).exists(seq >= _)) Some((k, pos)) else None
      }
      val del = rows.toDF(DelKey, DelPos)
      df = without(df, if (rows.size <= BroadcastRows) broadcast(del) else del)
    }
    deleteFiles.foreach { d =>
      df = without(df, broadcast(d
        .join(data.toDF(DelLoc, DelKey, DataSeq), location(col("file")) === col(DelLoc))
        .filter(col("seq").cast("long") >= col(DataSeq))
        .select(col(DelKey), col("pos").cast("long").as(DelPos))))
    }
    if (equalities.nonEmpty)
      df = withoutKeys(
        df.withColumn(DelKey, fileKey(col(FileCol)))
          .join(data.map { case (_, k, s) => (k, s) }.toDF(DelKey, DataSeq), Seq(DelKey))
          .drop(DelKey),
        DataSeq, equalities).drop(DataSeq)
    if (provenance) df else df.drop(FileCol, PosCol)
  }

  private val BroadcastRows = 4000000L

  /** Mask `data` (carrying each row's sequence in `dataSeq`) with every
    * equality-delete set: one null-safe anti-join per set, a delete
    * applying only where its sequence is strictly greater. The delete
    * files of one sequence number are one commit's write: one footer
    * gives their read schema. */
  def withoutKeys(data: DataFrame, dataSeq: String,
      deletes: Seq[EqualityDeletes]): DataFrame =
    deletes.foldLeft(data) { (acc, d) =>
      require(d.keys.nonEmpty, "equality delete with an empty key list")
      val keyCols = d.keys.indices.map(i => s"__scan_del_k$i")
      val rows = d.files.groupBy(_._2).toSeq.sortBy(_._1).map { case (seq, fs) =>
        val files = fs.map(_._1)
        readFiles(acc.sparkSession, files,
          Some(readSchema(acc.sparkSession, files.take(1))))
          .select(d.keys.zip(keyCols).map { case (k, kc) => col(s"`$k`").as(kc) } :+
            lit(seq).as(DelSeq): _*)
      }.reduce(_ unionByName _)
      val cond = d.keys.zip(keyCols).map { case (k, kc) => col(s"`$k`") <=> col(kc) }
        .reduce(_ && _) && col(DelSeq) > col(s"`$dataSeq`")
      acc.join(rows, cond, "left_anti")
    }

  private val Scheme = "^[a-zA-Z][a-zA-Z0-9+.-]*:/*"

  /** File identity across path renderings: the percent-encoded path with
    * its URI scheme stripped (`file:/a/b%20c`, `file:///a/b%20c` and
    * `/a/b%20c` all become `/a/b%20c`) — for a column of rendered paths,
    * e.g. `_metadata.file_path`, which Spark percent-encodes. */
  def fileKey(c: Column): Column = regexp_replace(c, Scheme, "/")

  /** A RAW location — as lake metadata or a delete writer records it,
    * not percent-encoded — with its URI scheme stripped: `file:/a/b c`
    * and `/a/b c` both become `/a/b c`. Compares with raw locations
    * only; a rendered path compares by [[fileKey]]. */
  def location(c: Column): Column = regexp_replace(c, Scheme, "/")
  private def location(path: String): String = path.replaceFirst(Scheme, "/")

  /** [[fileKey]] of a driver-side path (qualified, then encoded as
    * `_metadata.file_path` renders it: `/a/b c` keys as `/a/b%20c`). */
  def fileKey(spark: SparkSession, path: String): String = {
    val p = new Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).makeQualified(p)
      .toUri.toString.replaceFirst(Scheme, "/")
  }
}
