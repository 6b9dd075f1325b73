package graft.streaming

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsTriggerAvailableNow}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.{DeltaCompat, HudiCompat, IcebergCompat, ParquetScan}

/** FOREIGN-LAKE STREAMING SOURCE — the streaming twin of the batch
  * incremental pulls ([[graft.sources.DeltaCompat.addedBetween]] /
  * [[graft.sources.HudiCompat.incrementalFiles]] /
  * [[graft.sources.IcebergCompat.addedBetween]]): a real Structured
  * Streaming `MicroBatchStream` whose offsets are the foreign table's
  * own commit ladder (Delta version / Hudi instant / Iceberg snapshot
  * index), so a restart resumes from the checkpointed foreign position
  * with exactly-once file-window semantics — the missing symmetry
  * between the 20 batch-twinned `stream_*` gates and the lake-interop
  * family.
  *
  *   spark.readStream.format("foreign-lake")
  *     .option("format", "delta" | "hudi" | "iceberg")
  *     .option("path", dir)
  *     .option("startingOffset", "-1")   // -1 = replay from table start
  *     .load()
  *
  * Windows are APPEND-ONLY by construction — the underlying resolvers
  * refuse rewrite/delete windows loudly (a sync stream silently
  * replaying a rewrite double-counts). Micro-batch planning is
  * driver-side metadata (the log/timeline/manifest chain); the data
  * plane is one InputPartition per added file, read in executors with
  * the parquet-hadoop Group API. Scope: flat primitive schemas (the
  * same contract as the compat readers' merge surfaces); nested types
  * refuse at stream start, not mid-run. */
object ForeignLakeStream {

  /** One lake format's offset ladder. `latest` = current head offset;
    * `added` = data files entering in `(from, to]`; `schemaAt` = the
    * read schema of the table at `to` (declared, else the shared footer
    * rule over its live files — [[graft.sources.ParquetScan]]). */
  private[streaming] sealed trait Lake extends Serializable {
    def latest(spark: SparkSession, path: String): Long
    def added(spark: SparkSession, path: String, from: Long, to: Long): Seq[String]
    def schemaAt(spark: SparkSession, path: String, to: Long): StructType
  }

  private[streaming] case object DeltaLake extends Lake {
    def latest(spark: SparkSession, path: String): Long =
      DeltaCompat.latestVersion(spark, path)
    def added(spark: SparkSession, path: String, from: Long, to: Long): Seq[String] =
      DeltaCompat.addedBetween(spark, path, from, to)
    def schemaAt(spark: SparkSession, path: String, to: Long): StructType =
      DeltaCompat.dataSchema(spark, path, Some(to))
  }

  private[streaming] case object HudiLake extends Lake {
    def latest(spark: SparkSession, path: String): Long =
      HudiCompat.completedInstants(spark, path).map(_.toLong).maxOption.getOrElse(-1L)
    private def instantAt(spark: SparkSession, path: String, to: Long): String = {
      val insts = HudiCompat.completedInstants(spark, path).filter(_.toLong <= to)
      require(insts.nonEmpty, s"no completed Hudi instants at or before $to in $path")
      insts.maxBy(_.toLong)
    }
    def added(spark: SparkSession, path: String, from: Long, to: Long): Seq[String] = {
      // live slices as of `to`, keeping file groups written after
      // `from` — CoW incremental redelivers a rewritten group whole,
      // so refuse rewrites of pre-window groups like the Delta leg
      val files = HudiCompat.liveFiles(spark, path, Some(instantAt(spark, path, to)))
      val instantOf = "_(\\d+)\\.parquet$".r
      files.filter { f =>
        val inst = instantOf.findFirstMatchIn(f).map(_.group(1).toLong)
          .getOrElse(throw new IllegalArgumentException(s"unparseable base file $f"))
        inst > from
      }
    }
    def schemaAt(spark: SparkSession, path: String, to: Long): StructType =
      ParquetScan.readSchema(spark,
        HudiCompat.liveFiles(spark, path, Some(instantAt(spark, path, to))))
  }

  private[streaming] case object IcebergLake extends Lake {
    // the offset is the snapshot's 1-based INDEX in metadata order (ids
    // themselves are unordered); 0 = before the first snapshot
    def latest(spark: SparkSession, path: String): Long =
      IcebergCompat.snapshotIds(spark, path).size.toLong
    def added(spark: SparkSession, path: String, from: Long, to: Long): Seq[String] = {
      val ids = IcebergCompat.snapshotIds(spark, path)
      require(to >= 1 && to <= ids.size, s"snapshot index $to out of range at $path")
      val toFiles = IcebergCompat.resolveSnapshot(spark, path, Some(ids((to - 1).toInt)))
        .filter(_.content == 0).map(_.path)
      if (from <= 0) toFiles.sorted.map(p => resolveIceberg(path, p))
      else IcebergCompat.addedBetween(spark, path,
        ids((from - 1).toInt), ids((to - 1).toInt))
        .map(p => resolveIceberg(path, p))
    }
    def schemaAt(spark: SparkSession, path: String, to: Long): StructType = {
      val ids = IcebergCompat.snapshotIds(spark, path)
      require(to >= 1 && to <= ids.size, s"snapshot index $to out of range at $path")
      val files = IcebergCompat.resolveSnapshot(spark, path, Some(ids((to - 1).toInt)))
        .filter(_.content == 0).map(p => resolveIceberg(path, p.path))
      require(files.nonEmpty, s"foreign table at $path has no live files")
      ParquetScan.readSchema(spark, files, IcebergCompat.declaredSchema(spark, path))
    }
    private def resolveIceberg(dir: String, p: String): String =
      if (p.startsWith("/") || p.contains(":/")) p else s"$dir/$p"
  }

  private[streaming] def lakeOf(format: String): Lake = format.toLowerCase match {
    case "delta" => DeltaLake
    case "hudi" => HudiLake
    case "iceberg" => IcebergLake
    case other => throw new IllegalArgumentException(
      s"unknown foreign-lake format '$other' (delta | hudi | iceberg)")
  }

  private[streaming] def requireFlat(schema: StructType): Unit =
    schema.fields.foreach { f =>
      require(f.dataType match {
        case LongType | IntegerType | DoubleType | FloatType |
             BooleanType | StringType | BinaryType => true
        case _ => false
      }, s"foreign-lake streaming reads flat primitive schemas; " +
        s"field '${f.name}' is ${f.dataType.simpleString}")
    }
}

/** `format("foreign-lake")` provider (also reachable by class name). */
class ForeignLakeStreamProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "foreign-lake"

  private def opt(options: CaseInsensitiveStringMap, key: String): String =
    Option(options.get(key)).getOrElse(
      throw new IllegalArgumentException(s"foreign-lake needs option '$key'"))

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val spark = SparkSession.active
    val format = opt(options, "format")
    val lake = ForeignLakeStream.lakeOf(format)
    val path = opt(options, "path")
    val mode = Option(options.get("mode")).getOrElse("append")
    require(mode == "append" || mode == "cdf",
      s"unknown foreign-lake mode '$mode' (append | cdf)")
    require(mode == "append" || format.equalsIgnoreCase("delta"),
      "mode=cdf is a Delta change-data-feed surface — hudi/iceberg " +
        "windows stream in append mode")
    if (mode == "cdf")
      require(DeltaCompat.partitionColumns(spark, path).isEmpty,
        s"cdf streaming of the PARTITIONED Delta table at $path is out " +
          "of scope (partition columns cannot be restored on the stream " +
          "surface) — consume batch windows via readChangeFeed, which " +
          "restores them")
    val head = lake.latest(spark, path)
    require(head >= 0, s"foreign table at $path has no commits to infer a schema from")
    // driver-side (no Spark job): inferSchema runs at every stream start
    val schema = lake.schemaAt(spark, path, head)
    ForeignLakeStream.requireFlat(schema)
    if (mode == "cdf")
      StructType(schema.fields.toSeq :+
        StructField("_change_type", StringType) :+
        StructField("_commit_version", LongType))
    else schema
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new ForeignLakeTable(schema, properties.asScala.toMap)
}

class ForeignLakeTable(schema: StructType, props: Map[String, String])
    extends Table with SupportsRead {
  override def name(): String =
    s"foreign_lake(${props.getOrElse("format", "?")}:${props.getOrElse("path", "?")})"
  override def schema(): StructType = schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.MICRO_BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = schema
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new ForeignLakeMicroBatchStream(schema,
            props.getOrElse("format", options.get("format")),
            props.getOrElse("path", options.get("path")),
            props.get("startingOffset").orElse(Option(options.get("startingOffset")))
              .map(_.toLong).getOrElse(-1L),
            props.get("mode").orElse(Option(options.get("mode")))
              .getOrElse("append") == "cdf")
      }
    }
}

/** Offset = the foreign table's own position (Delta version / Hudi
  * instant-as-long / Iceberg snapshot index). */
case class ForeignLakeOffset(position: Long) extends Offset {
  override def json(): String = position.toString
}

class ForeignLakeMicroBatchStream(schema: StructType, format: String,
    path: String, startingOffset: Long, cdf: Boolean = false)
    extends MicroBatchStream with SupportsTriggerAvailableNow {
  private val lake = ForeignLakeStream.lakeOf(format)
  private def spark = SparkSession.active
  // AvailableNow pins the head ONCE so the run drains a stable window
  // even while the foreign table keeps committing
  @volatile private var availableNowCap: Option[Long] = None

  override def initialOffset(): Offset = ForeignLakeOffset(startingOffset)
  override def deserializeOffset(json: String): Offset =
    ForeignLakeOffset(json.toLong)
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(lake.latest(spark, path))
  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()
  override def latestOffset(): Offset = throw new UnsupportedOperationException(
    "latestOffset(Offset, ReadLimit) is the admission-control entry point")
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val head = availableNowCap.getOrElse(lake.latest(spark, path))
    // never move backwards past the checkpointed position
    ForeignLakeOffset(math.max(head,
      start.asInstanceOf[ForeignLakeOffset].position))
  }
  override def reportLatestOffset(): Offset =
    ForeignLakeOffset(availableNowCap.getOrElse(lake.latest(spark, path)))

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val (s0, s1) = (start.asInstanceOf[ForeignLakeOffset].position,
      end.asInstanceOf[ForeignLakeOffset].position)
    if (s1 <= s0) Array.empty
    else if (cdf)
      // CDF mode shares the batch reader's exact file-plan semantics:
      // explicit cdc files carry their own _change_type (null constant
      // → read from the file); derived files get it as a constant
      DeltaCompat.changeFilesBetween(spark, path, s0, s1)
        .map(cf => ForeignLakeInputPartition(cf.path,
          cf.changeType.orNull, cf.version): InputPartition).toArray
    else lake.added(spark, path, s0, s1)
      .map(f => ForeignLakeInputPartition(f): InputPartition).toArray
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new ForeignLakeReaderFactory(schema.json)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** `changeType` null = append mode, or an explicit-cdc file carrying
  * its own `_change_type` column; `version` < 0 = append mode (no
  * `_commit_version` output column). */
case class ForeignLakeInputPartition(file: String,
    changeType: String = null, version: Long = -1L) extends InputPartition

class ForeignLakeReaderFactory(schemaJson: String)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[ForeignLakeInputPartition]
    val constants: Map[String, Any] =
      (if (p.version >= 0L) Map[String, Any]("_commit_version" -> p.version)
       else Map.empty[String, Any]) ++
        (if (p.changeType != null)
          Map[String, Any]("_change_type" -> UTF8String.fromString(p.changeType))
        else Map.empty[String, Any])
    new GroupParquetPartitionReader(p.file, schemaJson, constants)
  }
}

/** Executor-side reader: one added parquet file through the
  * parquet-hadoop Group API into InternalRows (flat primitives — the
  * provider refused anything else at stream start). */
class GroupParquetPartitionReader(file: String, schemaJson: String,
    constants: Map[String, Any] = Map.empty)
    extends PartitionReader[InternalRow] {
  private val schema =
    DataType.fromJson(schemaJson).asInstanceOf[StructType]
  private val reader =
    ParquetReader.builder(new GroupReadSupport(), new Path(file))
      .withConf(new Configuration()).build()
  private var current: org.apache.parquet.example.data.Group = _

  override def next(): Boolean = { current = reader.read(); current != null }

  override def get(): InternalRow = {
    val vals = new Array[Any](schema.fields.length)
    var i = 0
    while (i < schema.fields.length) {
      val f = schema.fields(i)
      if (constants.contains(f.name)) { vals(i) = constants(f.name); i += 1 }
      else {
      // a column the table gained after this file was written is NULL
      val idx =
        if (current.getType.containsField(f.name)) current.getType.getFieldIndex(f.name)
        else -1
      vals(i) =
        if (idx < 0 || current.getFieldRepetitionCount(idx) == 0) null
        else f.dataType match {
          case LongType => current.getLong(idx, 0)
          case IntegerType => current.getInteger(idx, 0)
          case DoubleType => current.getDouble(idx, 0)
          case FloatType => current.getFloat(idx, 0)
          case BooleanType => current.getBoolean(idx, 0)
          case StringType => UTF8String.fromString(current.getString(idx, 0))
          case BinaryType => current.getBinary(idx, 0).getBytes
          case other => throw new IllegalStateException(
            s"unreachable: non-flat type $other passed the provider gate")
        }
      i += 1
      }
    }
    new GenericInternalRow(vals)
  }

  override def close(): Unit = reader.close()
}
