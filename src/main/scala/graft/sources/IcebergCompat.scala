package graft.sources

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.avro.Schema
import org.apache.avro.file.{DataFileStream, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Interop front door for the PUBLIC Apache Iceberg table format (the
  * open spec's `metadata/vN.metadata.json` → manifest list → manifest
  * chain) — the third lake-migration leg next to [[DeltaCompat]] and
  * [[HudiCompat]], built on nothing but the Avro core library and
  * Jackson already on Spark's classpath.
  *
  * Resolution follows the spec: `version-hint.text` (or the highest
  * `vN.metadata.json`) names the current metadata file; its
  * `current-snapshot-id` picks the snapshot; the snapshot's
  * `manifest-list` Avro file lists manifests (content 0 = data, 1 =
  * deletes); each manifest's entries carry a `status` (1 ADDED /
  * 0 EXISTING / 2 DELETED), an optional `sequence_number`, and a
  * `data_file` record (`content` 0 = data, 1 = position deletes,
  * 2 = equality deletes). Reads are GENERIC (field-by-NAME over
  * whatever writer schema the file embeds), so files written by real
  * Iceberg libraries resolve the same as this module's own fixture
  * writers.
  *
  * FORMAT-V2 ROW-LEVEL DELETES ARE APPLIED, not refused:
  *  - POSITION deletes (`content = 1` files holding `(file_path, pos)`
  *    rows) mask the data rows by file and row index — exactly the
  *    coordinates the spec's positions refer to — scoped by the spec's
  *    sequence rule `deleteSeq >= dataSeq`;
  *  - EQUALITY deletes (`content = 2` files whose `equality_ids` name
  *    schema field ids) anti-join on the named columns with the strict
  *    rule `deleteSeq > dataSeq`, so a row re-inserted AFTER the
  *    delete survives — the re-insert case that makes sequence-blind
  *    equality deletion silently wrong.
  * This module resolves WHICH files and deletes apply (manifests,
  * sequence numbers, the current schema); the read schema and both
  * anti-joins are [[ParquetScan]]'s, shared with every other layer.
  *
  * FORMAT-V3 DELETION VECTORS are applied too: a content-1 entry with
  * `referenced_data_file` frames a `deletion-vector-v1` blob inside a
  * [[Puffin]] file; its positions anti-join like position deletes
  * (`deleteSeq >= dataSeq`) and SUPERSEDE any position-delete files
  * for the same data file, per the v3 rule. Row-lineage columns are
  * metadata-assigned and not materialized.
  *
  * Scope (checked loudly): format-version > 3 refuses; data files must
  * be parquet (delete vectors puffin). Manifest METADATA is read
  * driver-side — the metadata plane is MBs where the data plane is
  * TBs; a table whose manifests themselves are huge wants the real
  * library's distributed planning. */
object IcebergCompat {

  private val mapper = new ObjectMapper()

  private def fsFor(spark: SparkSession, p: String) =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Resolve a spec path: Iceberg writes ABSOLUTE URIs (`file:/…`,
    * `s3://…`); fixture/relative paths resolve against the table root. */
  private def resolve(dir: String, p: String): Path = {
    val uri = java.net.URI.create(p.replace(" ", "%20"))
    if (uri.isAbsolute || p.startsWith("/")) new Path(uri.getPath)
    else new Path(s"$dir/$p")
  }

  /** The current metadata JSON file: `version-hint.text` when present,
    * else the highest `vN.metadata.json`. */
  def currentMetadataFile(spark: SparkSession, dir: String): Path = {
    val fs = fsFor(spark, dir)
    val meta = new Path(s"$dir/metadata")
    require(fs.exists(meta), s"$dir has no metadata/ — not an Iceberg table")
    val hint = new Path(meta, "version-hint.text")
    if (fs.exists(hint)) {
      val in = fs.open(hint)
      val v = try new String(in.readAllBytes(), "UTF-8").trim finally in.close()
      new Path(meta, s"v$v.metadata.json")
    } else {
      val vs = fs.listStatus(meta).map(_.getPath.getName).collect {
        case n if n.matches("v\\d+\\.metadata\\.json") =>
          n.stripPrefix("v").stripSuffix(".metadata.json").toLong
      }
      require(vs.nonEmpty, s"no vN.metadata.json under $meta")
      new Path(meta, s"v${vs.max}.metadata.json")
    }
  }

  private def metadataRoot(spark: SparkSession,
      dir: String): com.fasterxml.jackson.databind.JsonNode = {
    val mf = currentMetadataFile(spark, dir)
    val fs = fsFor(spark, dir)
    require(fs.exists(mf), s"metadata file missing: $mf")
    val in = fs.open(mf)
    try mapper.readTree(in.readAllBytes()) finally in.close()
  }

  /** The current schema's JSON node (`current-schema-id` among
    * `schemas`, else the first, else the v1 `schema` field). */
  private def currentSchemaNode(root: com.fasterxml.jackson.databind.JsonNode)
      : com.fasterxml.jackson.databind.JsonNode =
    if (root.has("schemas")) {
      val cur = root.path("current-schema-id").asLong(0L)
      root.path("schemas").elements().asScala
        .find(_.path("schema-id").asLong(-1L) == cur)
        .getOrElse(root.path("schemas").elements().asScala.toSeq.headOption
          .getOrElse(root.path("schema")))
    } else root.path("schema")

  /** Iceberg primitive type names and their Spark types (the open spec's
    * vocabulary this reader and the writers here share). */
  private val Primitives: Seq[(String, org.apache.spark.sql.types.DataType)] = {
    import org.apache.spark.sql.types._
    Seq("long" -> LongType, "int" -> IntegerType, "string" -> StringType,
      "double" -> DoubleType, "float" -> FloatType, "boolean" -> BooleanType,
      "binary" -> BinaryType, "date" -> DateType, "timestamptz" -> TimestampType)
  }
  private val DecimalName = """decimal\((\d+),\s*(\d+)\)""".r

  /** The table's current schema as the Spark read schema — the shared
    * scan's declared schema. None when the metadata lists no fields or a
    * field's type is outside [[Primitives]] / decimals (nested types):
    * the shared footer rule applies then. */
  private[graft] def declaredSchema(spark: SparkSession,
      dir: String): Option[org.apache.spark.sql.types.StructType] = {
    val fields = currentSchemaNode(metadataRoot(spark, dir)).path("fields")
      .elements().asScala.toSeq
    val typed = fields.map { f =>
      val t = f.path("type")
      val dt =
        if (!t.isTextual) None
        else t.asText() match {
          case DecimalName(p, sc) =>
            Some(org.apache.spark.sql.types.DecimalType(p.toInt, sc.toInt))
          case name => Primitives.find(_._1 == name).map(_._2)
        }
      dt.map(org.apache.spark.sql.types.StructField(f.path("name").asText(), _))
    }
    if (typed.isEmpty || typed.exists(_.isEmpty)) None
    else Some(org.apache.spark.sql.types.StructType(typed.flatten))
  }

  private def readAvro(spark: SparkSession, path: Path): Seq[GenericRecord] = {
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(path), s"manifest file missing: $path")
    val in = fs.open(path)
    try {
      val rdr = new DataFileStream[GenericRecord](in,
        new GenericDatumReader[GenericRecord]())
      try rdr.iterator().asScala.toVector finally rdr.close()
    } finally in.close()
  }

  /** Diagnostic/spec hook: each data_file entry's `record_count` in a
    * manifest — the field foreign engines trust for count(*) and scan
    * planning, so exports must write it truthfully. */
  def manifestRecordCounts(spark: SparkSession, manifestPath: String): Seq[Long] =
    readAvro(spark, new Path(manifestPath)).flatMap { r =>
      field(r, "data_file").collect { case df: GenericRecord =>
        longField(df, "record_count").getOrElse(0L)
      }
    }

  private def field(r: GenericRecord, name: String): Option[AnyRef] =
    if (r.getSchema.getField(name) != null) Option(r.get(name)) else None

  private def longField(r: GenericRecord, name: String): Option[Long] =
    field(r, name).map {
      case n: java.lang.Number => n.longValue()
      case other => throw new IllegalArgumentException(
        s"field $name is not numeric: $other")
    }

  /** One resolved content file of the current snapshot. `content`:
    * 0 data, 1 position deletes, 2 equality deletes. `seq` is the
    * entry's data sequence number (entry field, else the manifest-list
    * entry's, else 0 — the v1 default). `equalityNames` are the
    * schema-resolved column names for content = 2. A format-v3
    * DELETION VECTOR is a content-1 entry whose `referencedDataFile`
    * names its one data file and whose `contentOffset`/`contentSize`
    * frame the `deletion-vector-v1` blob inside the puffin `path`. */
  final case class ContentFile(path: String, content: Int, seq: Long,
      equalityNames: Seq[String],
      referencedDataFile: Option[String] = None,
      contentOffset: Option[Long] = None,
      contentSize: Option[Long] = None)

  /** The table's snapshot ids in metadata order (oldest first) — the
    * offset ladder for incremental/streaming consumption. */
  def snapshotIds(spark: SparkSession, dir: String): Seq[Long] = {
    val snaps = metadataRoot(spark, dir).path("snapshots")
    require(snaps.isArray, s"no snapshots array in ${currentMetadataFile(spark, dir)}")
    (0 until snaps.size).map(i => snaps.get(i).path("snapshot-id").asLong(-1L))
  }

  /** All live content files of the current snapshot (status != DELETED
    * across its manifests), with sequence numbers and resolved
    * equality columns. */
  def resolveSnapshot(spark: SparkSession, dir: String,
      snapshotId: Option[Long] = None): Seq[ContentFile] = {
    val mf = currentMetadataFile(spark, dir)
    val root = metadataRoot(spark, dir)
    val fv = root.path("format-version").asInt(1)
    require(fv <= 3, s"Iceberg format-version $fv is newer than this " +
      "compat reader's spec knowledge (v3) — refuse rather than mis-read")
    // v3's row-lineage columns (_row_id, _last_updated_sequence_number)
    // are metadata-assigned and not required for correct data reads;
    // its deletion vectors ARE applied (puffin blobs, below)
    // field-id -> name map from the current schema (for equality_ids)
    val idToName: Map[Long, String] = {
      val schemaNode = currentSchemaNode(root)
      if (schemaNode.has("fields"))
        schemaNode.path("fields").elements().asScala
          .map(f => f.path("id").asLong(-1L) -> f.path("name").asText(""))
          .filter(t => t._1 >= 0 && t._2.nonEmpty).toMap
      else Map.empty
    }
    // TIME TRAVEL: any snapshot listed in the metadata file is
    // addressable by id; default = the current one
    val snapId = snapshotId.getOrElse(root.path("current-snapshot-id").asLong(-1L))
    require(snapId > 0, s"no current-snapshot-id in $mf (empty table?)")
    val snaps = root.path("snapshots")
    require(snaps.isArray, s"no snapshots array in $mf")
    val snap = snaps.elements().asScala
      .find(_.path("snapshot-id").asLong(-2L) == snapId)
      .getOrElse(throw new IllegalArgumentException(
        s"current-snapshot-id $snapId not found among snapshots in $mf"))
    val mlPath = snap.path("manifest-list").asText("")
    require(mlPath.nonEmpty,
      s"snapshot $snapId has no manifest-list (v1 inline manifests are " +
        "out of scope — rewrite the table with a manifest list)")
    val out = scala.collection.mutable.ArrayBuffer.empty[ContentFile]
    readAvro(spark, resolve(dir, mlPath)).foreach { me =>
      val mPath = field(me, "manifest_path").map(_.toString).getOrElse(
        throw new IllegalArgumentException("manifest-list entry has no manifest_path"))
      val mlSeq = longField(me, "sequence_number").getOrElse(0L)
      readAvro(spark, resolve(dir, mPath)).foreach { e =>
        val status = longField(e, "status").getOrElse(0L)
        if (status != 2L) { // 2 = DELETED entry
          val df = field(e, "data_file").collect { case r: GenericRecord => r }
            .getOrElse(throw new IllegalArgumentException(
              s"manifest entry without data_file in $mPath"))
          val fmt = field(df, "file_format").map(_.toString.toUpperCase)
            .getOrElse("PARQUET")
          val content = longField(df, "content").getOrElse(0L).toInt
          require(content >= 0 && content <= 2,
            s"unknown content id $content in $mPath")
          val refFile = field(df, "referenced_data_file").map(_.toString)
          require(fmt == "PARQUET" ||
              (fmt == "PUFFIN" && content == 1 && refFile.nonEmpty),
            s"file format $fmt unsupported (parquet data/deletes, or a " +
              "puffin deletion vector referencing its data file)")
          val seq = longField(e, "sequence_number").getOrElse(mlSeq)
          val eqNames =
            if (content != 2) Nil
            else field(df, "equality_ids") match {
              case Some(l: java.util.List[_]) => l.asScala.toSeq.map {
                case n: java.lang.Number =>
                  idToName.getOrElse(n.longValue(),
                    throw new IllegalArgumentException(
                      s"equality field id $n not found in the table schema"))
                case other => throw new IllegalArgumentException(
                  s"non-numeric equality id $other")
              }
              case _ => throw new IllegalArgumentException(
                s"equality-delete file without equality_ids in $mPath")
            }
          out += ContentFile(
            resolve(dir, field(df, "file_path").map(_.toString).getOrElse(
              throw new IllegalArgumentException("data_file without file_path")))
              .toUri.getPath,
            content, seq, eqNames,
            referencedDataFile = refFile,
            contentOffset = longField(df, "content_offset"),
            contentSize = longField(df, "content_size_in_bytes"))
        }
      }
    }
    out.toSeq
  }

  /** Live DATA-file paths of the current snapshot (delete files are
    * resolved by [[readIcebergTable]], not listed here). */
  def liveFiles(spark: SparkSession, dir: String): Seq[String] = {
    val files = resolveSnapshot(spark, dir).filter(_.content == 0).map(_.path)
    require(files.nonEmpty, s"Iceberg table at $dir has no live data files")
    files.sorted
  }

  /** Read the table's current snapshot — or (`snapshotId`) any
    * snapshot still listed in the metadata file: TIME TRAVEL — with v2
    * row-level deletes APPLIED through the shared scan, read with the
    * table's current schema (footer rule when it declares none). */
  def readIcebergTable(spark: SparkSession, dir: String,
      snapshotId: Option[Long] = None): DataFrame = {
    val files = resolveSnapshot(spark, dir, snapshotId)
    val data = files.filter(_.content == 0)
    require(data.nonEmpty, s"Iceberg table at $dir has no live data files")
    // v3 deletion vectors are content-1 entries with a referenced data
    // file; plain parquet position-delete files have none
    val dvDel = files.filter(f => f.content == 1 && f.referencedDataFile.nonEmpty)
    val posDel = files.filter(f => f.content == 1 && f.referencedDataFile.isEmpty)
    val eqDel = files.filter(_.content == 2)
    // DV target paths — a DV supersedes any position-delete FILES for
    // its data file (the v3 rule: the vector must already contain all of
    // their positions, so applying both would be redundant at best and
    // the spec says ignore them)
    val dvTargets: Seq[String] = dvDel.map(f =>
      resolve(dir, f.referencedDataFile.get).toUri.getPath)
    require(dvTargets.distinct.size == dvTargets.size,
      s"multiple deletion vectors reference one data file at $dir — " +
        "at most one DV per file (v3 rule)")
    // blob parse is driver-side metadata (one DV is bounded by the rows
    // of ONE file); the data plane sees only the shared anti-join
    val fs = fsFor(spark, dir)
    val dvRows: Seq[(String, Long, Long)] = dvDel.zip(dvTargets).flatMap {
      case (f, target) =>
        val off = f.contentOffset.getOrElse(throw new IllegalArgumentException(
          s"deletion vector ${f.path} has no content_offset"))
        val len = f.contentSize.getOrElse(throw new IllegalArgumentException(
          s"deletion vector ${f.path} has no content_size_in_bytes"))
        Puffin.readDvBlob(fs, new Path(f.path), off, len).map(p => (target, p, f.seq))
    }
    // position-delete targets are raw locations, as are the DV targets
    val posFiles = posDel.groupBy(_.seq).toSeq.sortBy(_._1).map { case (seq, g) =>
      ParquetScan.readFiles(spark, g.map(_.path))
        .select(col("file_path").as("file"), col("pos"), lit(seq).as("seq"))
        .filter(!ParquetScan.location(col("file")).isin(dvTargets: _*))
    }
    // position deletes apply at deleteSeq >= dataSeq; equality deletes at
    // the STRICT deleteSeq > dataSeq (a row re-inserted after survives)
    ParquetScan.readFiles(spark, data.map(_.path), declaredSchema(spark, dir),
      dvRows, posFiles.reduceOption(_ unionByName _),
      eqDel.groupBy(_.equalityNames).toSeq.map { case (names, group) =>
        ParquetScan.EqualityDeletes(names, group.map(f => (f.path, f.seq)))
      },
      fileSeqs = data.map(f => (f.path, f.seq)))
  }

  /** INCREMENTAL PULL between two snapshots: the data files present in
    * `toSnapshotId`'s state but not in `fromSnapshotId`'s — the
    * Iceberg leg of a continuous foreign-lake sync, completing parity
    * with [[DeltaCompat.addedBetween]] / [[HudiCompat
    * .incrementalFiles]]. Append-only windows only, checked loudly:
    * a data file LEAVING the state (overwrite/delete) or any change to
    * the delete-file set means replaying just the added files would
    * diverge from the table — callers fall back to a full re-read or a
    * keyed upsert. */
  def addedBetween(spark: SparkSession, dir: String,
      fromSnapshotId: Long, toSnapshotId: Long): Seq[String] = {
    val from = resolveSnapshot(spark, dir, Some(fromSnapshotId))
    val to = resolveSnapshot(spark, dir, Some(toSnapshotId))
    val fromData = from.filter(_.content == 0).map(_.path).toSet
    val toData = to.filter(_.content == 0).map(_.path).toSet
    require(fromData.subsetOf(toData),
      s"window ($fromSnapshotId -> $toSnapshotId] at $dir removes data " +
        s"files ${(fromData -- toData).mkString(", ")} — not an " +
        "append-only window; re-read or upsert")
    val fromDel = from.filter(_.content != 0).map(f => (f.path, f.seq)).toSet
    val toDel = to.filter(_.content != 0).map(f => (f.path, f.seq)).toSet
    require(fromDel == toDel,
      s"window ($fromSnapshotId -> $toSnapshotId] at $dir changes the " +
        "delete-file set — row-level deletes touch pre-window rows; " +
        "re-read or upsert")
    (toData -- fromData).toSeq.sorted
  }

  /** Read the rows appended between two snapshots (append-only). */
  def readAddedBetween(spark: SparkSession, dir: String,
      fromSnapshotId: Long, toSnapshotId: Long): DataFrame = {
    val files = addedBetween(spark, dir, fromSnapshotId, toSnapshotId)
    require(files.nonEmpty,
      s"no files added in ($fromSnapshotId -> $toSnapshotId] at $dir")
    ParquetScan.readFiles(spark, files, declaredSchema(spark, dir))
  }

  /** Spark type → Iceberg primitive type name (the open spec's
    * vocabulary); out-of-vocabulary types refuse loudly. */
  private def icebergTypeOf(dt: org.apache.spark.sql.types.DataType): String =
    dt match {
      case d: org.apache.spark.sql.types.DecimalType =>
        s"decimal(${d.precision}, ${d.scale})"
      case other => Primitives.find(_._2 == other).map(_._1).getOrElse(
        throw new IllegalArgumentException(
          s"no Iceberg mapping for Spark type ${other.simpleString}"))
    }

  /** Write `df` as parquet data files under `dir`/data, returning each
    * file's (table-relative path, true row count from its footer) —
    * record_count is a REQUIRED trusted manifest field. */
  private def writeDataFiles(df: DataFrame, dir: String,
      tag: String): Seq[(String, Long)] = {
    val spark = df.sparkSession
    val fs = fsFor(spark, dir)
    val tmp = s"$dir/.tmp-$tag"
    df.write.mode("overwrite").parquet(tmp)
    val parts = fs.listStatus(new Path(tmp)).map(_.getPath)
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    require(parts.nonEmpty, "write produced no parquet files")
    val out = parts.zipWithIndex.map { case (p, i) =>
      val rel = f"data/$tag-$i%05d.parquet"
      fs.mkdirs(new Path(s"$dir/data"))
      require(fs.rename(p, new Path(s"$dir/$rel")), s"rename failed: $p")
      (rel, ParquetScan.rowCount(spark, s"$dir/$rel"))
    }
    fs.delete(new Path(tmp), true)
    out.toSeq
  }

  /** CREATE an Iceberg table at `dir` from `df` — the writer-side
    * bootstrap completing write parity with
    * [[DeltaCompat.createDeltaTable]]: data files, one manifest + one
    * manifest list, and a v1 metadata file whose schema carries the
    * REAL field types (so equality deletes and foreign engines resolve
    * them). Returns the first snapshot id. */
  def createIcebergTable(df: DataFrame, dir: String): Long = {
    val spark = df.sparkSession
    val fs = fsFor(spark, dir)
    require(!fs.exists(new Path(s"$dir/metadata")),
      s"$dir already has metadata/ — createIcebergTable bootstraps new " +
        "tables only")
    val files = writeDataFiles(df, dir, "create-1")
    val m = writeManifestEntries(spark, dir, "m-app-1.avro",
      files.map { case (p, n) => Entry(1, p, n, content = 0, seq = 1L) })
    val ml = writeManifestList(spark, dir, "ml-app-1.avro", Seq(m))
    val fields = df.schema.fields.zipWithIndex.map { case (f, i) =>
      s"""{"id":${i + 1},"name":${mapper.writeValueAsString(f.name)},""" +
        s""""required":false,"type":"${icebergTypeOf(f.dataType)}"}"""
    }.mkString("[", ",", "]")
    val json =
      s"""{"format-version":2,"table-uuid":"graft-${java.util.UUID.randomUUID()}",
         |"current-snapshot-id":1,
         |"current-schema-id":0,
         |"schemas":[{"schema-id":0,"type":"struct","fields":$fields}],
         |"snapshots":[{"snapshot-id":1,"sequence-number":1,"manifest-list":"$ml"}]}"""
        .stripMargin.replace("\n", "")
    val out = fs.create(new Path(s"$dir/metadata/v1.metadata.json"), false)
    try out.write(json.getBytes("UTF-8")) finally out.close()
    val hint = fs.create(new Path(s"$dir/metadata/version-hint.text"), true)
    try hint.write("1".getBytes("UTF-8")) finally hint.close()
    1L
  }

  /** APPEND `df` as a NEW SNAPSHOT — the transactional Iceberg write:
    * new data files + a manifest for them, a new manifest LIST
    * carrying the previous snapshot's manifests (their entries keep
    * their own sequence numbers) plus the new one, and the metadata
    * file rewritten at the next version with the snapshot appended and
    * `current-snapshot-id` moved. Schema checked by NAME against the
    * current schema. Returns the new snapshot id. */
  def appendSnapshot(df: DataFrame, dir: String): Long = {
    val spark = df.sparkSession
    val fs = fsFor(spark, dir)
    val mf = currentMetadataFile(spark, dir)
    val root = metadataRoot(spark, dir)
    val snaps = root.path("snapshots")
    require(snaps.isArray && snaps.size > 0, s"no snapshots at $dir")
    val schemaNames = currentSchemaNode(root).path("fields").elements().asScala
      .map(_.path("name").asText("")).toSeq
    if (schemaNames.nonEmpty)
      require(df.columns.sorted.toSeq == schemaNames.sorted,
        s"append schema (${df.columns.sorted.mkString(", ")}) != table " +
          s"schema (${schemaNames.sorted.mkString(", ")})")
    val currentId = root.path("current-snapshot-id").asLong(-1L)
    val cur = snaps.elements().asScala
      .find(_.path("snapshot-id").asLong(-2L) == currentId)
      .getOrElse(throw new IllegalArgumentException(
        s"current-snapshot-id $currentId not among snapshots at $dir"))
    val newId = snaps.elements().asScala
      .map(_.path("snapshot-id").asLong(0L)).max + 1
    val seq = snaps.size + 1L
    val files = writeDataFiles(df, dir, s"append-$newId")
    val m = writeManifestEntries(spark, dir, s"m-app-$newId.avro",
      files.map { case (p, n) => Entry(1, p, n, content = 0, seq = seq) })
    // previous manifests carry over with their content codes
    val prevMl = cur.path("manifest-list").asText("")
    val prev = readAvro(spark, resolve(dir, prevMl)).map { me =>
      (field(me, "manifest_path").map(_.toString).getOrElse(
        throw new IllegalArgumentException("manifest-list entry has no path")),
        longField(me, "content").getOrElse(0L).toInt)
    }
    val ml = writeManifestList(spark, dir, s"ml-app-$newId.avro",
      prev.map(_._1) :+ m, prev.map(_._2) :+ 0)
    val obj = root.asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    val snapNode = mapper.readTree(
      s"""{"snapshot-id":$newId,"sequence-number":$seq,"manifest-list":"$ml"}""")
    snaps.asInstanceOf[com.fasterxml.jackson.databind.node.ArrayNode]
      .add(snapNode)
    obj.put("current-snapshot-id", newId)
    val version = mf.getName.stripPrefix("v").stripSuffix(".metadata.json").toInt + 1
    val out = fs.create(new Path(s"$dir/metadata/v$version.metadata.json"), false)
    try out.write(mapper.writeValueAsBytes(obj)) finally out.close()
    val hint = fs.create(new Path(s"$dir/metadata/version-hint.text"), true)
    try hint.write(version.toString.getBytes("UTF-8")) finally hint.close()
    newId
  }

  /** EXPIRE SNAPSHOTS — the Iceberg maintenance op that bounds
    * time-travel history and reclaims disk: the metadata file is
    * rewritten keeping only `keep` snapshot ids (the CURRENT snapshot
    * must be kept), and every manifest list, manifest, and content
    * file referenced ONLY by expired snapshots is physically deleted.
    * Deletion is positive-list — the union of expired footprints minus
    * the union of kept footprints — so files outside the Iceberg
    * metadata's knowledge (e.g. a co-resident native snapshot chain in
    * a dual-format export root) are never touched. Expired ids stop
    * resolving (time travel to them refuses by id). Returns the
    * deleted absolute paths, sorted. */
  def expireSnapshots(spark: SparkSession, dir: String,
      keep: Seq[Long]): Seq[String] = {
    val fs = fsFor(spark, dir)
    val mf = currentMetadataFile(spark, dir)
    val root = metadataRoot(spark, dir)
    val current = root.path("current-snapshot-id").asLong(-1L)
    require(keep.contains(current),
      s"the current snapshot $current must be kept")
    val snaps = root.path("snapshots")
    require(snaps.isArray, s"no snapshots array in $mf")
    val all = (0 until snaps.size).map(i =>
      snaps.get(i).path("snapshot-id").asLong(-1L))
    val unknown = keep.filterNot(all.contains)
    require(unknown.isEmpty,
      s"kept snapshot ids ${unknown.mkString(", ")} do not exist at $dir")
    val expired = all.filterNot(keep.contains)
    if (expired.isEmpty) return Nil
    // a snapshot's footprint: its manifest list, manifests, and every
    // content file (data, delete, puffin) — all absolute paths
    def footprint(id: Long): Set[String] = {
      val snap = snaps.elements().asScala
        .find(_.path("snapshot-id").asLong(-2L) == id).get
      val ml = snap.path("manifest-list").asText("")
      require(ml.nonEmpty, s"snapshot $id has no manifest-list")
      val mlPath = resolve(dir, ml).toUri.getPath
      val manifests = readAvro(spark, new Path(mlPath)).map { me =>
        resolve(dir, field(me, "manifest_path").map(_.toString).getOrElse(
          throw new IllegalArgumentException(
            "manifest-list entry has no manifest_path"))).toUri.getPath
      }
      // content files including ones their manifests mark DELETED —
      // the footprint is what the snapshot's metadata POINTS AT; an
      // earlier-kept snapshot protecting a file keeps it via its own
      // footprint
      val contents = resolveSnapshot(spark, dir, Some(id)).map(_.path)
      Set(mlPath) ++ manifests ++ contents
    }
    val keptFp = keep.map(footprint).foldLeft(Set.empty[String])(_ ++ _)
    val victims = expired.map(footprint).foldLeft(Set.empty[String])(_ ++ _)
      .diff(keptFp).toSeq.sorted
    // rewrite the metadata FIRST (readers stop resolving expired ids
    // before their files vanish), then reclaim
    val keptJson = snaps.elements().asScala
      .filter(s => keep.contains(s.path("snapshot-id").asLong(-2L)))
      .map(_.toString).mkString("[", ",", "]")
    val obj = root.asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    obj.set("snapshots", mapper.readTree(keptJson))
    val version = mf.getName.stripPrefix("v").stripSuffix(".metadata.json").toInt + 1
    val out = fs.create(new Path(s"$dir/metadata/v$version.metadata.json"), false)
    try out.write(mapper.writeValueAsBytes(obj)) finally out.close()
    val hint = fs.create(new Path(s"$dir/metadata/version-hint.text"), true)
    try hint.write(version.toString.getBytes("UTF-8")) finally hint.close()
    victims.foreach(p => fs.delete(new Path(p), false))
    victims
  }

  // ---- fixture/export writers (minimal spec-shaped Avro + JSON) ----

  /** One fixture manifest row: `status` 1 ADDED / 0 EXISTING /
    * 2 DELETED; `content` 0 data / 1 position deletes / 2 equality
    * deletes; `seq` the entry's data sequence number; `equalityIds`
    * schema field ids for content = 2. A v3 DELETION VECTOR entry sets
    * `format = "PUFFIN"`, `content = 1`, and the three referenced-blob
    * fields. */
  final case class Entry(status: Int, path: String, records: Long,
      content: Int = 0, seq: Long = 0L, equalityIds: Seq[Int] = Nil,
      format: String = "PARQUET",
      referencedDataFile: Option[String] = None,
      contentOffset: Option[Long] = None,
      contentSize: Option[Long] = None)

  private val manifestEntrySchema: Schema = new Schema.Parser().parse(
    """{"type":"record","name":"manifest_entry","fields":[
      |  {"name":"status","type":"int"},
      |  {"name":"sequence_number","type":["null","long"],"default":null},
      |  {"name":"data_file","type":{"type":"record","name":"r2","fields":[
      |    {"name":"content","type":"int"},
      |    {"name":"file_path","type":"string"},
      |    {"name":"file_format","type":"string"},
      |    {"name":"record_count","type":"long"},
      |    {"name":"equality_ids","type":["null",{"type":"array","items":"int"}],"default":null},
      |    {"name":"referenced_data_file","type":["null","string"],"default":null},
      |    {"name":"content_offset","type":["null","long"],"default":null},
      |    {"name":"content_size_in_bytes","type":["null","long"],"default":null}
      |  ]}}
      |]}""".stripMargin.replace("\n", ""))

  private val manifestFileSchema: Schema = new Schema.Parser().parse(
    """{"type":"record","name":"manifest_file","fields":[
      |  {"name":"manifest_path","type":"string"},
      |  {"name":"manifest_length","type":"long"},
      |  {"name":"content","type":"int"},
      |  {"name":"sequence_number","type":["null","long"],"default":null}
      |]}""".stripMargin.replace("\n", ""))

  private def writeAvro(spark: SparkSession, path: Path, schema: Schema,
      rows: Seq[GenericRecord]): Unit = {
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(path.getParent)
    val out = fs.create(path, true)
    val w = new DataFileWriter[GenericRecord](
      new GenericDatumWriter[GenericRecord](schema))
    try { w.create(schema, out); rows.foreach(w.append) }
    finally w.close() // closes the stream
  }

  /** Fixture: write a manifest for `entries`. Paths relative to the
    * table root (or absolute). */
  def writeManifestEntries(spark: SparkSession, dir: String, name: String,
      entries: Seq[Entry]): String = {
    val rows = entries.map { en =>
      val df = new GenericData.Record(
        manifestEntrySchema.getField("data_file").schema())
      df.put("content", en.content)
      df.put("file_path", en.path)
      df.put("file_format", en.format)
      df.put("record_count", en.records)
      df.put("equality_ids",
        if (en.equalityIds.isEmpty) null
        else en.equalityIds.map(Integer.valueOf).asJava)
      df.put("referenced_data_file", en.referencedDataFile.orNull)
      df.put("content_offset",
        en.contentOffset.map(java.lang.Long.valueOf).orNull)
      df.put("content_size_in_bytes",
        en.contentSize.map(java.lang.Long.valueOf).orNull)
      val e = new GenericData.Record(manifestEntrySchema)
      e.put("status", en.status)
      e.put("sequence_number", java.lang.Long.valueOf(en.seq))
      e.put("data_file", df)
      e
    }
    writeAvro(spark, new Path(s"$dir/metadata/$name"), manifestEntrySchema, rows)
    s"metadata/$name"
  }

  /** Fixture: write a DATA manifest for `files` (status, relPath, n). */
  def writeManifest(spark: SparkSession, dir: String, name: String,
      files: Seq[(Int, String, Long)]): String =
    writeManifestEntries(spark, dir, name,
      files.map { case (st, p, n) => Entry(st, p, n) })

  /** Fixture: write a manifest LIST naming `manifests` — (path,
    * content 0 data / 1 deletes). */
  def writeManifestList(spark: SparkSession, dir: String, name: String,
      manifests: Seq[String], contents: Seq[Int] = Nil): String = {
    val cs = if (contents.isEmpty) manifests.map(_ => 0) else contents
    require(cs.length == manifests.length, "contents must match manifests")
    val rows = manifests.zip(cs).map { case (m, c) =>
      val r = new GenericData.Record(manifestFileSchema)
      r.put("manifest_path", m)
      r.put("manifest_length", 0L)
      r.put("content", c)
      r.put("sequence_number", null)
      r
    }
    writeAvro(spark, new Path(s"$dir/metadata/$name"), manifestFileSchema, rows)
    s"metadata/$name"
  }

  /** DUAL-FORMAT EXPORT (the UniForm idea, Iceberg leg — sibling of
    * [[DeltaCompat.exportDeltaLog]]): write Iceberg `metadata/` INTO a
    * [[SnapshotTable]] root so the SAME parquet files read as an
    * Iceberg table — zero data copied, one manifest + manifest-list
    * per snapshot, all snapshots listed in the metadata file with
    * current = the latest.
    * Merge-on-read delete dirs refuse loudly (Iceberg expresses
    * row-level deletes as delete FILES with sequence numbers, not
    * equality-delete dirs — compact first). Returns the number of
    * snapshots exported. */
  def exportIcebergMetadata(spark: SparkSession, snapshotRoot: String): Int = {
    val fs = fsFor(spark, snapshotRoot)
    val ids = SnapshotTable.snapshots(spark, snapshotRoot)
    require(ids.nonEmpty, s"no committed snapshot at $snapshotRoot")
    val root = fs.makeQualified(new Path(snapshotRoot)).toUri.getPath
    // record_count is a REQUIRED, trusted manifest field: real Iceberg
    // engines answer count(*) and plan scans from it without touching
    // data, so it must be the file's true row count — the parquet footer
    // has it for the price of a metadata read, no data pages touched
    def filesOf(dir: String): Seq[(String, Long)] =
      ParquetScan.parquetFiles(fs, new Path(snapshotRoot, dir)).map { st =>
        (st.getPath.toUri.getPath.stripPrefix(root + "/"),
          ParquetScan.rowCount(spark, st.getPath.toString))
      }
    fs.delete(new Path(s"$snapshotRoot/metadata"), true) // re-export replaces
    val snapshots = ids.zipWithIndex.map { case (id, idx) =>
      val dirs = SnapshotTable.dirsAt(spark, snapshotRoot, id)
      require(dirs.forall(d => !d.substring(d.lastIndexOf('/') + 1)
          .startsWith("del-")),
        s"snapshot $id carries merge-on-read deletes — compact before " +
          "exporting Iceberg metadata")
      val entries = dirs.flatMap(filesOf).map { case (p, n) =>
        Entry(1, p, n, content = 0, seq = idx + 1L)
      }
      val m = writeManifestEntries(spark, snapshotRoot, f"m-$idx%05d.avro", entries)
      val ml = writeManifestList(spark, snapshotRoot, f"ml-$idx%05d.avro", Seq(m))
      (100L + idx, ml)
    }
    writeMetadata(spark, snapshotRoot, ids.size, snapshots)
    ids.size
  }

  /** Fixture: write `vN.metadata.json` + `version-hint.text` with a
    * snapshot per (id, manifestList), current = the last. With
    * `schemaFields` (id, name — feeding equality_ids resolution) the
    * current schema lists EVERY column, as a real writer's does: typed
    * from the footers of the current snapshot's data files, the named
    * columns under their given ids, the rest numbered after them. */
  def writeMetadata(spark: SparkSession, dir: String, version: Int,
      snapshots: Seq[(Long, String)],
      schemaFields: Seq[(Int, String)] = Nil,
      formatVersion: Int = 2): Unit = {
    val fs = fsFor(spark, dir)
    fs.mkdirs(new Path(s"$dir/metadata"))
    val snapsJson = snapshots.map { case (id, ml) =>
      s"""{"snapshot-id":$id,"manifest-list":"$ml"}"""
    }.mkString("[", ",", "]")
    val dataFiles =
      if (schemaFields.isEmpty) Nil
      else readAvro(spark, resolve(dir, snapshots.last._2)).flatMap { me =>
        readAvro(spark, resolve(dir, field(me, "manifest_path").get.toString))
      }.flatMap { e =>
        field(e, "data_file").collect {
          case df: GenericRecord if longField(e, "status").getOrElse(0L) != 2L &&
              longField(df, "content").getOrElse(0L) == 0L =>
            resolve(dir, field(df, "file_path").get.toString).toString
        }
      }
    val named = schemaFields.map(_.swap).toMap
    val typed = if (dataFiles.isEmpty) Nil
      else ParquetScan.readSchema(spark, dataFiles).fields.toSeq
    val fresh = Iterator.from((0 +: schemaFields.map(_._1)).max + 1)
    val fieldsJson = (typed.map(f =>
        (named.getOrElse(f.name, fresh.next()), f.name, icebergTypeOf(f.dataType))) ++
      schemaFields.filterNot(f => typed.exists(_.name == f._2))
        .map { case (id, n) => (id, n, "long") })
      .map { case (id, n, t) =>
        s"""{"id":$id,"name":"$n","required":false,"type":"$t"}"""
      }.mkString("[", ",", "]")
    val json =
      s"""{"format-version":$formatVersion,"table-uuid":"graft-fixture",
         |"current-snapshot-id":${snapshots.last._1},
         |"current-schema-id":0,
         |"schemas":[{"schema-id":0,"type":"struct","fields":$fieldsJson}],
         |"snapshots":$snapsJson}""".stripMargin.replace("\n", "")
    val out = fs.create(new Path(s"$dir/metadata/v$version.metadata.json"), true)
    try out.write(json.getBytes("UTF-8")) finally out.close()
    val hint = fs.create(new Path(s"$dir/metadata/version-hint.text"), true)
    try hint.write(version.toString.getBytes("UTF-8")) finally hint.close()
  }
}
