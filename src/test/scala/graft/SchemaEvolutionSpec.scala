package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.{DeltaCompat, IcebergCompat, SnapshotTable}

/** Lake readers keep a column that a LATER commit added: every layer's
  * read schema is the one its table declares (Delta `schemaString`,
  * Iceberg's current schema) or the shared footer rule over all of its
  * files — never the footer of whichever file happens to sort first, so
  * pre-evolution rows surface NULL there and post-evolution rows their
  * values. */
class SchemaEvolutionSpec extends SparkSpec {
  import spark.implicits._

  private def mkDir(prefix: String): (String, org.apache.hadoop.fs.FileSystem) = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toString
    (dir, new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration))
  }

  /** One parquet file at `dir/name`; returns its row count. */
  private def writeFile(fs: org.apache.hadoop.fs.FileSystem, dir: String,
      name: String, df: DataFrame): Long = {
    val tmp = s"$dir/.tmp-${name.replace('/', '_')}"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = fs.listStatus(new org.apache.hadoop.fs.Path(tmp))
      .map(_.getPath).find(_.getName.endsWith(".parquet")).get
    val dst = new org.apache.hadoop.fs.Path(s"$dir/$name")
    fs.mkdirs(dst.getParent)
    assert(fs.rename(part, dst))
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    df.count()
  }

  for (checkpointed <- Seq(false, true))
    test(s"Delta: a foreign commit's added column surfaces in added-files, " +
        s"deleteWhere and mergeInto (checkpointed=$checkpointed)") {
      val (dir, fs) = mkDir("graft-evolve-delta")
      DeltaCompat.createDeltaTable(
        Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1), dir)
      // commit 1, as a foreign writer makes it: a metaData action that
      // adds `w`, plus a data file carrying it — named to sort AFTER the
      // pre-evolution file, so a first-footer read would drop `w`
      writeFile(fs, dir, "zz-evolved.parquet",
        Seq((3L, "c", 30L), (4L, "d", 40L), (6L, "f", 60L)).toDF("id", "v", "w"))
      val schema = new StructType().add("id", LongType).add("v", StringType)
        .add("w", LongType)
      val schemaJson = new com.fasterxml.jackson.databind.ObjectMapper()
        .writeValueAsString(schema.json)
      val out = fs.create(new org.apache.hadoop.fs.Path(
        f"$dir/_delta_log/${1L}%020d.json"), false)
      try out.write((Seq(
        s"""{"metaData":{"id":"t","format":{"provider":"parquet"},"schemaString":$schemaJson,"partitionColumns":[],"configuration":{}}}""",
        """{"add":{"path":"zz-evolved.parquet","dataChange":true}}""")
        .mkString("", "\n", "\n")).getBytes("UTF-8"))
      finally out.close()
      if (checkpointed) assert(DeltaCompat.checkpoint(spark, dir) == 1L)

      // added files across the evolution commit: NULL in the old file
      val added = DeltaCompat.readAddedBetween(spark, dir, -1L, 1L)
      assert(added.columns.toSeq == Seq("id", "v", "w"))
      assert(added.select("id", "w").as[(Long, Option[Long])].collect().toSet ==
        Set((1L, None), (2L, None), (3L, Some(30L)), (4L, Some(40L)), (6L, Some(60L))))

      // deleteWhere records the evolved column in its change feed
      val vDel = DeltaCompat.deleteWhere(spark, dir, col("id") === 4L)
      val deleted = DeltaCompat.readChangeFeed(spark, dir, 1L, vDel)
        .select("_change_type", "id", "w").as[(String, Long, Option[Long])]
        .collect().toSet
      assert(deleted == Set(("delete", 4L, Some(40L))), s"got $deleted")

      // mergeInto takes a source with the evolved schema; the rewritten
      // file's survivor (id 6) keeps its `w`, the old file stays NULL
      val vMerge = DeltaCompat.mergeInto(spark, dir,
        Seq((3L, "C", 33L), (5L, "e", 50L)).toDF("id", "v", "w"), Seq("id"))
      assert(vMerge == vDel + 1)
      val got = DeltaCompat.readDeltaTable(spark, dir)
        .select("id", "v", "w").as[(Long, String, Option[Long])].collect().toSet
      assert(got == Set((1L, "a", None), (2L, "b", None), (3L, "C", Some(33L)),
        (5L, "e", Some(50L)), (6L, "f", Some(60L))), s"got $got")
    }

  test("Iceberg: the current schema's added column surfaces in readIcebergTable") {
    val (dir, fs) = mkDir("graft-evolve-iceberg")
    val na = writeFile(fs, dir, "data/a.parquet", Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    val m1 = IcebergCompat.writeManifest(spark, dir, "m1.avro",
      Seq((1, "data/a.parquet", na)))
    val ml1 = IcebergCompat.writeManifestList(spark, dir, "ml1.avro", Seq(m1))
    IcebergCompat.writeMetadata(spark, dir, 1, Seq((101L, ml1)),
      schemaFields = Seq((1, "id"), (2, "v")))
    // snapshot 102 appends a file written after the schema gained `w`
    val nb = writeFile(fs, dir, "data/b.parquet",
      Seq((3L, "c", 30L)).toDF("id", "v", "w"))
    val m2 = IcebergCompat.writeManifest(spark, dir, "m2.avro",
      Seq((0, "data/a.parquet", na), (1, "data/b.parquet", nb)))
    val ml2 = IcebergCompat.writeManifestList(spark, dir, "ml2.avro", Seq(m2))
    IcebergCompat.writeMetadata(spark, dir, 2, Seq((101L, ml1), (102L, ml2)),
      schemaFields = Seq((1, "id"), (2, "v"), (3, "w")))
    val t = IcebergCompat.readIcebergTable(spark, dir)
    assert(t.columns.toSeq == Seq("id", "v", "w"))
    assert(t.as[(Long, String, Option[Long])].collect().toSet ==
      Set((1L, "a", None), (2L, "b", None), (3L, "c", Some(30L))))
  }

  test("snapshot layer: readPruned and read agree on the snapshot's schema") {
    val root = mkDir("graft-evolve-snap")._1 + "/t"
    SnapshotTable.commit(
      (1L to 10L).map(k => (k, k * 1.5)).toDF("k", "x").coalesce(1), root,
      statsCols = Seq("k"))
    SnapshotTable.append(
      (11L to 20L).map(k => (k, k * 1.5, s"t$k")).toDF("k", "x", "tag").coalesce(1),
      root, statsCols = Seq("k"))
    val full = SnapshotTable.read(spark, root)
    // the pruned scan touches only the appended dir's file
    val pruned = SnapshotTable.readPruned(spark, root, "k", 15.0, 16.0)
    assert(SnapshotTable.prunedFiles(spark, root, "k", 15.0, 16.0)._1.size == 1)
    assert(full.schema == pruned.schema,
      s"read ${full.schema.simpleString} != readPruned ${pruned.schema.simpleString}")
    assert(full.columns.toSeq == Seq("k", "x", "tag"))
    assert(pruned.select("k", "tag").as[(Long, String)].collect().toSet ==
      Set((15L, "t15"), (16L, "t16")))
    assert(full.filter(col("tag").isNull).count() == 10)
    // a pruned scan over only the OLD dir still surfaces the column
    assert(SnapshotTable.readPruned(spark, root, "k", 1.0, 2.0).schema == full.schema)
  }
}
