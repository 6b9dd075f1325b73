package graft

import org.apache.spark.sql.functions._

import graft.sources.{DeltaCompat, IcebergCompat}

/** Lake files are identified the way Spark renders `_metadata.file_path`
  * (percent-encoded): a data file whose name or partition directory holds
  * a space is masked, rewritten and joined to its partition values like
  * any other; a delete file's raw (unencoded) target reaches it too. */
class FileIdentitySpec extends SparkSpec {
  import spark.implicits._

  test("Delta deleteWhere and mergeInto rewrite a file whose name has a space") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ident").toString
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = s"$dir/.tmp"
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v").coalesce(1)
      .write.parquet(tmp)
    val part = fs.listStatus(new org.apache.hadoop.fs.Path(tmp)).map(_.getPath)
      .find(_.getName.endsWith(".parquet")).get
    assert(fs.rename(part, new org.apache.hadoop.fs.Path(s"$dir/a b.parquet")))
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$dir/_delta_log"))
    val out = fs.create(new org.apache.hadoop.fs.Path(f"$dir/_delta_log/${0L}%020d.json"))
    try out.write(Seq("""{"metaData":{"id":"t","format":{"provider":"parquet"}}}""",
        """{"add":{"path":"a%20b.parquet","dataChange":true}}""")
      .mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()

    DeltaCompat.deleteWhere(spark, dir, col("id") === 1L)
    assert(DeltaCompat.readDeltaTable(spark, dir).as[(Long, String)].collect().toSet ==
      Set((2L, "b"), (3L, "c")))
    DeltaCompat.mergeInto(spark, dir, Seq((2L, "B")).toDF("id", "v"), Seq("id"))
    assert(DeltaCompat.readDeltaTable(spark, dir).as[(Long, String)].collect().toSet ==
      Set((2L, "B"), (3L, "c")))
    assert(!DeltaCompat.liveFiles(spark, dir).exists(_.endsWith("a b.parquet")),
      "the rewritten file must leave the live set")
  }

  test("Delta many-partition read joins partition values to spaced paths") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ident-p").toString + "/t"
    // 70 partition tuples > 64: the single-scan + partition-value join path
    DeltaCompat.createDeltaTable(
      (0 until 70).map(i => (i.toLong, s"v $i")).toDF("id", "p"), dir, Seq("p"))
    val got = DeltaCompat.readDeltaTable(spark, dir).as[(Long, String)].collect().toSet
    assert(got == (0 until 70).map(i => (i.toLong, s"v $i")).toSet)
  }

  test("Iceberg position-delete file masks a data file under a spaced path") {
    val dir = java.nio.file.Files.createTempDirectory("graft ident-ice").toString
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def writeFile(name: String, df: org.apache.spark.sql.DataFrame): Long = {
      val tmp = s"$dir/.tmp"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = fs.listStatus(new org.apache.hadoop.fs.Path(tmp)).map(_.getPath)
        .find(_.getName.endsWith(".parquet")).get
      fs.mkdirs(new org.apache.hadoop.fs.Path(s"$dir/data"))
      assert(fs.rename(part, new org.apache.hadoop.fs.Path(s"$dir/data/$name")))
      fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
      df.count()
    }
    val na = writeFile("a b.parquet",
      Seq((1L, "w"), (2L, "x"), (3L, "y"), (4L, "z")).toDF("id", "v"))
    // raw locations, as a delete writer records them: not percent-encoded
    val target = s"$dir/data/a b.parquet"
    writeFile("pd.parquet",
      Seq((target, 1L), (s"file:$target", 3L)).toDF("file_path", "pos"))
    val m = IcebergCompat.writeManifestEntries(spark, dir, "m1.avro", Seq(
      IcebergCompat.Entry(1, "data/a b.parquet", na, content = 0, seq = 1L),
      IcebergCompat.Entry(1, "data/pd.parquet", 2L, content = 1, seq = 2L)))
    val ml = IcebergCompat.writeManifestList(spark, dir, "ml1.avro", Seq(m))
    IcebergCompat.writeMetadata(spark, dir, 1, Seq((101L, ml)))
    assert(IcebergCompat.readIcebergTable(spark, dir).as[(Long, String)].collect().toSet ==
      Set((1L, "w"), (3L, "y")))
  }
}
