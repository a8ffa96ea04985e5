package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

/** `Bridge.readParquet` takes the schema from one driver-side footer
  * read: it must give exactly the schema `spark.read.parquet` infers, on
  * every layout the pipeline reads, without launching a Spark job. */
class ReadParquetSpec extends SparkTestBase {

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** The footer read gives the inferred schema and launches no job. */
  private def assertSameSchema(paths: String*): Unit = {
    val (df, jobs) = jobsDuring(Bridge.readParquet(spark, paths: _*))
    assert(jobs.isEmpty,
      s"readParquet launched ${jobs.size} jobs for ${paths.mkString(", ")}")
    assert(df.schema == spark.read.parquet(paths: _*).schema)
  }

  private def writeDir(df: DataFrame, dir: String): String = {
    df.write.parquet(dir); dir
  }

  test("a Spark-written directory with _SUCCESS and .crc siblings") {
    val dir = writeDir(spark.range(0, 100, 1, 3).select(col("id"),
      (col("id") % 7).cast("string").as("s")), s"${tmp("rp_plain")}/t")
    val names = new java.io.File(dir).list().toSeq
    assert(names.contains("_SUCCESS") && names.exists(_.endsWith(".crc")), names)
    assertSameSchema(dir)
    assert(Bridge.readParquet(spark, dir).count() == 100)
  }

  test("an empty-DataFrame output") {
    val dir = writeDir(spark.range(0).select(col("id"), lit("x").as("s")),
      s"${tmp("rp_empty")}/t")
    assertSameSchema(dir)
    assert(Bridge.readParquet(spark, dir).count() == 0)
  }

  test("typed columns with INT96 and INT64 timestamps") {
    val typed = spark.range(0, 5).select(
      col("id").as("Id"),
      (col("id") * 1.5).cast("decimal(38,18)").as("Amount"),
      timestamp_seconds(col("id") * 86400).as("ts"),
      timestamp_seconds(col("id")).cast("timestamp_ntz").as("tsNtz"),
      date_add(lit("2024-01-01").cast("date"), col("id").cast("int")).as("d"),
      col("id").cast("string").cast("binary").as("bin"),
      array(col("id"), col("id") + 1).as("arr"),
      map(col("id").cast("string"), col("id")).as("m"),
      struct(col("id").as("inner"), lit("v").as("MixedCase")).as("st"))
    val key = "spark.sql.parquet.outputTimestampType"
    val old = spark.conf.get(key)
    try for (tsType <- Seq("INT96", "TIMESTAMP_MICROS", "TIMESTAMP_MILLIS")) {
      spark.conf.set(key, tsType)
      val dir = writeDir(typed, s"${tmp("rp_typed")}/t")
      assertSameSchema(dir)
      assert(Bridge.readParquet(spark, dir).orderBy("Id").collect() ===
        spark.read.parquet(dir).orderBy("Id").collect(), tsType)
    } finally spark.conf.set(key, old)
  }

  test("a partitionBy directory") {
    val dir = s"${tmp("rp_part")}/t"
    spark.range(0, 40).select(col("id"), (col("id") % 3).as("p"),
        (col("id") % 2 === 0).as("q"))
      .write.partitionBy("p", "q").parquet(dir)
    assertSameSchema(dir)
    assert(Bridge.readParquet(spark, dir).columns.toSeq == Seq("id", "p", "q"))
    assert(Bridge.readParquet(spark, dir).filter(col("p") === 1).count() ==
      spark.read.parquet(dir).filter(col("p") === 1).count())
  }

  test("an explicit multi-file list: the first file decides") {
    val root = tmp("rp_list")
    def single(df: DataFrame, name: String): String = {
      val staged = writeDir(df.coalesce(1), s"$root/stage_$name")
      val part = new java.io.File(staged).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = Paths.get(root, name)
      Files.move(part.toPath, dst)
      dst.toString
    }
    val a = single(spark.range(0, 3).select(col("id"), lit("a").as("only_a")),
      "20240101-a.parquet")
    val b = single(spark.range(3, 6).select(col("id"), lit(1).as("only_b")),
      "20240102-b.parquet")
    assertSameSchema(a, b)
    assert(Bridge.readParquet(spark, a, b).columns.toSeq == Seq("id", "only_a"))
    assert(Bridge.readParquet(spark, a, b).count() == 6)
  }

  test("a file without Spark's row metadata (parquet-mr ExampleParquetWriter)") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val schema = MessageTypeParser.parseMessageType(
      """message plain {
        |  required int32 id;
        |  optional binary name (UTF8);
        |  optional binary raw;
        |  optional int64 ts (TIMESTAMP(MILLIS,true));
        |  optional fixed_len_byte_array(16) amount (DECIMAL(38,4));
        |  optional group tags (LIST) { repeated group list { optional binary element (UTF8); } }
        |}""".stripMargin)
    val file = s"${tmp("rp_mr")}/plain.parquet"
    val conf = spark.sparkContext.hadoopConfiguration
    val writer = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(file))
      .withConf(conf).withType(schema).build()
    val groups = new SimpleGroupFactory(schema)
    try for (i <- 0 until 3) {
      val g = groups.newGroup().append("id", i).append("name", s"n$i")
        .append("raw", org.apache.parquet.io.api.Binary.fromString(s"r$i"))
        .append("ts", 1700000000000L + i)
      g.addGroup("tags").addGroup("list").append("element", s"t$i")
      writer.write(g)
    } finally writer.close()
    val footer = org.apache.parquet.hadoop.ParquetFileReader.readFooter(
      conf, new org.apache.hadoop.fs.Path(file))
    assert(!footer.getFileMetaData.getKeyValueMetaData
      .containsKey("org.apache.spark.sql.parquet.row.metadata"))
    assertSameSchema(file)
    assert(Bridge.readParquet(spark, file).collect() ===
      spark.read.parquet(file).collect())
  }

  test("a missing path and a directory without a data file fail naming the path") {
    val missing = s"${tmp("rp_missing")}/nope.parquet"
    val e1 = intercept[java.io.FileNotFoundException](Bridge.readParquet(spark, missing))
    assert(e1.getMessage.contains(missing), e1.getMessage)
    val empty = s"${tmp("rp_nodata")}/t"
    Files.createDirectories(Paths.get(empty, "_temporary"))
    Files.createFile(Paths.get(empty, "_SUCCESS"))
    Files.createFile(Paths.get(empty, ".hidden.parquet"))
    val e2 = intercept[java.io.FileNotFoundException](Bridge.readParquet(spark, empty))
    assert(e2.getMessage.contains(empty), e2.getMessage)
  }
}
