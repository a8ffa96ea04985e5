package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.{ColumnChunkMetaData, CompressionCodecName}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graftbridge.Bridge

import graft.app.Main
import graft.config._
import graft.pipeline.TablePipeline
import graft.sources.DmsFiles

/** The ETL write's page codec and per-column Parquet encodings: every
  * rewritten table is written with zstd pages, a byte-copied one keeps
  * its input's bytes; a column that passes through unchanged, or that a
  * faker fakes each distinct input to its own output, is written without
  * a dictionary when its input column is distinct-valued, as the input
  * file's own writer recorded it; everything else keeps Parquet's
  * default, and the rows are those of a default write. */
class WriterEncodingSpec extends SparkTestBase {

  /** Every column chunk of every row group of every part file under `dir`. */
  private def columnChunks(dir: String): Seq[ColumnChunkMetaData] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val parts = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet"))
    assert(parts.nonEmpty, s"no part files under $dir")
    parts.toSeq.flatMap { f =>
      val reader = ParquetFileReader.open(conf, new Path(f.getPath))
      try reader.getFooter.getBlocks.asScala.toSeq.flatMap(_.getColumns.asScala)
      finally reader.close()
    }
  }

  /** Column name -> whether any row group of any part file under `dir`
    * has a dictionary page. */
  private def dictionaryPages(dir: String): Map[String, Boolean] =
    columnChunks(dir).map(c => c.getPath.toDotString -> c.hasDictionaryPage)
      .groupMapReduce(_._1)(_._2)(_ || _)

  private def codecs(dir: String): Set[CompressionCodecName] =
    columnChunks(dir).map(_.getCodec).toSet

  private def assertSameRows(a: DataFrame, b: DataFrame): Unit = {
    assert(a.count() == b.count())
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  private def custom(c: String, op: String, retain: Boolean = false) =
    ColumnTransformation(c, TransformationType.Custom(op), retain)

  /** `df` written as one Parquet file and read back as the ETL reads it. */
  private def asParquetInput(df: DataFrame, name: String,
                             options: Map[String, String] = Map.empty): (DataFrame, String) = {
    val in = Files.createTempDirectory(name).toString + "/in.parquet"
    df.coalesce(1).write.options(options).parquet(in)
    (Bridge.readParquet(spark, in), in)
  }

  test("plain layout: fakers of distinct-valued inputs lose the dictionary, the rest keep it") {
    import spark.implicits._
    val (df, in) = asParquetInput((1 to 3000).map { i =>
      (i.toLong, s"first$i", s"user${i % 20}@corp.com", s"tok${i % 50}", s"+1 555 01$i",
        s"$i Main St", s"{a$i@x.com,b$i@y.com}", s"login$i@corp.com",
        f"customer-key-${i % 2550}%06d", s"tier${i % 4}", if (i % 10 == 0) "" else s"kept$i")
    }.toDF("id", "name", "email", "token", "phone", "address", "emails",
      "login", "key", "tier", "retained"), "graft_enc_plain")
    // the input's writer dropped the dictionary of the unique columns and
    // kept one for `key`, whose values are 85 % distinct
    val inDict = dictionaryPages(in)
    assert(!inDict("phone") && inDict("key") && inDict("token"))
    val cfg = TableConfig("t", AnonymizationType.Multi(Seq(
      custom("name", "fake_firstname_transformation"),
      custom("email", "fake_email_transformation"),
      custom("token", "fake_md5_transformation"),
      custom("phone", "fake_phone_transformation"),
      custom("address", "fake_address_transformation"),
      custom("emails", "fake_multi_email_transformation"),
      custom("login", "fake_email_with_id_prefix_transformation"),
      custom("key", "fake_md5_transformation"),
      custom("retained", "fake_md5_transformation", retain = true),
      custom("absent", "fake_md5_transformation"))))
    val built = TablePipeline.build(df, cfg)
    val out = Files.createTempDirectory("graft_enc_plain_out").toString + "/t.parquet"
    val ref = Files.createTempDirectory("graft_enc_plain_ref").toString + "/t.parquet"
    TablePipeline.write(built, cfg, out)
    built.write.parquet(ref)

    // `id` passes through and is distinct-valued
    val unique = Seq("address", "emails", "id", "key", "login", "phone")
    assert(TablePipeline.noDictionaryColumns(built, cfg) == unique)
    val dict = dictionaryPages(out)
    unique.foreach(c => assert(!dict(c), s"$c: distinct-valued column written with a dictionary"))
    // the other columns are written as by default, `retained` too
    // (retain_if_empty is left out of the rule); at these cardinalities
    // the default keeps a dictionary for the rest. `token` is faked one
    // output per input too, but its 50 repeated inputs keep it.
    val refDict = dictionaryPages(ref)
    Seq("name", "email", "token", "tier", "retained").foreach { c =>
      assert(dict(c) == refDict(c), s"$c: not written with Parquet's default")
    }
    Seq("name", "email", "token", "tier").foreach { c =>
      assert(dict(c), s"$c: expected Parquet's default dictionary")
    }
    assertSameRows(spark.read.parquet(out), spark.read.parquet(ref))
  }

  test("plain layout through runAll: zstd pages; distinct pass-through columns lose the dictionary") {
    import spark.implicits._
    val in = Files.createTempDirectory("graft_enc_pass").toString
    val out = Files.createTempDirectory("graft_enc_pass_out").toString
    (1 to 3000).map { i =>
      (i.toLong, i * 1.37, s"note number $i", s"tier${i % 4}", (i % 9).toLong,
        s"first$i", s"secret$i", s"gone$i")
    }.toDF("id", "balance", "comment", "tier", "bucket", "name", "secret", "dropped")
      .coalesce(1).write.parquet(s"$in/t.parquet")
    Seq((1, "a"), (2, "b")).toDF("k", "v").coalesce(1).write.parquet(s"$in/copied.parquet")
    val cfg = TableConfig("t", AnonymizationType.Multi(Seq(
      custom("name", "fake_firstname_transformation"),
      ColumnTransformation("secret", TransformationType.Replace("x"), false),
      ColumnTransformation("dropped", TransformationType.Nullify, false))))
    TablePipeline.runAll(spark, AnonymizationConfig(Seq(cfg)), in, out, Seq("t", "copied"))

    assert(codecs(s"$out/t.parquet") == Set(CompressionCodecName.ZSTD))
    // the byte copy keeps its input's bytes, and so Spark's default codec
    assert(codecs(s"$out/copied.parquet") == codecs(s"$in/copied.parquet"))
    assert(!codecs(s"$out/copied.parquet").contains(CompressionCodecName.ZSTD))
    val dict = dictionaryPages(s"$out/t.parquet")
    Seq("id", "balance", "comment").foreach(c =>
      assert(!dict(c), s"$c: distinct-valued pass-through written with a dictionary"))
    // repeated pass-through inputs, a wordlist faker, Replace and Nullify
    // keep Parquet's default
    Seq("tier", "bucket", "name", "secret").foreach(c =>
      assert(dict(c), s"$c: expected Parquet's default dictionary"))
    val built = TablePipeline.build(Bridge.readParquet(spark, s"$in/t.parquet"), cfg)
    val ref = Files.createTempDirectory("graft_enc_pass_ref").toString + "/t.parquet"
    built.write.parquet(ref)
    assertSameRows(spark.read.parquet(s"$out/t.parquet"), spark.read.parquet(ref))
  }

  test("no evidence, no option: a non-Parquet input, or one written without dictionaries") {
    import spark.implicits._
    val rows = (1 to 2000).map(i => (i.toLong, s"+1 555 01$i", s"tok${i % 50}"))
    val cfg = TableConfig("t", AnonymizationType.Multi(Seq(
      custom("phone", "fake_phone_transformation"),
      custom("token", "fake_md5_transformation"))))
    assert(TablePipeline.noDictionaryColumns(
      TablePipeline.build(rows.toDF("id", "phone", "token"), cfg), cfg).isEmpty)
    val (plain, _) = asParquetInput(rows.toDF("id", "phone", "token"), "graft_enc_nodict",
      Map("parquet.enable.dictionary" -> "false"))
    assert(TablePipeline.noDictionaryColumns(TablePipeline.build(plain, cfg), cfg).isEmpty)
  }

  test("fake_all_strings: distinct-valued string columns lose the dictionary") {
    import spark.implicits._
    val (df, _) = asParquetInput(
      (1 to 2000).map(i => (i % 7, s"a$i", s"b${i % 3}")).toDF("k", "a", "b"), "graft_enc_all")
    val cfg = TableConfig("t", AnonymizationType.Single("fake_all_strings"))
    val built = TablePipeline.build(df, cfg)
    assert(TablePipeline.noDictionaryColumns(built, cfg) == Seq("a"))
    val out = Files.createTempDirectory("graft_enc_all").toString + "/t.parquet"
    TablePipeline.write(built, cfg, out)
    val dict = dictionaryPages(out)
    assert(!dict("a") && dict("b") && dict("k"))
    assertSameRows(spark.read.parquet(out), built)
  }

  test("DMS layout through Main.run: the same rule on the reconstructed table") {
    val in = Files.createTempDirectory("graft_enc_dms").toString
    val out = Files.createTempDirectory("graft_enc_dms_out").toString
    val cfgDir = Files.createTempDirectory("graft_enc_dms_cfg").toString
    val dir = s"$in/orders"
    val staged = s"$dir/tmp"
    spark.read.parquet(sf() + "/orders.parquet").coalesce(1).write.parquet(staged)
    val part = new java.io.File(staged).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    Files.move(part.toPath, Paths.get(dir, "LOAD00000001.parquet"))
    // o_orderkey is unique, o_custkey has 150 values in 1500 rows
    val cfg = TableConfig("orders", AnonymizationType.Multi(Seq(
      custom("o_orderkey", "fake_md5_transformation"),
      custom("o_custkey", "fake_md5_transformation"),
      custom("o_orderstatus", "fake_firstname_transformation"))))
    Files.writeString(Paths.get(cfgDir, "d-s-sync.toml"),
      TomlWriter.write(AnonymizationConfig(Seq(cfg))))
    Main.run(Main.parse(Seq("anonymize", "--input-dir", in, "--output-dir", out,
      "--db-name", "d", "--schema-name", "s", "--config-dir", cfgDir,
      "--dms", "--pk", "orders=o_orderkey")), spark)

    assert(codecs(s"$out/orders.parquet") == Set(CompressionCodecName.ZSTD))
    val dict = dictionaryPages(s"$out/orders.parquet")
    assert(!dict("o_orderkey"), "distinct-valued fake written with a dictionary")
    assert(dict("o_custkey"), "fake of a repeated key lost its dictionary")
    assert(dict("o_orderstatus"), "wordlist faker lost its dictionary")
    assert(dict("o_orderpriority"), "pass-through column lost its dictionary")
    val expected = TablePipeline.build(
      DmsFiles.snapshot(spark, dir, Seq("o_orderkey")), cfg)
    assertSameRows(spark.read.parquet(s"$out/orders.parquet"), expected)
  }
}
