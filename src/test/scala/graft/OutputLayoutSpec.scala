package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.config._
import graft.pipeline.TablePipeline

/** `TablePipeline.runAll`'s output layout: one file per input file, one
  * file for a table whose whole input is no larger than
  * `TablePipeline.OneTaskMaxBytes`, a rerun into the same output
  * directory that leaves exactly the new output behind, and a run whose
  * output directory is its input directory that leaves the input as it
  * was. */
class OutputLayoutSpec extends SparkTestBase {

  private val cfg = TableConfig("t", AnonymizationType.Multi(Seq(ColumnTransformation(
    "email", TransformationType.Custom("fake_email_transformation")))))

  /** A directory holding `t.parquet`: `rows` rows in three part files,
    * with a `uuid()` column that does not compress away. */
  private def threeFileInput(rows: Int = 600): String = {
    val in = Files.createTempDirectory("graft_layout_in").toString
    spark.range(0, rows)
      .selectExpr("id", "concat('user', id, '@corp.com') AS email", "CAST(id % 7 AS STRING) AS tag",
        "uuid() AS note")
      .repartition(3).write.parquet(s"$in/t.parquet")
    assert(dataFiles(s"$in/t.parquet").size == 3)
    in
  }

  private def inputBytes(in: String): Long = dataFiles(s"$in/t.parquet").map(Files.size).sum

  private def dataFiles(dir: String): Seq[Path] =
    Files.list(Paths.get(dir)).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq

  /** Every visible file under `dir`, as a path relative to it. */
  private def relativeFiles(dir: String): Set[String] = {
    val root = Paths.get(dir)
    Files.walk(root).iterator().asScala
      .filter(p => Files.isRegularFile(p) && !p.getFileName.toString.startsWith("."))
      .map(p => root.relativize(p).toString).toSet
  }

  private def runInto(in: String, config: TableConfig): String = {
    val out = Files.createTempDirectory("graft_layout_out").toString
    TablePipeline.runAll(spark, AnonymizationConfig(Seq(config)), in, out,
      tables = Seq("t"), parallelism = 1)
    out
  }

  private def sortedRows(dir: String) =
    spark.read.parquet(dir).orderBy("id").collect().toSeq

  private def uncoalescedRows(in: String) =
    TablePipeline.build(spark.read.parquet(s"$in/t.parquet"), cfg).orderBy("id").collect().toSeq

  test("a multi-file table under OneTaskMaxBytes is written as one file, same rows") {
    val in = threeFileInput()
    assert(inputBytes(in) <= TablePipeline.OneTaskMaxBytes)
    val out = runInto(in, cfg)
    assert(dataFiles(s"$out/t.parquet").size == 1)
    assert(sortedRows(s"$out/t.parquet") == uncoalescedRows(in))
  }

  test("a table above OneTaskMaxBytes keeps one file per input file") {
    val in = threeFileInput(rows = 40000)
    assert(inputBytes(in) > TablePipeline.OneTaskMaxBytes)
    val out = runInto(in, cfg)
    assert(dataFiles(s"$out/t.parquet").size == 3)
    assert(sortedRows(s"$out/t.parquet") == uncoalescedRows(in))
  }

  test("keep_num_of_records under OneTaskMaxBytes: one job, no shuffle, same rows each run") {
    val in = threeFileInput()
    val limited = cfg.copy(keepNumOfRecords = Some(100))
    val (out, jobs) = jobsDuring(runInto(in, limited))
    assert(jobs.size == 1 && jobs.head.stageInfos.size == 1,
      s"expected one single-stage job, got stages ${jobs.map(_.stageInfos.size)}")
    // the same limit over one task per file takes a shuffle
    val large = threeFileInput(rows = 40000)
    val (_, perFileJobs) = jobsDuring(runInto(large, limited))
    assert(perFileJobs.map(_.stageInfos.size).sum > 1)
    val rows = sortedRows(s"$out/t.parquet")
    assert(rows.size == 100)
    assert(sortedRows(s"${runInto(in, limited)}/t.parquet") == rows)
  }

  test("a rerun into an existing output replaces the pass-through copy") {
    val in = threeFileInput()
    val out = Files.createTempDirectory("graft_layout_rerun").toString
    def passThrough(): Unit = TablePipeline.runAll(spark, AnonymizationConfig(Nil), in, out,
      tables = Seq("t"), parallelism = 1)
    passThrough()
    assert(relativeFiles(s"$out/t.parquet") == relativeFiles(s"$in/t.parquet"))
    // drop one part file (and its checksum) from the input, then rerun
    val dropped = new org.apache.hadoop.fs.Path(dataFiles(s"$in/t.parquet").head.toUri)
    dropped.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(dropped, false)
    passThrough()
    assert(relativeFiles(s"$out/t.parquet") == relativeFiles(s"$in/t.parquet"))
    assert(sortedRows(s"$out/t.parquet") == sortedRows(s"$in/t.parquet"))
  }

  test("an output dir equal to the input dir throws and leaves the input intact") {
    val in = threeFileInput()
    spark.range(0, 50).selectExpr("id", "CAST(id AS STRING) AS name")
      .repartition(2).write.parquet(s"$in/u.parquet")
    def snapshot() = Seq("t", "u").map(t => (relativeFiles(s"$in/$t.parquet"), sortedRows(s"$in/$t.parquet")))
    val before = snapshot()
    // t is configured, u passes through; each alone, then both at once
    for (tables <- Seq(Seq("t"), Seq("u"), Seq("u", "t"))) {
      intercept[IllegalArgumentException](TablePipeline.runAll(spark,
        AnonymizationConfig(Seq(cfg)), in, s"$in/", tables, parallelism = 2))
      assert(snapshot() == before, s"input changed by an in-place run of $tables")
    }
  }
}
