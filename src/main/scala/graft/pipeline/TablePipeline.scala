package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.StringType

import graft.config._
import graft.fakegen.FakeGen
import graft.operators.{Filters, Transformators}

/** Pluggable whole-table transformation — the reference's open-source
  * build ships only NoOp (whole_table_transformator.rs:1-21); real
  * implementations register by name. */
trait WholeTableTransformator extends Serializable {
  def name: String
  def apply(df: DataFrame): DataFrame
}

object NoOpWholeTableTransformator extends WholeTableTransformator {
  val name = "noop"
  def apply(df: DataFrame): DataFrame = df
}

/** A real whole-table transformation (the reference ships only NoOp in
  * its open-source build; its production impl is private —
  * whole_table_transformator.rs:1-21): deterministically fake EVERY
  * string column, preserving all other types. The blanket-anonymization
  * hammer for tables with no per-column config. */
final class FakeAllStringsTransformator(seed: Long = graft.fakegen.FakeGen.DefaultSeed)
    extends WholeTableTransformator {
  val name = FakeAllStringsTransformator.Name
  def apply(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.StringType
    val outCols = df.schema.fields.map { f =>
      if (f.dataType == StringType)
        graft.functions.anon.fakeUuid(col(f.name), seed).as(f.name)
      else col(f.name)
    }
    df.select(outCols.toIndexedSeq: _*)
  }
}

object FakeAllStringsTransformator {
  final val Name = "fake_all_strings"
}

/** Per-table plan builder — the Spark re-expression of the reference's
  * per-file dataflow (anonymization_dataframe_operator.rs:50-326):
  *
  *   scan -> [limit] -> [sanitize null bytes] -> [filter] -> transforms
  *
  * One declarative DataFrame plan per TABLE (not per file): Spark's
  * parquet source partitions the file set, so the reference's
  * file-at-a-time loop becomes partition parallelism for free, and
  * Catalyst pushes the filter into the scan ahead of the transforms.
  *
  * Scale notes (100 TB): the whole pipeline is narrow (scan->project),
  * zero shuffles, except that under a write `limit(n)` plans as a
  * per-task local limit, a one-partition shuffle of at most n rows per
  * task and a global limit; filter pushdown prunes row groups before
  * decode. Nothing here is driver-bound — no collect().
  *
  * Output layout: Spark's scan gives a table of a few files one task, and
  * so one output file, per input file, as the reference writes them. In
  * [[runAll]] a table whose whole input is no larger than
  * [[OneTaskMaxBytes]] runs as one task and is written as one file
  * ([[oneTaskIfSmall]]): one task's fixed cost outweighs that much data,
  * and its limit needs no shuffle.
  */
object TablePipeline {

  /** Built-in whole-table transformations; caller registries extend or
    * override. An anonymization tool must FAIL CLOSED: an unknown name
    * throws (like Transformators.custom) instead of silently passing
    * raw PII through as a NoOp. */
  def defaultWholeTableRegistry(seed: Long): Map[String, WholeTableTransformator] = {
    val fakeAll = new FakeAllStringsTransformator(seed)
    Map(
      NoOpWholeTableTransformator.name -> NoOpWholeTableTransformator,
      fakeAll.name -> fakeAll)
  }

  /** `keep_num_of_records` (§2.2): the reference slices the FIRST load
    * file and skips the rest; table-level `limit(n)` is the declared
    * Spark contract (a semantic superset — see SURVEY.md §2.2). When
    * `deterministic` ordering columns are given, the sample is stable
    * across runs/partitionings. */
  def build(df: DataFrame, cfg: TableConfig,
            seed: Long = FakeGen.DefaultSeed,
            orderForLimit: Seq[String] = Nil,
            wholeTableRegistry: Map[String, WholeTableTransformator] = Map.empty)
      : DataFrame = {
    var out = df
    cfg.keepNumOfRecords.foreach { n =>
      require(n > 0 && n <= Int.MaxValue,
        s"keep_num_of_records $n not in (0, ${Int.MaxValue}] — " +
        "limit(n.toInt) would silently wrap")
      out = if (orderForLimit.nonEmpty)
        out.orderBy(orderForLimit.map(col): _*).limit(n.toInt)
      else out.limit(n.toInt)
    }
    if (cfg.sanitizeNullBytes) out = Transformators.sanitizeNullBytes(out)
    cfg.filterType match {
      case FilterType.NoFilter => ()
      case f => out = out.filter(Filters.compile(f))
    }
    cfg.anonymizationType match {
      case AnonymizationType.Multi(transforms) =>
        out = Transformators.applyMulti(out, transforms, seed)
      case AnonymizationType.Single(name) =>
        val registry = defaultWholeTableRegistry(seed) ++ wholeTableRegistry
        val t = registry.getOrElse(name, throw new IllegalArgumentException(
          s"unknown whole-table transformation '$name' " +
          s"(registered: ${registry.keys.toSeq.sorted.mkString(", ")}); " +
          "refusing to silently pass the table through un-anonymized"))
        out = t(out)
    }
    out
  }

  /** Run a whole config against a directory of `<table>.parquet` inputs,
    * writing anonymized parquet per table. Tables NOT mentioned in the
    * config pass through via a filesystem copy without a Spark job — the
    * reference's server-side-copy fast path
    * (anonymization_dataframe_operator.rs:246-258, 369-394).
    *
    * A configured table's schema comes from one driver-side footer read
    * of its first data file, as with Spark's `mergeSchema=false`
    * ([[org.apache.spark.sql.graftbridge.Bridge.readParquet]]): the write
    * is the table's only Spark job, no schema-inference job runs — the
    * analog of the reference reading the footer in-process
    * (anonymization_dataframe_operator.rs:108-134).
    *
    * Tables run concurrently on the driver (NUM_OF_BUFFERS analog,
    * cdc_operator.rs:352-357): each Spark action is submitted from its
    * own pool thread, so small tables don't serialize behind big ones.
    *
    * A configured table is written as one file per scan task, which for
    * a table of a few files is one per input file, except that one whose
    * whole input is no larger than [[OneTaskMaxBytes]] is written as one
    * file ([[oneTaskIfSmall]]). A pass-through copy replaces what is at
    * its destination, as the configured tables' overwrite does; so a
    * table whose output path is, or holds, its input path fails the run
    * before any table starts.
    */
  def runAll(spark: SparkSession, config: AnonymizationConfig,
             inDir: String, outDir: String,
             tables: Seq[String],
             seed: Long = FakeGen.DefaultSeed,
             parallelism: Int = 8): Unit = {
    tables.foreach(t => requireApart(spark, s"$inDir/$t.parquet", s"$outDir/$t.parquet"))
    foreachTableConcurrently(tables, parallelism) { table =>
      config.tableConfig(table) match {
        case Some(cfg) =>
          val df = Bridge.readParquet(spark, s"$inDir/$table.parquet")
          write(build(oneTaskIfSmall(df), cfg, seed), cfg, s"$outDir/$table.parquet")
        case None => // pass-through fast path: no decode, no Spark job
          copyRecursive(spark, s"$inDir/$table.parquet",
                        s"$outDir/$table.parquet")
      }
    }
  }

  /** Fails unless neither of a table's input and output paths is, or
    * holds, the other: its write or copy replaces what is at `dst`, and
    * would delete the input it reads. Checked for every table before any
    * runs. */
  private def requireApart(spark: SparkSession, src: String, dst: String): Unit = {
    import org.apache.hadoop.fs.Path
    val conf = spark.sparkContext.hadoopConfiguration
    def qualified(p: String): Path = {
      val path = new Path(p)
      path.getFileSystem(conf).makeQualified(path)
    }
    def under(p: Path, dir: Path): Boolean =
      p == dir || p.toString.startsWith(dir.toString.stripSuffix("/") + "/")
    val (s, d) = (qualified(src), qualified(dst))
    require(!under(s, d) && !under(d, s), s"a table's output would replace its own input: $s -> $d")
  }

  /** The most input bytes, all of a table's files together, that
    * [[runAll]] runs as one task. One task saves CPU and allocation at
    * any size, but it fakes on one core what the per-file tasks fake on
    * several, so past some size the job takes longer when cores are
    * idle. Measured with `perfbench`'s `pii_wide` table (all ten fakers)
    * cut to 4 files, run alone on 4 vCPU, against one task per file:
    * at 3.5 MB `job_s` rose 22 %, outside the noise; at 1 MB it read
    * +4 % and at 0.5 MB −2 %, both within it. `schema_many`'s configured
    * tables are 0.1–0.3 MB. */
  val OneTaskMaxBytes: Long = 512L * 1024

  /** `df` coalesced to one partition when the files it scans hold, all
    * together, no more than [[OneTaskMaxBytes]]. Such a table's limit,
    * filter, fakers and write then run as one task, which deserializes
    * the write job's Hadoop `Configuration` and opens a Parquet writer
    * once, not once per input file; a limit needs no shuffle either. A
    * frame with no file scan is returned as it is. */
  private def oneTaskIfSmall(df: DataFrame): DataFrame = {
    val files = Bridge.scannedFiles(df)
    if (files.nonEmpty && files.map(_.getLen).sum <= OneTaskMaxBytes) df.coalesce(1) else df
  }

  /** Write one built table as Parquet at `path`, replacing what is there.
    * A column faked one output per distinct input, whose input is
    * distinct-valued ([[DistinctValued]]), gets no dictionary
    * (`parquet.enable.dictionary#<col>=false`, read by parquet-hadoop's
    * per-column config): it has as many distinct values as its input, so
    * the writer would build a dictionary per page only to drop it. Every
    * other column keeps Parquet's default. */
  def write(df: DataFrame, cfg: TableConfig, path: String): Unit =
    noDictionaryColumns(df, cfg).foldLeft(df.write.mode("overwrite")) { (w, c) =>
      w.option(s"parquet.enable.dictionary#$c", "false")
    }.parquet(path)

  /** The output columns of `cfg` written without a dictionary: a
    * distinct-valued input column under a `Custom` op that fakes each
    * distinct input to its own output, without `retain_if_empty`, or
    * under `fake_all_strings` (a UUID each). */
  private[graft] def noDictionaryColumns(df: DataFrame, cfg: TableConfig): Seq[String] = {
    val uniquePerInput = cfg.anonymizationType match {
      case AnonymizationType.Multi(transforms) =>
        Transformators.transformsByColumn(df, transforms).values.collect {
          case ColumnTransformation(c, TransformationType.Custom(op), false)
              if Transformators.uniquePerInput(op) => c
        }.toSeq
      case AnonymizationType.Single(FakeAllStringsTransformator.Name) =>
        df.schema.fields.collect { case f if f.dataType == StringType => f.name }.toSeq
      case AnonymizationType.Single(_) => Nil
    }
    val distinct = DistinctValued(df, uniquePerInput)
    uniquePerInput.filter(distinct).sorted
  }

  /** Shared driver-side concurrency scaffold (NUM_OF_BUFFERS analog):
    * apply `f` to every item on a bounded pool and return the results in
    * INPUT order. One implementation for every driver loop that submits
    * Spark actions in parallel (runAll, the CLI's DMS branch, view
    * registration and validation probes).
    *
    * Fail-fast: after the first failure no queued item starts; the call
    * waits for the items already running, then rethrows that first
    * failure unwrapped. So nothing keeps writing output after the call
    * has thrown. The pool is always shut down. */
  def mapConcurrently[A, B](xs: Seq[A], parallelism: Int)(f: A => B): Seq[B] = {
    import java.util.concurrent.{Callable, Executors, TimeUnit}
    import java.util.concurrent.atomic.AtomicReference
    require(parallelism >= 1, s"parallelism must be >= 1, got $parallelism")
    val failure = new AtomicReference[Throwable]()
    val pool = Executors.newFixedThreadPool(parallelism)
    try {
      val tasks = xs.map { x =>
        pool.submit(new Callable[Option[B]] {
          def call(): Option[B] =
            if (failure.get != null) None
            else try Some(f(x)) catch {
              case t: Throwable => failure.compareAndSet(null, t); None
            }
        })
      }
      pool.shutdown()
      pool.awaitTermination(Long.MaxValue, TimeUnit.NANOSECONDS)
      Option(failure.get).foreach(t => throw t)
      tasks.map(_.get().get)
    } finally pool.shutdownNow()
  }

  /** `mapConcurrently` for per-table side effects. */
  def foreachTableConcurrently(tables: Seq[String], parallelism: Int)
                              (work: String => Unit): Unit =
    mapConcurrently(tables, parallelism)(work)

  /** Byte copy through Hadoop FileSystem — works for file://, hdfs://,
    * s3a:// alike (java.nio would treat a URI as a relative local path),
    * mirroring the reference's server-side S3 copy. Whatever is at `dst`
    * is deleted first ([[requireApart]] keeps that off the input). */
  private def copyRecursive(spark: SparkSession, src: String, dst: String): Unit = {
    import org.apache.hadoop.fs.{FileUtil, Path}
    val conf = spark.sparkContext.hadoopConfiguration
    val srcP = new Path(src)
    val dstP = new Path(dst)
    val srcFs = srcP.getFileSystem(conf)
    val dstFs = dstP.getFileSystem(conf)
    // FileUtil.copy into an existing directory would nest the copy in it
    dstFs.delete(dstP, true)
    if (!FileUtil.copy(srcFs, srcP, dstFs, dstP,
        /* deleteSource = */ false, /* overwrite = */ true, conf))
      throw new java.io.IOException(s"pass-through copy failed: $src -> $dst")
  }
}
