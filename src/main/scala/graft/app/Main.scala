package graft.app

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.Bridge

import graft.config.{AnonymizationConfig, ConfigLoader}
import graft.fakegen.FakeGen
import graft.pipeline.{TablePipeline, Validator}
import graft.sources.DmsFiles

/** CLI entry mirroring the reference's `anonymize` command surface
  * (src/main.rs:30-84) re-expressed for the Spark engine:
  *
  * {{{
  * sbt "runMain graft.app.Main anonymize \
  *   --input-dir /data/raw --output-dir /data/anonymized \
  *   --db-name mydb --schema-name public \
  *   --config-dir configuration_data/sync \
  *   [--included-tables a,b,c | --included-tables-file tables.txt] \
  *   [--excluded-tables x,y] \
  *   [--mode full-load-only|date-aware|absolute-path] \
  *   [--start-date YYYYMMDD] [--stop-date YYYYMMDD] \
  *   [--parallelism 8] [--master local[32]]"
  * }}}
  *
  * Env (reference ENVIRONMENT_VARIABLES.md analogs): RNG_SEED (default
  * 42), RECORD_REDUCTION_ENABLED (gates keep_num_of_records),
  * SKIP_VALIDATIONS, NUM_OF_BUFFERS (default parallelism).
  *
  * Validation phase: when `<config-dir>/../validations/<db>-<schema>.toml`
  * exists and SKIP_VALIDATIONS is not `true`, the output tables named in
  * some probe's SQL (and only those) are registered as temp views, then
  * the probes run. Both steps use the same `--parallelism` pool as the
  * tables.
  */
object Main {

  final case class Args(
      command: String = "anonymize",
      inputDir: String = "",
      outputDir: String = "",
      dbName: String = "db",
      schemaName: String = "public",
      configDir: String = "configuration_data/sync",
      includedTables: Seq[String] = Nil,
      includedTablesFile: Option[String] = None,
      excludedTables: Seq[String] = Nil,
      mode: DmsFiles.Mode = DmsFiles.AbsolutePath,
      parallelism: Int = sys.env.get("NUM_OF_BUFFERS").map(_.toInt).getOrElse(8),
      master: String = "local[32]",
      /** DMS layout: inputDir/<table>/ holds LOAD + CDC parquet files;
        * tables are reconstructed (CDC merge) before anonymization. */
      dms: Boolean = false,
      /** PKs for DMS CDC merge: "orders=o_orderkey;lineitem=l_orderkey,l_linenumber" */
      pks: Map[String, Seq[String]] = Map.empty,
      /** Expected data columns per DMS table (the reference reads these
        * from the target DB catalog, cdc_operator.rs:243-255); when
        * present the snapshot is schema-drift-checked and extra columns
        * abort the run (drift => a fresh full load is required). */
      expectCols: Map[String, Seq[String]] = Map.empty)

  private def parseTableCols(v: String): Map[String, Seq[String]] =
    v.split(';').filter(_.nonEmpty).map { e =>
      e.split("=", 2) match {
        case Array(tbl, cols) if tbl.nonEmpty && cols.nonEmpty =>
          tbl -> cols.split(',').toSeq
        case _ => throw new IllegalArgumentException(
          s"malformed entry '$e': expected table=col1,col2;table2=...")
      }
    }.toMap

  def parse(argv: Seq[String]): Args = {
    var a = Args()
    var startDate: Option[String] = None
    var stopDate: Option[String] = None
    var modeName = "absolute-path"
    var rest = argv.toList
    if (rest.headOption.exists(!_.startsWith("--"))) {
      a = a.copy(command = rest.head); rest = rest.tail
    }
    while (rest.nonEmpty) rest match {
      case "--input-dir" :: v :: t => a = a.copy(inputDir = v); rest = t
      case "--output-dir" :: v :: t => a = a.copy(outputDir = v); rest = t
      case "--db-name" :: v :: t => a = a.copy(dbName = v); rest = t
      case "--schema-name" :: v :: t => a = a.copy(schemaName = v); rest = t
      case "--config-dir" :: v :: t => a = a.copy(configDir = v); rest = t
      case "--included-tables" :: v :: t =>
        a = a.copy(includedTables = v.split(',').toSeq.filter(_.nonEmpty)); rest = t
      case "--included-tables-file" :: v :: t =>
        a = a.copy(includedTablesFile = Some(v)); rest = t
      case "--excluded-tables" :: v :: t =>
        a = a.copy(excludedTables = v.split(',').toSeq.filter(_.nonEmpty)); rest = t
      case "--mode" :: v :: t => modeName = v; rest = t
      case "--start-date" :: v :: t => startDate = Some(v); rest = t
      case "--stop-date" :: v :: t => stopDate = Some(v); rest = t
      case "--parallelism" :: v :: t => a = a.copy(parallelism = v.toInt); rest = t
      case "--master" :: v :: t => a = a.copy(master = v); rest = t
      case "--dms" :: t => a = a.copy(dms = true); rest = t
      case "--pk" :: v :: t =>
        a = a.copy(pks = parseTableCols(v)); rest = t
      case "--expect-cols" :: v :: t =>
        a = a.copy(expectCols = parseTableCols(v)); rest = t
      case other :: _ =>
        throw new IllegalArgumentException(s"unknown argument: $other")
      case Nil => ()
    }
    val mode = modeName match {
      case "full-load-only" => DmsFiles.FullLoadOnly
      case "date-aware"     => DmsFiles.DateAware(startDate, stopDate)
      case "absolute-path"  => DmsFiles.AbsolutePath
      case other => throw new IllegalArgumentException(s"unknown mode: $other")
    }
    a.copy(mode = mode)
  }

  /** Table list: explicit > file > every `<table>.parquet` in inputDir;
    * minus exclusions (src/main.rs:109-119 semantics). */
  def resolveTables(a: Args): Seq[String] = {
    def ls(dir: String): Seq[java.io.File] = {
      val files = new java.io.File(dir).listFiles()
      require(files != null,
        s"--input-dir '$dir' does not exist or is not a readable directory")
      files.toSeq
    }
    val base =
      if (a.includedTables.nonEmpty) a.includedTables
      else a.includedTablesFile match {
        case Some(f) => // UTF-8, as every config file is read
          java.nio.file.Files.readString(java.nio.file.Paths.get(f))
            .linesIterator.map(_.trim).filter(_.nonEmpty).toList
        case None if a.dms =>
          ls(a.inputDir).filter(_.isDirectory).map(_.getName).sorted
        case None =>
          ls(a.inputDir).filter(_.getName.endsWith(".parquet"))
            .map(_.getName.stripSuffix(".parquet")).sorted
      }
    base.filterNot(a.excludedTables.contains)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv.toIndexedSeq)
    require(a.command == "anonymize", s"unknown command ${a.command}")
    require(a.inputDir.nonEmpty && a.outputDir.nonEmpty,
      "--input-dir and --output-dir are required")

    val spark = SparkSession.builder()
      .master(a.master)
      .appName(s"graft-anonymize-${a.dbName}-${a.schemaName}")
      .config("spark.sql.shuffle.partitions", shufflePartitions(a.master).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(a, spark) finally spark.stop()
  }

  /** Shuffle partitions for a master URL: the thread count of a local
    * master (`local` = 1, `local[N]` and `local[N,maxFailures]` = N,
    * `local[*]` and `local[*,maxFailures]` = the available processors),
    * Spark's default 200 for any other master. */
  def shufflePartitions(master: String): Int = {
    val LocalThreads = """local\[(\*|\d+)(?:,\d+)?\]""".r
    master match {
      case "local" => 1
      case LocalThreads("*") => Runtime.getRuntime.availableProcessors
      case LocalThreads(n) => n.toInt
      case _ => 200
    }
  }

  /** The whole CLI flow minus session lifecycle — e2e-testable in-JVM
    * against a shared test session (SinksAppSpec drives both the
    * pass-through fast path and the drift-check abort through here). */
  def run(a: Args, spark: SparkSession): Unit = {
    val seed = sys.env.get("RNG_SEED").map(_.toLong).getOrElse(FakeGen.DefaultSeed)
    // reference parity: record reduction is OPT-IN, default false
    // (anonymization_dataframe_operator.rs:434-439 unwrap_or "false")
    val reductionEnabled = sys.env.get("RECORD_REDUCTION_ENABLED").contains("true")

    val rawConfig = ConfigLoader.loadAnonymizationFor(a.configDir, a.dbName, a.schemaName)
    val config =
      if (reductionEnabled) rawConfig
      else AnonymizationConfig(rawConfig.tables.map(_.copy(keepNumOfRecords = None)))
    val tables = resolveTables(a)
    println(s"[graft] anonymizing ${tables.size} tables " +
      s"(${config.tables.size} configured) from ${a.inputDir} -> ${a.outputDir}")

    val t0 = System.nanoTime()
    if (a.dms) {
      // DMS layout: reconstruct each table (LOAD + CDC merge) first, then
      // anonymize — the full reference flow (cdc_operator.rs:225-331)
      TablePipeline.foreachTableConcurrently(tables, a.parallelism) { table =>
        val pk = a.pks.getOrElse(table,
          throw new IllegalArgumentException(s"--pk missing for DMS table $table"))
        val snap = graft.sources.DmsFiles.snapshot(
          spark, s"${a.inputDir}/$table", pk, a.mode,
          expectedColumns = a.expectCols.get(table).map(_.toSet))
        val cfg = config.tableConfig(table).getOrElse(
          graft.config.TableConfig(table, graft.config.AnonymizationType.Multi(Nil)))
        TablePipeline.write(TablePipeline.build(snap, cfg, seed), cfg,
          s"${a.outputDir}/$table.parquet")
      }
    } else {
      TablePipeline.runAll(spark, config, a.inputDir, a.outputDir, tables,
        seed = seed, parallelism = a.parallelism)
    }
    println(f"[graft] done in ${(System.nanoTime() - t0) / 1e9}%.1f s")

    // post-run validations, reference step 7 (src/main.rs:256-270)
    val validationsPath = java.nio.file.Paths.get(
      a.configDir, "..", "validations", s"${a.dbName}-${a.schemaName}.toml").normalize()
    if (sys.env.get("SKIP_VALIDATIONS").contains("true"))
      println("[graft] validations skipped (SKIP_VALIDATIONS=true)")
    else if (java.nio.file.Files.exists(validationsPath)) {
      val validations =
        ConfigLoader.parseValidations(java.nio.file.Files.readString(validationsPath))
      TablePipeline.mapConcurrently(
          namedTables(tables, validations.validations.map(_.query)), a.parallelism) { t =>
        Bridge.readParquet(spark, s"${a.outputDir}/$t.parquet").createOrReplaceTempView(t)
      }
      Validator.runOrThrow(spark, validations, skip = false, parallelism = a.parallelism)
      println("[graft] validations passed")
    }
  }

  /** The tables some query names: a case-insensitive identifier-token
    * match (no `[A-Za-z0-9_]` on either side), so backticks, CTE bodies
    * and subqueries all count. Text matching can only over-select (a name
    * inside a string literal or comment), never miss a table the analyzer
    * would resolve. */
  def namedTables(tables: Seq[String], queries: Seq[String]): Seq[String] =
    tables.filter { t =>
      val token = java.util.regex.Pattern.compile(
        "(?<![A-Za-z0-9_])" + java.util.regex.Pattern.quote(t) + "(?![A-Za-z0-9_])",
        java.util.regex.Pattern.CASE_INSENSITIVE)
      queries.exists(q => token.matcher(q).find())
    }
}
