package graft

import graft.app.Main
import graft.sinks.{JdbcSink, ParquetSink}
import graft.sources.DmsFiles

import org.apache.spark.sql.functions._

class SinksAppSpec extends SparkTestBase {
  import spark.implicits._

  test("ParquetSink: full write then PK upsert merges latest") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sink").toString
    val sink = new ParquetSink(dir)
    val v1 = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    sink.writeFull(v1, "t")
    val delta = Seq((2L, "b2"), (3L, "c")).toDF("id", "v")
    sink.upsert(delta, "t", Seq("id"))
    val got = spark.read.parquet(s"$dir/t.parquet").orderBy("id")
      .as[(Long, String)].collect().toSeq
    assert(got == Seq((1L, "a"), (2L, "b2"), (3L, "c")))
  }

  test("ParquetSink upsert: within-batch duplicate PKs resolve by the tiebreaker") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sink_tie").toString
    val sink = new ParquetSink(dir, tieBreakers = Seq("ver"))
    sink.writeFull(Seq((1L, 0L, "old")).toDF("id", "ver", "v"), "t")
    // two versions of id=1 in ONE batch: highest ver must win,
    // deterministically, regardless of partition order
    val delta = Seq((1L, 2L, "new2"), (1L, 1L, "new1")).toDF("id", "ver", "v")
      .repartition(4)
    sink.upsert(delta, "t", Seq("id"))
    val got = spark.read.parquet(s"$dir/t.parquet")
      .as[(Long, Long, String)].collect().toSeq
    assert(got == Seq((1L, 2L, "new2")))
  }

  test("catalog queries escape quote-bearing schema/table names") {
    val sql = graft.sinks.JdbcCatalog.postgresPkQuery("it's", "o''table")
    assert(sql.contains("n.nspname = 'it''s'"))
    assert(sql.contains("c.relname = 'o''''table'"))
  }

  test("JdbcSink upsert SQL shape") {
    val sql = JdbcSink.upsertSql("tgt", "stg", Seq("id", "a", "b"), Seq("id"))
    assert(sql ==
      "INSERT INTO tgt (id, a, b) SELECT id, a, b FROM stg " +
      "ON CONFLICT (id) DO UPDATE SET a = EXCLUDED.a, b = EXCLUDED.b")
    // pure link table: pk == all columns => DO NOTHING, not an empty SET
    assert(JdbcSink.upsertSql("rel", "stg", Seq("a_id", "b_id"), Seq("a_id", "b_id")) ==
      "INSERT INTO rel (a_id, b_id) SELECT a_id, b_id FROM stg " +
      "ON CONFLICT (a_id, b_id) DO NOTHING")
    // identifier quoting flows through every column position
    val quoted = JdbcSink.upsertSql("t", "s", Seq("id", "order"), Seq("id"),
      c => "\"" + c + "\"")
    assert(quoted ==
      "INSERT INTO t (\"id\", \"order\") SELECT \"id\", \"order\" FROM s " +
      "ON CONFLICT (\"id\") DO UPDATE SET \"order\" = EXCLUDED.\"order\"")
  }

  test("shuffle partitions follow the master's thread count") {
    val cores = Runtime.getRuntime.availableProcessors
    assert(Main.shufflePartitions("local") == 1)
    assert(Main.shufflePartitions("local[4]") == 4)
    assert(Main.shufflePartitions("local[4,2]") == 4)
    assert(Main.shufflePartitions("local[*]") == cores)
    assert(Main.shufflePartitions("local[*,3]") == cores)
    assert(Main.shufflePartitions("spark://host:7077") == 200)
    assert(Main.shufflePartitions("yarn") == 200)
  }

  test("CLI --pk and --dms parsing") {
    val a = Main.parse(Seq("anonymize", "--dms",
      "--pk", "orders=o_orderkey;lineitem=l_orderkey,l_linenumber"))
    assert(a.dms)
    assert(a.pks == Map("orders" -> Seq("o_orderkey"),
      "lineitem" -> Seq("l_orderkey", "l_linenumber")))
  }

  test("CLI e2e: unconfigured table passes through as a byte-identical copy (no Spark rewrite)") {
    val in = java.nio.file.Files.createTempDirectory("graft_cli_in").toString
    val out = java.nio.file.Files.createTempDirectory("graft_cli_out").toString
    val cfgDir = java.nio.file.Files.createTempDirectory("graft_cli_cfg").toString
    for (tbl <- Seq("region", "supplier"))
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(sf(), s"$tbl.parquet"),
        java.nio.file.Paths.get(in, s"$tbl.parquet"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(cfgDir, "d-s-sync.toml"),
      """
      [[tables]]
      table_name = "supplier"
      [tables.anonymization_type]
      type = "Multi"
      [[tables.anonymization_type.column_transformations]]
      column_name = "s_name"
      [tables.anonymization_type.column_transformations.transformation_type]
      type = "Custom"
      operation_type = "fake_companyname_transformation"
      """)
    Main.run(Main.parse(Seq("anonymize",
      "--input-dir", in, "--output-dir", out,
      "--db-name", "d", "--schema-name", "s", "--config-dir", cfgDir)), spark)
    // region had no config entry: the fast path must COPY the file —
    // byte identity proves no decode/re-encode Spark job touched it
    // (anonymization_dataframe_operator.rs:246-258 server-side copy)
    val origBytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(in, "region.parquet"))
    val copiedBytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(out, "region.parquet"))
    assert(java.util.Arrays.equals(origBytes, copiedBytes))
    // supplier was configured: rewritten (a directory, not the same file)
    assert(new java.io.File(s"$out/supplier.parquet").isDirectory)
    assert(spark.read.parquet(s"$out/supplier.parquet")
      .select("s_name").as[String].collect()
      .forall(n => !n.startsWith("Supplier#")))
  }

  test("CLI e2e: DMS schema drift aborts the run (reference cdc_operator.rs:257-273)") {
    val in = java.nio.file.Files.createTempDirectory("graft_cli_dms").toString
    val out = java.nio.file.Files.createTempDirectory("graft_cli_dms_out").toString
    val cfgDir = java.nio.file.Files.createTempDirectory("graft_cli_dms_cfg").toString
    // LOAD file whose schema grew a column the catalog doesn't know
    val dir = s"$in/orders"
    spark.read.parquet(sf() + "/orders.parquet")
      .withColumn("o_surprise", lit("ALTER TABLE happened"))
      .coalesce(1).write.parquet(s"$dir/tmp")
    val part = new java.io.File(s"$dir/tmp").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath,
      java.nio.file.Paths.get(dir, "LOAD00000001.parquet"))
    val args = Main.parse(Seq("anonymize",
      "--input-dir", in, "--output-dir", out,
      "--db-name", "d", "--schema-name", "s", "--config-dir", cfgDir,
      "--dms", "--pk", "orders=o_orderkey",
      "--expect-cols", "orders=o_orderkey,o_custkey,o_orderstatus," +
        "o_totalprice,o_orderdate,o_orderpriority"))
    val e = intercept[Exception](Main.run(args, spark))
    // the drift error may surface wrapped by the concurrent table pool
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: chain(t.getCause)
    assert(chain(e).exists(c => c.isInstanceOf[IllegalStateException] &&
        c.getMessage.contains("o_surprise")),
      s"expected schema-drift abort naming o_surprise, got: $e")
    // and nothing was written for the drifted table
    assert(!new java.io.File(s"$out/orders.parquet").exists())

    // the symmetric direction: an expected column MISSING from the file
    // (upstream DROP COLUMN) must also abort — --expect-cols is the
    // target catalog, not just an extras blocklist
    val args2 = Main.parse(Seq("anonymize",
      "--input-dir", in, "--output-dir", out,
      "--db-name", "d", "--schema-name", "s", "--config-dir", cfgDir,
      "--dms", "--pk", "orders=o_orderkey",
      "--expect-cols", "orders=o_orderkey,o_custkey,o_orderstatus," +
        "o_totalprice,o_orderdate,o_orderpriority,o_surprise,o_dropped"))
    val e2 = intercept[Exception](Main.run(args2, spark))
    assert(chain(e2).exists(c => c.isInstanceOf[IllegalStateException] &&
        c.getMessage.contains("o_dropped")),
      s"expected missing-column abort naming o_dropped, got: $e2")

    // malformed --expect-cols entries fail with the syntax, not a MatchError
    val e3 = intercept[IllegalArgumentException](
      Main.parse(Seq("anonymize", "--expect-cols", "orders")))
    assert(e3.getMessage.contains("table=col1,col2"))
  }

  test("CLI e2e: date-aware mode aborts on a drifted CDC delta; a window excluding it passes") {
    import graft.operators.CdcMerge
    val in = java.nio.file.Files.createTempDirectory("graft_cli_da").toString
    val out = java.nio.file.Files.createTempDirectory("graft_cli_da_out").toString
    val cfgDir = java.nio.file.Files.createTempDirectory("graft_cli_da_cfg").toString
    val dir = s"$in/orders"
    def writeAs(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = s"$dir/tmp_$name"
      df.coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(dir, name))
    }
    val orders = spark.read.parquet(sf() + "/orders.parquet")
    writeAs(orders, "LOAD00000001.parquet") // clean full load
    // CDC delta dated 2024-01-05 whose schema grew a column the target
    // catalog doesn't know (reference semantics cdc_operator.rs:257-273:
    // drift on ANY read file aborts; a fresh full load is required)
    writeAs(orders.limit(5)
        .withColumn(CdcMerge.OpColumn, lit("U"))
        .withColumn(CdcMerge.TsColumn, lit(1L))
        .withColumn("o_drifted", lit("ALTER TABLE happened")),
      "20240105-000001.parquet")
    val expectCols = "orders=o_orderkey,o_custkey,o_orderstatus," +
      "o_totalprice,o_orderdate,o_orderpriority"
    def argsWith(extra: String*) = Main.parse(Seq("anonymize",
      "--input-dir", in, "--output-dir", out,
      "--db-name", "d", "--schema-name", "s", "--config-dir", cfgDir,
      "--dms", "--pk", "orders=o_orderkey",
      "--expect-cols", expectCols,
      "--mode", "date-aware") ++ extra)
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: chain(t.getCause)
    // window includes the drifted delta => abort naming the column
    val e = intercept[Exception](
      Main.run(argsWith("--start-date", "2024-01-01"), spark))
    assert(chain(e).exists(c => c.isInstanceOf[IllegalStateException] &&
        c.getMessage.contains("o_drifted") &&
        c.getMessage.contains("full load")),
      s"expected CDC-delta drift abort naming o_drifted, got: $e")
    assert(!new java.io.File(s"$out/orders.parquet").exists())
    // window EXCLUDING the drifted delta => the drift is never read and
    // the run completes from the clean LOAD alone (date filtering
    // happens at listing time, before any schema is touched)
    Main.run(argsWith("--start-date", "2024-01-01",
      "--stop-date", "2024-01-02"), spark)
    val written = spark.read.parquet(s"$out/orders.parquet")
    assert(written.count() === orders.count())
    assert(!written.columns.contains("o_drifted"))
  }

  test("CLI e2e: validations register only the tables probes name and fail on a violation") {
    assume(!sys.env.get("SKIP_VALIDATIONS").contains("true"))
    import java.nio.file.{Files, Paths}
    val in = Files.createTempDirectory("graft_cli_val_in").toString
    val out = Files.createTempDirectory("graft_cli_val_out").toString
    val root = Files.createTempDirectory("graft_cli_val_cfg")
    val cfgDir = Files.createDirectory(root.resolve("sync")).toString
    val valDir = Files.createDirectory(root.resolve("validations"))
    // vt_supplier is configured; the rest are pass-through copies of region.
    // vt_su is a prefix of two named tables; vt_unnamed appears nowhere
    val copies = Seq("vt_cte", "vt_sub", "vt_tick", "vt_mixed", "vt_su", "vt_unnamed")
    val all = "vt_supplier" +: copies
    all.foreach(spark.catalog.dropTempView)
    Files.copy(Paths.get(sf(), "supplier.parquet"), Paths.get(in, "vt_supplier.parquet"))
    copies.foreach(t => Files.copy(Paths.get(sf(), "region.parquet"), Paths.get(in, s"$t.parquet")))
    Files.writeString(Paths.get(cfgDir, "d-s-sync.toml"),
      """
      [[tables]]
      table_name = "vt_supplier"
      [tables.anonymization_type]
      type = "Multi"
      [[tables.anonymization_type.column_transformations]]
      column_name = "s_name"
      [tables.anonymization_type.column_transformations.transformation_type]
      type = "Custom"
      operation_type = "fake_companyname_transformation"
      """)
    def probe(query: String, value: Int) =
      s"""[[validations]]
         |query = "$query"
         |column_to_check = "n"
         |[validations.value_check_type]
         |type = "Equals"
         |value = "$value"
         |""".stripMargin
    val passing = Seq(
      probe("SELECT count(*) AS n FROM vt_supplier WHERE s_name LIKE 'Supplier#%'", 0),
      probe("WITH r AS (SELECT r_name FROM vt_cte) SELECT count(*) AS n FROM r", 5),
      probe("SELECT (SELECT count(*) FROM vt_sub) AS n", 5),
      probe("SELECT count(*) AS n FROM `vt_tick` WHERE r_regionkey >= 0", 5),
      probe("SELECT count(*) AS n FROM VT_Mixed", 5))
    val args = Main.parse(Seq("anonymize", "--input-dir", in, "--output-dir", out,
      "--db-name", "d", "--schema-name", "s", "--config-dir", cfgDir, "--parallelism", "3"))
    Files.writeString(valDir.resolve("d-s.toml"), passing.mkString("\n"))
    Main.run(args, spark)
    for (t <- all)
      assert(spark.catalog.tableExists(t) == !Set("vt_su", "vt_unnamed")(t), t)

    val bad = "SELECT count(*) AS n FROM vt_supplier"
    Files.writeString(valDir.resolve("d-s.toml"), (passing :+ probe(bad, 0)).mkString("\n"))
    val e = intercept[IllegalStateException](Main.run(args, spark))
    assert(e.getMessage.contains(s"query='$bad'"), e.getMessage)
    all.foreach(spark.catalog.dropTempView)
  }

  test("CLI e2e: every Spark job of a run belongs to a SQL execution (no schema-inference job)") {
    assume(!sys.env.get("SKIP_VALIDATIONS").contains("true"))
    import java.nio.file.{Files, Paths}
    import graft.operators.CdcMerge
    /** (jobs started, of which without spark.sql.execution.id) */
    def jobsOf(run: => Unit): (Int, Int) = {
      val jobs = jobsDuring(run)._2
      (jobs.size, jobs.count(e => Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).isEmpty))
    }
    val supplierCfg =
      """
      [[tables]]
      table_name = "ej_supplier"
      [tables.anonymization_type]
      type = "Multi"
      [[tables.anonymization_type.column_transformations]]
      column_name = "s_name"
      [tables.anonymization_type.column_transformations.transformation_type]
      type = "Custom"
      operation_type = "fake_companyname_transformation"
      """

    // plain layout: a configured table, a pass-through copy, probes on both
    val in = Files.createTempDirectory("graft_jobs_in").toString
    val out = Files.createTempDirectory("graft_jobs_out").toString
    val root = Files.createTempDirectory("graft_jobs_cfg")
    val cfgDir = Files.createDirectory(root.resolve("sync")).toString
    val valDir = Files.createDirectory(root.resolve("validations"))
    Files.copy(Paths.get(sf(), "supplier.parquet"), Paths.get(in, "ej_supplier.parquet"))
    Files.copy(Paths.get(sf(), "region.parquet"), Paths.get(in, "ej_region.parquet"))
    Files.writeString(Paths.get(cfgDir, "d-s-sync.toml"), supplierCfg)
    Files.writeString(valDir.resolve("d-s.toml"),
      """[[validations]]
        |query = "SELECT count(*) AS n FROM ej_supplier WHERE s_name LIKE 'Supplier#%'"
        |column_to_check = "n"
        |[validations.value_check_type]
        |type = "Equals"
        |value = "0"
        |
        |[[validations]]
        |query = "SELECT count(*) AS n FROM ej_region"
        |column_to_check = "n"
        |[validations.value_check_type]
        |type = "Equals"
        |value = "5"
        |""".stripMargin)
    val (plainJobs, plainOutside) = jobsOf(Main.run(Main.parse(Seq("anonymize",
      "--input-dir", in, "--output-dir", out, "--db-name", "d",
      "--schema-name", "s", "--config-dir", cfgDir, "--parallelism", "2")), spark))
    Seq("ej_supplier", "ej_region").foreach(spark.catalog.dropTempView)
    assert(plainJobs > 0)
    assert(plainOutside == 0,
      s"$plainOutside of $plainJobs jobs ran outside a SQL execution (plain layout)")

    // DMS layout: LOAD + CDC files, PK merge, catalog drift check
    val dmsIn = Files.createTempDirectory("graft_jobs_dms").toString
    val dmsOut = Files.createTempDirectory("graft_jobs_dms_out").toString
    val dmsCfg = Files.createTempDirectory("graft_jobs_dms_cfg").toString
    val dir = s"$dmsIn/orders"
    def writeAs(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val staged = s"$dir/tmp_$name"
      df.coalesce(1).write.parquet(staged)
      val part = new java.io.File(staged).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, Paths.get(dir, name))
    }
    val orders = spark.read.parquet(sf() + "/orders.parquet")
    writeAs(orders, "LOAD00000001.parquet")
    writeAs(orders.limit(5).withColumn(CdcMerge.OpColumn, lit("U"))
      .withColumn(CdcMerge.TsColumn, lit(1L)), "20240105-000001.parquet")
    val (dmsJobs, dmsOutside) = jobsOf(Main.run(Main.parse(Seq("anonymize",
      "--input-dir", dmsIn, "--output-dir", dmsOut, "--db-name", "d",
      "--schema-name", "s", "--config-dir", dmsCfg,
      "--dms", "--pk", "orders=o_orderkey",
      "--expect-cols", "orders=o_orderkey,o_custkey,o_orderstatus," +
        "o_totalprice,o_orderdate,o_orderpriority")), spark))
    assert(dmsJobs > 0)
    assert(dmsOutside == 0,
      s"$dmsOutside of $dmsJobs jobs ran outside a SQL execution (DMS layout)")
    assert(spark.read.parquet(s"$dmsOut/orders.parquet").count() == orders.count())
  }

  test("ngram jaccard df-cap: hot shingles dropped, rare pairs survive") {
    val hot = "common common common" // one repeated shingle everywhere
    val df = Seq((1L, s"$hot alpha beta gamma delta"),
                 (2L, s"$hot alpha beta gamma delta"),
                 (3L, s"$hot x y z w")).toDF("id", "t")
    val uncapped = graft.operators.Dedup
      .ngramJaccardPairs(df, "id", "t", n = 2, threshold = 0.1)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val capped = graft.operators.Dedup
      .ngramJaccardPairs(df, "id", "t", n = 2, threshold = 0.1,
        maxShingleDocFreq = 2)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(uncapped.contains((1L, 2L)) && uncapped.contains((1L, 3L)))
    assert(capped.contains((1L, 2L)))      // rare shared shingles remain
    assert(!capped.contains((1L, 3L)))     // only hot shingles linked 1-3
  }

  test("CLI arg parsing incl. modes and lists") {
    val a = Main.parse(Seq("anonymize",
      "--input-dir", "/in", "--output-dir", "/out",
      "--db-name", "d", "--schema-name", "s",
      "--included-tables", "x,y", "--excluded-tables", "y",
      "--mode", "date-aware", "--start-date", "20240101",
      "--parallelism", "4"))
    assert(a.inputDir == "/in" && a.dbName == "d")
    assert(a.mode == DmsFiles.DateAware(Some("20240101"), None))
    assert(Main.resolveTables(a) == Seq("x"))
    intercept[IllegalArgumentException](Main.parse(Seq("--nope", "v")))
    intercept[IllegalArgumentException](
      Main.parse(Seq("--mode", "bogus")))
  }

  test("CLI --included-tables-file is read as UTF-8, whatever the JVM's default charset") {
    val f = java.nio.file.Files.createTempFile("graft_tables", ".txt")
    java.nio.file.Files.writeString(f, "tabl\u00e9\n  x  \n\n\u00fdy\n",
      java.nio.charset.StandardCharsets.UTF_8)
    val a = Main.parse(Seq("anonymize", "--input-dir", "/in", "--output-dir", "/out",
      "--db-name", "d", "--schema-name", "s",
      "--included-tables-file", f.toString, "--excluded-tables", "x"))
    assert(Main.resolveTables(a) == Seq("tabl\u00e9", "\u00fdy"))
  }
}
