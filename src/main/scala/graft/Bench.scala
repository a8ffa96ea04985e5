package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one query runner: every SparkEntry query, one session, one
  * per-query lifecycle ([[runQuery]]), in one of five modes.
  *
  *  - `graft.Bench` (or `graft.Bench bench`) — the benchmark. Reads
  *    SPARK_GRAFT_SF_DIR, SPARK_GRAFT_BENCH_RUNS, SPARK_GRAFT_MAX_LOAD,
  *    SPARK_GRAFT_BENCH_REFUSE_LOADED and SPARK_GRAFT_BENCH_OUT; see
  *    [[bench]].
  *  - `graft.Bench verify <sfDir> <outDir>` — each result as parquet plus
  *    `oracle_sql.json` for the DuckDB compare (`graft.Verify` forwards
  *    here); see [[verify]].
  *  - `graft.Bench plans <sfDir> <outFile>` — every final physical plan
  *    with a one-line audit (PLANS.md); see [[plans]].
  *  - `graft.Bench explain <sfDir> <outDir> <suffix>` — formatted explain
  *    plus final plan, one file per query; see [[explain]].
  *  - `graft.Bench jobs <sfDir>` — per-Spark-job wall-time breakdown of
  *    each query; see [[jobs]].
  *
  * Every mode runs on the same session conf (`local[SPARK_GRAFT_CPUS]`,
  * default the JVM's available processors), after the same untimed
  * warm-up and fixture-drift canary, over the queries
  * SPARK_GRAFT_BENCH_ONLY selects (comma-separated; unset = all).
  */
object Bench {
  type Query = (SparkSession, String) => DataFrame

  def main(args: Array[String]): Unit = args.toList match {
    case Nil | List("bench") =>
      val env = sys.env
      val sfDir = env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
      val maxLoad = env.get("SPARK_GRAFT_MAX_LOAD")
        .flatMap(s => scala.util.Try(s.toDouble).toOption).getOrElse(2.0)
      // Load gate FIRST, before the Spark session and warmup add their
      // own burst to the 1-min average — and with patience: a caller's
      // just-finished build leg (or our own previous bench) leaves the
      // average elevated for a minute or two, so wait for decay before
      // declaring the box loaded.
      var loadStart = osBean.getSystemLoadAverage
      var waits = 0
      while (loadStart > maxLoad && waits < 20) {
        System.err.println(f"[bench] loadavg $loadStart%.2f > $maxLoad%.2f — waiting for decay (${waits + 1}/20)")
        Thread.sleep(30000)
        loadStart = osBean.getSystemLoadAverage
        waits += 1
      }
      val loadWarning = if (loadStart > maxLoad) {
        val msg = f"loadavg_start $loadStart%.2f > $maxLoad%.2f: numbers unusable for comparisons"
        System.err.println(s"[bench] WARNING: $msg")
        if (env.get("SPARK_GRAFT_BENCH_REFUSE_LOADED").contains("1")) {
          System.err.println("[bench] refusing to bench on a loaded box " +
            "(SPARK_GRAFT_BENCH_REFUSE_LOADED=1)")
          sys.exit(3)
        }
        Some(msg)
      } else None
      // min of N runs per query: background load swings single-run
      // numbers up to 10x; the min is the least-noise estimate of the
      // plan's cost
      val runs = env.get("SPARK_GRAFT_BENCH_RUNS")
        .flatMap(s => scala.util.Try(s.toInt).toOption)
        .filter(_ >= 1).getOrElse(3)
      val out = Paths.get(env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH.json"))
      withSession(sfDir)(bench(_, sfDir, _, out, cpus, runs, maxLoad,
        loadStart, loadWarning))
    case List("verify", sfDir, outDir) =>
      withSession(sfDir)(verify(_, sfDir, _, outDir))
    case List("plans", sfDir, outFile) =>
      withSession(sfDir)(plans(_, sfDir, _, outFile))
    case List("explain", sfDir, outDir, suffix) =>
      withSession(sfDir)(explain(_, sfDir, _, outDir, suffix))
    case List("jobs", sfDir) =>
      withSession(sfDir)(jobs(_, sfDir, _))
    case _ =>
      System.err.println("usage: graft.Bench [bench] | verify <sfDir> <outDir> | " +
        "plans <sfDir> <outFile> | explain <sfDir> <outDir> <suffix> | jobs <sfDir>")
      sys.exit(2)
  }

  private def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors.toString)

  /** The session every mode runs on, warmed up, over the selected
    * queries; stopped afterwards. */
  private def withSession(sfDir: String)(
      mode: (SparkSession, Seq[(String, Query)]) => Unit): Unit = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-bench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // if the fixture ships events.ts as TIMESTAMP(NANOS), read it as a
      // nanos BIGINT (exact) — SparkEntry.events dispatches on whichever
      // dtype surfaces
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      // local testdata is a single ~10MB file per table; the 128MB
      // default split => 1 task on 32 cores. Split by row group so the
      // scan parallelizes (at real scale the file count does this).
      .config("spark.sql.files.maxPartitionBytes", "1m")
      .config("spark.sql.files.openCostInBytes", "64k")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      warmUp(spark, sfDir)
      mode(spark, select(SparkEntry.queries, sys.env.get("SPARK_GRAFT_BENCH_ONLY")))
    } finally spark.stop()
  }

  /** JVM/codegen warmup so the first query doesn't pay classloading for
    * the whole SQL engine, vectorized parquet reader, shuffle and window
    * machinery; then the fixture-drift preamble, which names any schema
    * shift up front instead of leaving broken queries to explain it. */
  private def warmUp(spark: SparkSession, sfDir: String): Unit = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    spark.range(1000000).selectExpr("sum(id)").write
      .format("noop").mode("overwrite").save()
    val warm = spark.read.parquet(s"$sfDir/nation.parquet")
    warm.groupBy("n_regionkey").count().write.format("noop").mode("overwrite").save()
    warm.withColumn("rn", row_number().over(
      Window.partitionBy(col("n_regionkey")).orderBy(col("n_nationkey"))))
      .write.format("noop").mode("overwrite").save()
    graft.sources.FixtureCanary.check(spark, sfDir)
      .foreach(d => System.err.println(s"[canary] FIXTURE DRIFT: $d"))
  }

  /** The queries `only` names (comma-separated, blanks trimmed, empty
    * names dropped), by name; `None` = all of them. */
  def select(queries: Map[String, Query], only: Option[String]): Seq[(String, Query)] = {
    val names = only.map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    queries.toSeq.sortBy(_._1).filter { case (name, _) => names.forall(_.contains(name)) }
  }

  /** One run of a query: what `action` returned, its wall seconds,
    * process-cpu-seconds over wall-seconds (-1 where the JVM cannot
    * tell), and the 1-min loadavg at its start (-1 where the OS does
    * not report it). */
  private final case class Run[T](result: T, wallS: Double, cpuRatio: Double, loadAtStart: Double)

  private val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
  private def processCpuNs: Long = osBean match {
    case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime
    case _ => -1L
  }

  /** The per-query lifecycle every mode shares. Cached plans are
    * cleared first, so a run never reuses an earlier query's or run's
    * cache (library ops like IvfIndex cache()). Then the query is built
    * and `action` run on it inside a candidate scope: the dedup tier's
    * eager checkpoints are built inside the timed region (construction
    * IS part of the query's cost) and released at its end. A throw is
    * returned, not raised; the mode decides how to record it. */
  private def runQuery[T](spark: SparkSession, sfDir: String, query: Query)(
      action: DataFrame => T): Either[Throwable, Run[T]] = {
    spark.catalog.clearCache()
    val loadAtStart = osBean.getSystemLoadAverage
    val t0 = System.nanoTime()
    val cpu0 = processCpuNs
    try {
      val result = graft.operators.Dedup.withCandidateScope(action(query(spark, sfDir)))
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu1 = processCpuNs
      val cpuRatio =
        if (cpu0 >= 0 && cpu1 >= 0 && wall > 0) (cpu1 - cpu0) / 1e9 / wall
        else -1.0
      Right(Run(result, wall, cpuRatio, loadAtStart))
    } catch { case e: Throwable => Left(e) }
  }

  /** The benchmark: each query forced through the `noop` sink — a real
    * write of every row with no I/O, so projections (fakers,
    * fingerprints, features) are fully computed; a bare count() would
    * let Catalyst prune exactly the work being measured — min over
    * `runs` successful runs. A query with no successful run is omitted
    * (its failures go to stderr): absence is diagnosable, a fake timing
    * is not.
    *
    * Prints the full JSON line with per-query seconds, cpu/wall ratio
    * and start loadavg, then a COMPACT totals-only line (same
    * `metric`/`value`/`unit`/`sf` keys) as the LAST stdout line. The
    * full line also goes to `out` and to a stamped
    * `BENCH_c<cpus>_<sf>.json` (`<sf>` the basename of `sfDir`, e.g.
    * BENCH_c8_sf0.1.json) next to it, so runs at other core counts or
    * scales never clobber each other; the compact line's `queries_file`
    * names it. The full line is ~25 KB for 351 queries, and a consumer
    * that keeps only a log tail starts mid-line and can parse nothing. */
  def bench(spark: SparkSession, sfDir: String, queries: Seq[(String, Query)],
            out: Path, cpus: String, runs: Int, maxLoad: Double,
            loadStart: Double, loadWarning: Option[String]): Unit = {
    // min over SUCCESSFUL runs only: a failing run fails fast, and its
    // elapsed time would be a bogus small number for a broken query
    def timeQuery(name: String, query: Query): Option[Run[Unit]] =
      (1 to runs).flatMap { _ =>
        runQuery(spark, sfDir, query)(_.write.format("noop").mode("overwrite").save()) match {
          case Right(r) => Some(r)
          case Left(e) =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
            None
        }
      }.sortBy(_.wallS).headOption
    val firstPass = queries.flatMap { case (name, query) =>
      timeQuery(name, query) match {
        case None =>
          System.err.println(s"[bench] $name: no successful run; omitted")
          None
        case Some(t) => Some(name -> t)
      }
    }
    // Contended-query re-time: a mid-run load burst poisons exactly the
    // queries it overlaps. Any query whose CHOSEN run started clearly
    // above the run's own load floor gets one more min-of-N after the
    // burst decays; the overall min of all successful runs ships. The
    // gate is ADAPTIVE: a running bench keeps the 1-min loadavg at 2–6
    // by itself, so an absolute threshold flags nearly every query; an
    // EXTERNAL burst stands out against the run's own median — retry
    // only above max(maxLoad, 2×median). Bounded: one retry pass, ≤10
    // min decay wait. Samples of -1 (not reported) carry no load and
    // must not drag the median down.
    val chosenLoads = firstPass.map(_._2.loadAtStart).filter(_ >= 0).sorted
    val medianLoad =
      if (chosenLoads.isEmpty) 0.0 else chosenLoads(chosenLoads.size / 2)
    val retryGate = math.max(maxLoad, 2.0 * medianLoad)
    val contended = firstPass.filter(_._2.loadAtStart > retryGate).map(_._1)
    val results =
      if (contended.isEmpty) firstPass
      else {
        System.err.println(f"[bench] ${contended.size} queries ran contended " +
          f"(loadavg > $retryGate%.1f = max(gate, 2x median " +
          f"$medianLoad%.1f)); waiting for decay, then re-timing: " +
          contended.mkString(", "))
        var w = 0
        while (osBean.getSystemLoadAverage > maxLoad && w < 20) {
          Thread.sleep(30000); w += 1
        }
        val byName = queries.toMap
        firstPass.map { case (name, best) =>
          if (best.loadAtStart <= retryGate) name -> best
          else timeQuery(name, byName(name)) match {
            case Some(retry) if retry.wallS < best.wallS => name -> retry
            case _ => name -> best
          }
        }
      }
    def perQuery(f: Run[Unit] => String) = Json.obj(results.map { case (k, r) => k -> f(r) })
    val total = results.map(_._2.wallS).sum
    val loadEnd = osBean.getSystemLoadAverage
    val load = Json.obj(Seq("loadavg_start" -> f"$loadStart%.2f",
      "loadavg_end" -> f"$loadEnd%.2f", "cpus" -> cpus))
    val head = Seq("metric" -> Json.str("total"), "value" -> f"$total%.3f",
      "unit" -> Json.str("sec")) ++ loadWarning.map(w => "load_warning" -> Json.str(w))
    val line = Json.obj(head ++ Seq(
      "queries" -> perQuery(r => f"${r.wallS}%.3f"),
      "cpu_ratio" -> perQuery(r => f"${r.cpuRatio}%.2f"),
      "loadavg" -> perQuery(r => f"${r.loadAtStart}%.2f"),
      "load" -> load, "sf" -> Json.str(sfDir)))
    println(line)
    val stamped = out.resolveSibling(
      s"BENCH_c${cpus}_${Paths.get(sfDir).getFileName}.json").toString
    Seq(out.toString, stamped).distinct.foreach { p =>
      Files.write(Paths.get(p), (line + "\n").getBytes("UTF-8"))
    }
    println(Json.obj(head ++ Seq("n_queries" -> results.size.toString,
      "queries_file" -> Json.str(stamped), "load" -> load, "sf" -> Json.str(sfDir))))
  }

  /** The correctness dump: each result → `<outDir>/<query>/` as one
    * parquet file, plus `oracle_sql.json` (every oracle, selected or
    * not) for the DuckDB compare. A failed query leaves a directory
    * holding only an `_ERROR` marker, so every downstream reader fails
    * loudly on it instead of the query silently vanishing. */
  def verify(spark: SparkSession, sfDir: String, queries: Seq[(String, Query)],
             outDir: String, oracles: Map[String, String] = SparkEntry.oracleSql): Unit = {
    Files.createDirectories(Paths.get(outDir))
    queries.foreach { case (name, query) =>
      runQuery(spark, sfDir, query)(
        _.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      ).left.foreach { e =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        val d = Paths.get(s"$outDir/$name")
        if (Files.exists(d)) { // drop any partial write output first
          import scala.jdk.CollectionConverters._
          Files.walk(d).sorted(java.util.Comparator.reverseOrder())
            .iterator().asScala.foreach(Files.delete)
        }
        Files.createDirectories(d)
        Files.writeString(d.resolve("_ERROR"), s"${e.getClass.getName}: ${e.getMessage}\n")
      }
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), Json.obj(oracles.toSeq.map {
      case (k, v) => k -> Json.str(v) }, colon = ": "))
  }

  /** The query's FINAL physical plan. Runs the query's own
    * QueryExecution first (toRdd, not a write command, which would plan
    * its own): AQE finalizes at runtime, so the plan shows the REAL shape
    * (whole-stage codegen spans, runtime broadcast conversions, coalesced
    * partitions) instead of isFinalPlan=false placeholders. The
    * pre-execution "Initial Plan" section is cut off. */
  private def finalPlan(df: DataFrame): String = {
    df.queryExecution.toRdd.count()
    val full = df.queryExecution.executedPlan.toString
    full.indexOf("== Initial Plan ==") match {
      case -1 => full
      case i => full.substring(0, i)
    }
  }

  /** Plans can embed literal control chars (e.g. the \x00 in the
    * null-byte sanitizer's contains()); keep the file text. */
  private def scrub(s: String): String =
    s.map(c => if (c >= ' ' || c == '\n' || c == '\t') c else '?')

  /** Every query's final plan (first 40 lines) under a `## <query>
    * [flags]` heading, to `outFile`. Flags: `codegen` = whole-stage
    * codegen present; `pushdown` = non-empty PushedFilters; `bcast` =
    * broadcast join; `<n>ex` = shuffle exchange count. A query that
    * fails gets a FAILED TO PLAN section. */
  def plans(spark: SparkSession, sfDir: String, queries: Seq[(String, Query)],
            outFile: String): Unit = {
    val sb = new StringBuilder
    sb ++= s"# Physical plans — every SparkEntry query at $sfDir\n\n"
    sb ++= "Generated by `graft.Bench plans`. Audit flags: `codegen` =\n"
    sb ++= "WholeStageCodegen stages present; `pushdown` = non-empty\n"
    sb ++= "PushedFilters; `bcast` = broadcast join; `#ex` = shuffle\n"
    sb ++= "exchange count.\n\n"
    queries.foreach { case (name, query) =>
      runQuery(spark, sfDir, query)(finalPlan) match {
        case Right(Run(plan, _, _, _)) =>
          val nExchange = "(?<!Broadcast)Exchange".r.findAllIn(plan).length
          val flags = Seq(
            if (plan.contains("*(")) Some("codegen") else None,
            if (plan.contains("PushedFilters: [") &&
                !plan.contains("PushedFilters: []")) Some("pushdown") else None,
            if (plan.contains("Broadcast")) Some("bcast") else None,
            Some(s"${nExchange}ex")).flatten.mkString(", ")
          sb ++= s"## $name  `[$flags]`\n\n```\n"
          sb ++= scrub(plan.linesIterator.take(40).mkString("\n"))
          sb ++= "\n```\n\n"
        case Left(e) => sb ++= s"## $name\n\nFAILED TO PLAN: ${e.getMessage}\n\n"
      }
    }
    Files.writeString(Paths.get(outFile), sb.toString)
    println(s"[plans] wrote $outFile (${queries.size} plans)")
  }

  /** `explain("formatted")` followed by the final adaptive plan, to
    * `<outDir>/<query>_<suffix>.txt` per query — before/after plan
    * evidence for an optimization. */
  def explain(spark: SparkSession, sfDir: String, queries: Seq[(String, Query)],
              outDir: String, suffix: String): Unit = {
    Files.createDirectories(Paths.get(outDir))
    queries.foreach { case (name, query) =>
      runQuery(spark, sfDir, query) { df =>
        val formatted = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        s"== explain(formatted) — $name at $sfDir ==\n\n$formatted\n\n" +
          s"== Final adaptive plan (post-execution) ==\n\n${finalPlan(df)}"
      } match {
        case Right(r) =>
          val file = s"$outDir/${name}_$suffix.txt"
          Files.writeString(Paths.get(file), scrub(r.result))
          println(s"[explain] wrote $file")
        case Left(e) => System.err.println(s"[explain] $name FAILED: ${e.getMessage}")
      }
    }
  }

  /** Per-job wall-time breakdown of each query — every Spark job's
    * duration and description plus the driver-side gaps between jobs,
    * so "many tiny materialization jobs" vs "one slow stage" shows from
    * the console. Run 1 is a warm-up (codegen, classloading), run 2 is
    * the one printed. */
  def jobs(spark: SparkSession, sfDir: String, queries: Seq[(String, Query)]): Unit = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
    final case class J(id: Int, start: Long, var end: Long, desc: String)
    val seen = new scala.collection.mutable.ArrayBuffer[J]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = seen.synchronized {
        seen += J(e.jobId, e.time, -1L, Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse(""))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = seen.synchronized {
        seen.find(_.id == e.jobId).foreach(_.end = e.time)
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try queries.foreach { case (name, query) =>
      (1 to 2).foreach { run =>
        seen.synchronized(seen.clear())
        val t0 = System.currentTimeMillis()
        val res = runQuery(spark, sfDir, query)(_.write.format("noop").mode("overwrite").save())
        val t1 = System.currentTimeMillis()
        res match {
          case Left(e) => System.err.println(s"[jobs] $name run $run FAILED: ${e.getMessage}")
          case Right(_) if run == 2 =>
            val js = seen.synchronized(seen.toList).sortBy(_.start)
            println(s"== $name: total ${t1 - t0} ms, ${js.size} jobs ==")
            var prev = t0
            js.foreach { j =>
              val dur = if (j.end > 0) j.end - j.start else -1
              println(f"  job ${j.id}%3d  gap ${j.start - prev}%5d ms  dur $dur%5d ms  ${j.desc.take(80)}")
              prev = if (j.end > 0) j.end else j.start
            }
            println(f"  tail gap ${t1 - prev}%5d ms")
          case _ =>
        }
      }
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** The one JSON writer: values are JSON fragments, keys and strings go
    * through [[str]]. */
  private object Json {
    /** A JSON string literal. Escapes backslash, quote and ALL control
      * chars (<0x20): a tab or CR in a SQL string would otherwise make a
      * consumer's parser fail on the whole file. */
    def str(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

    def obj(fields: Iterable[(String, String)], colon: String = ":"): String =
      fields.map { case (k, v) => str(k) + colon + v }.mkString("{", ",", "}")
  }
}
