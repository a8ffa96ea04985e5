package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.perfbench.ListenerBus
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.app.Main
import graft.config.{AnonymizationConfig, AnonymizationType, ConfigLoader, TableConfig, Validations}
import graft.fakegen.FakeGen
import graft.functions.anon
import graft.pipeline.{TablePipeline, Validator}
import graft.sources.DmsFiles

/** Per-layer probes of the traced run. Every layer is timed from outside
  * the program: by calling its public functions (the same calls
  * `Main.run` makes, one layer at a time) and by reading Spark's
  * listener data. Layers are named by module: `kernel` (FakeGen), `expr`
  * (FakeExpr through codegen), `config` (ConfigLoader), `sources`
  * (DmsFiles), `app` (the table pool), `pipeline` (build, write, copy),
  * `validator` (Validator), and Spark's `plan`, `exec`, `shuffle` and
  * `sink` under them. */
final class Layers(spark: SparkSession, nproc: Int, a: Main.Args, work: String,
                   kernelValues: Map[String, (String, String)]) {

  private val sc = spark.sparkContext
  val collector = new Collector
  val plans = new PlanListener
  val spans = new Spans(sc)
  private val seed = sys.env.get("RNG_SEED").map(_.toLong).getOrElse(FakeGen.DefaultSeed)
  private val metrics = mutable.LinkedHashMap.empty[String, Double]

  def attach(): Unit = {
    sc.addSparkListener(collector)
    spark.listenerManager.register(plans)
  }

  def detach(): Unit = {
    sc.removeSparkListener(collector)
    spark.listenerManager.unregister(plans)
  }

  private def secs[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  private def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.ceil(q * s.size).toInt - 1 max 0))
    }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  // ---- kernel and expr ------------------------------------------------

  private val kinds: Seq[(String, String => String, Column => Column)] = Seq(
    ("first_name", FakeGen.firstName(_, seed), anon.fakeFirstName(_, seed)),
    ("last_name", FakeGen.lastName(_, seed), anon.fakeLastName(_, seed)),
    ("name", FakeGen.fullName(_, seed), anon.fakeName(_, seed)),
    ("company_name", FakeGen.companyName(_, seed), anon.fakeCompanyName(_, seed)),
    ("email", FakeGen.email(_, seed), anon.fakeEmail(_, seed)),
    ("address", FakeGen.address(_, seed), anon.fakeAddress(_, seed)),
    ("uuid", FakeGen.uuid(_, seed), anon.fakeUuid(_, seed)),
    ("phone", FakeGen.phone(_, seed), anon.fakePhone(_, seed)),
    ("multi_email", FakeGen.multiEmail(_, seed),
      c => anon.fakeMultiEmail(concat(lit("{"), c, lit("@a.test,"), c, lit("@b.test}")), seed)))

  /** ns per row of each FakeGen kernel, one thread, no Spark, over the
    * workload's own input values. */
  private def kernelBench(): Unit = kinds.foreach { case (kind, f, _) =>
    val (path, column) = kernelValues(kind)
    val values = spark.read.parquet(path).select(col(column))
      .where(col(column).isNotNull && col(column) =!= "").limit(20000)
      .collect().map(_.getString(0))
    def pass(): Unit = { var i = 0; while (i < values.length) { checksum += f(values(i)).length; i += 1 } }
    def loop(ns: Long): Long = {
      var rows = 0L
      val t0 = System.nanoTime()
      while (System.nanoTime() - t0 < ns) { pass(); rows += values.length }
      rows
    }
    loop(250000000L)   // until the JIT has compiled the kernel
    val t0 = System.nanoTime()
    val rows = loop(250000000L)
    metrics(s"kernel.$kind.ns_per_row") = (System.nanoTime() - t0).toDouble / rows
  }

  /** Sum of the kernels' output lengths: a field, so the JIT cannot drop
    * the timed calls as dead code. */
  var checksum = 0L

  /** rows/s of each kind as a codegen'd Catalyst expression:
    * range -> cast -> fake -> noop, on all cores. */
  private def exprBench(): Unit = kinds.foreach { case (kind, _, e) =>
    val n = 1000000L
    val df = spark.range(0, n, 1, nproc).select(e(col("id").cast("string")).as("v"))
    noop(df)
    val ts = (1 to 3).map(_ => secs(noop(df))._2)
    metrics(s"expr.$kind.rows_per_s") = n / median(ts)
  }

  // ---- the layer walk -------------------------------------------------

  /** `Main.run`'s flow taken apart, each layer's public call timed. */
  private def walk(): Unit = spans.span("walk", "job", 0L) { job =>
    val raw = ConfigLoader.loadAnonymizationFor(a.configDir, a.dbName, a.schemaName)
    metrics("config.load_s") = median((1 to 5).map(_ =>
      secs(ConfigLoader.loadAnonymizationFor(a.configDir, a.dbName, a.schemaName))._2))
    val config =
      if (sys.env.get("RECORD_REDUCTION_ENABLED").contains("true")) raw
      else AnonymizationConfig(raw.tables.map(_.copy(keepNumOfRecords = None)))
    val tables = sources(config)
    val out = s"$work/walk"
    app(job, config, tables, out)
    validator(job, tables, out)
    phases(job, config, tables)
  }

  private def tableDir(t: String) =
    if (a.dms) s"${a.inputDir}/$t" else s"${a.inputDir}/$t.parquet"

  /** Times the program's own listing calls: `Main.resolveTables`, then
    * per table `DmsFiles.list` (DMS layout) or the Spark file index that
    * `TablePipeline.runAll`'s read builds (configured tables of a plain
    * layout; unconfigured ones are listed inside the copy, which
    * `pipeline.copy_s` times). On a DMS layout `files_listed` counts every
    * file `DmsFiles.list` saw, `files_selected` those the mode keeps. */
  private def sources(config: AnonymizationConfig): Seq[String] = {
    var selected = 0L
    val (tables, listS) = secs {
      val tables = Main.resolveTables(a)
      tables.foreach { t =>
        if (a.dms) {
          val sel = DmsFiles.list(spark, tableDir(t), a.mode)
          selected += sel.loadFiles.size + sel.cdcFiles.size
        } else if (config.tableConfig(t).nonEmpty)
          selected += spark.read.parquet(tableDir(t)).inputFiles.length
      }
      tables
    }
    val listed = if (!a.dms) selected else tables.map { t =>
      val all = DmsFiles.list(spark, tableDir(t), DmsFiles.AbsolutePath)
      (all.loadFiles.size + all.cdcFiles.size).toLong
    }.sum
    metrics("sources.list_s") = listS
    metrics("sources.files_listed") = listed.toDouble
    metrics("sources.files_selected") = selected.toDouble
    tables
  }

  private def cfgFor(config: AnonymizationConfig, t: String): TableConfig =
    config.tableConfig(t).getOrElse(TableConfig(t, AnonymizationType.Multi(Nil)))

  private def snapshot(t: String): DataFrame = DmsFiles.snapshot(spark, tableDir(t),
    a.pks(t), a.mode, expectedColumns = a.expectCols.get(t).map(_.toSet))

  /** The table pool as `Main.run` drives it, each table's busy time timed. */
  private def app(job: Long, config: AnonymizationConfig, tables: Seq[String], out: String): Unit = {
    val busy = mutable.ArrayBuffer.empty[Double]
    var failed = 0
    val (_, wall) = secs(TablePipeline.foreachTableConcurrently(tables, a.parallelism) { t =>
      val (ok, s) = secs(spans.span(t, "table", job) { tid =>
        spans.span("anonymize", "phase", tid) { _ =>
          try {
            if (a.dms)
              TablePipeline.build(snapshot(t), cfgFor(config, t), seed)
                .write.mode("overwrite").parquet(s"$out/$t.parquet")
            else
              TablePipeline.runAll(spark, config, a.inputDir, out, Seq(t), seed, 1)
            true
          } catch { case _: Exception => false }
        }
      })
      synchronized { busy += s; if (!ok) failed += 1 }
    })
    metrics("app.tables") = tables.size.toDouble
    metrics("app.tables_failed") = failed.toDouble
    metrics("app.table_s_p50") = quantile(busy.toSeq, 0.5)
    metrics("app.table_s_p80") = quantile(busy.toSeq, 0.8)
    metrics("app.pool_busy_ratio") = busy.sum / (a.parallelism * wall)
  }

  /** `Main.run`'s validation step: register every output as a view, then
    * run each probe through `Validator.run`. */
  private def validator(job: Long, tables: Seq[String], out: String): Unit = {
    val path = Paths.get(a.configDir, "..", "validations", s"${a.dbName}-${a.schemaName}.toml")
    val probes = if (Files.exists(path))
      ConfigLoader.parseValidations(Files.readString(path)).validations else Nil
    val (_, viewsS) = secs(tables.foreach(t =>
      spark.read.parquet(s"$out/$t.parquet").createOrReplaceTempView(t)))
    val probeS = probes.map(v => secs(spans.span("probe", "phase", job) { _ =>
      Validator.run(spark, Validations(Seq(v)))
    })._2)
    metrics("validator.probes") = probes.size.toDouble
    metrics("validator.views_s") = viewsS
    metrics("validator.probe_s_p50") = median(probeS)
    metrics("validator.s") = viewsS + probeS.sum
  }

  /** Scan, merge, transform and write split by timing the same plan
    * several ways, one table at a time: into `noop` after the read (and
    * after the CDC merge), into `noop` after `TablePipeline.build`, and
    * into Parquet. Unconfigured tables time the pass-through copy. Each
    * is the faster of two runs into an emptied output directory. */
  private def phases(job: Long, config: AnonymizationConfig, tables: Seq[String]): Unit = {
    val out = s"$work/phases"
    val fs = new Path(out).getFileSystem(sc.hadoopConfiguration)
    var scan, merge, transform, write, copy = 0.0
    val writeSpans = mutable.ArrayBuffer.empty[Long]
    tables.foreach(t => spans.span(t, "table", job) { tid =>
      def phase(name: String)(f: => Unit): Double =
        spans.span(name, "phase", tid) { id =>
          if (name == "write") writeSpans += id
          (1 to 2).map { _ => fs.delete(new Path(s"$out/$t.parquet"), true); secs(f)._2 }.min
        }
      if (!a.dms && config.tableConfig(t).isEmpty) {
        copy += phase("copy")(TablePipeline.runAll(spark, config, a.inputDir, out, Seq(t), seed, 1))
      } else {
        val cfg = cfgFor(config, t)
        val input: () => DataFrame = if (a.dms) () => snapshot(t)
                                     else () => spark.read.parquet(tableDir(t))
        val s = phase("scan") {
          if (a.dms) {
            val f = DmsFiles.list(spark, tableDir(t), a.mode)
            noop(spark.read.parquet(f.loadFiles: _*))
            if (f.cdcFiles.nonEmpty) noop(spark.read.parquet(f.cdcFiles: _*))
          } else noop(input())
        }
        val m = if (a.dms) phase("merge")(noop(input())) else s
        val b = phase("transform")(noop(TablePipeline.build(input(), cfg, seed)))
        val w = phase("write")(TablePipeline.build(input(), cfg, seed)
          .write.mode("overwrite").parquet(s"$out/$t.parquet"))
        scan += s; merge += math.max(0, m - s)
        transform += math.max(0, b - m); write += math.max(0, w - b)
      }
    })
    ListenerBus.drain(sc)
    val w = writeSpans.map(collector.spanAgg)
    metrics("pipeline.scan_s") = scan
    metrics("pipeline.merge_s") = merge
    metrics("pipeline.transform_s") = transform
    metrics("pipeline.write_s") = write
    metrics("pipeline.copy_s") = copy
    metrics("pipeline.rows_out_ratio") =
      w.map(_.outRows).sum.toDouble / math.max(1L, w.map(_.inRows).sum)
  }

  /** Kernel, expr and the layer walk; returns their metrics. */
  def probe(): Map[String, Double] = {
    kernelBench()
    attach()
    try {
      exprBench()
      walk()
    } finally {
      ListenerBus.drain(sc)
      detach()
    }
    metrics.toMap
  }

  // ---- metrics of the traced jobs -------------------------------------

  /** Per-job Spark metrics of the traced `Main.run` jobs (medians), and
    * the tracing overhead against the untraced jobs. */
  def passMetrics(passes: Seq[Harness.Pass]): Map[String, Double] = {
    val per = passes.filter(p => p.traced && p.error.isEmpty).map { p =>
      val t = collector.spanAgg(p.span)
      val q = plans.within(p.startMs, p.endMs)
      Map(
        "plan.actions" -> q.size.toDouble,
        "plan.analysis_s" -> q.map(_.analysisMs).sum / 1e3,
        "plan.optimization_s" -> q.map(_.optimizationMs).sum / 1e3,
        "plan.planning_s" -> q.map(_.planningMs).sum / 1e3,
        "exec.jobs" -> t.jobs.toDouble,
        "exec.stages" -> t.stages.toDouble,
        "exec.tasks" -> t.tasks.toDouble,
        "exec.task_run_s" -> t.runMs / 1e3,
        "exec.task_cpu_s" -> t.cpuNs / 1e9,
        "exec.gc_s" -> p.gcS,
        "exec.core_busy_ratio" -> t.runMs / 1e3 / (nproc * p.jobS),
        "exec.task_skew" -> t.taskSkew,
        "exec.task_failures" -> t.failures.toDouble,
        "shuffle.write_bytes" -> t.shuffleWrite.toDouble,
        "shuffle.read_bytes" -> t.shuffleRead.toDouble,
        "shuffle.spill_bytes" -> t.spill.toDouble,
        "sink.rows_written" -> t.outRows.toDouble,
        "sink.bytes_written" -> t.outBytes.toDouble,
        "sink.files_written" -> q.map(_.files).sum.toDouble,
        "sink.commit_s" -> q.map(_.commitMs).sum / 1e3,
        "sources.scan_rows" -> t.inRows.toDouble,
        "sources.scan_bytes" -> q.map(_.scanBytes).sum.toDouble)
    }
    val keys = per.headOption.map(_.keys.toSeq).getOrElse(Nil)
    keys.map(k => k -> median(per.map(_(k)))).toMap +
      ("trace.overhead_ratio" -> overhead(passes))
  }

  /** Median over traced jobs of their time over the mean time of the
    * untraced jobs just before and after, which cancels the slow drift
    * of a warming JVM. */
  private def overhead(passes: Seq[Harness.Pass]): Double = median(
    passes.indices.filter(i => passes(i).traced).flatMap { i =>
      val around = Seq(i - 1, i + 1).filter(j => passes.indices.contains(j) && !passes(j).traced)
      if (around.isEmpty) None
      else Some(passes(i).jobS / (around.map(passes(_).jobS).sum / around.size))
    })

  /** Writes the spans (job -> table -> phase -> Spark action) of this run
    * as JSON. Spark actions of traced `Main.run` jobs are grouped under
    * the table whose output they write or read. */
  def writeTrace(file: String, passes: Seq[Harness.Pass]): String = {
    val all = spans.all
    val tables = Main.resolveTables(a)
    val derived = mutable.ArrayBuffer.empty[Span]
    val execs = collector.executions.filter(e => e.endMs >= 0 && e.span >= 0)
    execs.groupBy(_.span).foreach { case (parent, xs) =>
      val grouped: Seq[(Long, Execution)] =
        if (!passes.exists(_.span == parent)) xs.map(parent -> _)
        else xs.groupBy(e => tables.find(t => e.plan.contains(s"/$t.parquet")).getOrElse("?"))
          .toSeq.flatMap { case (t, es) =>
            val tid = spans.newId()
            derived += Span(tid, parent, t, "table",
              es.map(_.startMs).min.toDouble, es.map(_.endMs).max.toDouble)
            es.groupBy(e => if (e.plan.contains("InsertIntoHadoopFsRelationCommand")) "write"
                            else "validate").toSeq.flatMap { case (ph, pes) =>
              val pid = spans.newId()
              derived += Span(pid, tid, ph, "phase",
                pes.map(_.startMs).min.toDouble, pes.map(_.endMs).max.toDouble)
              pes.map(pid -> _)
            }
          }
      grouped.foreach { case (p, e) =>
        val m = collector.execAgg(e.id)
        derived += Span(spans.newId(), p, e.desc.take(120), "action", e.startMs.toDouble,
          e.endMs.toDouble, Map("jobs" -> m.jobs, "tasks" -> m.tasks, "task_run_ms" -> m.runMs,
            "shuffle_write_bytes" -> m.shuffleWrite, "output_rows" -> m.outRows))
      }
    }
    val doc = Map(
      "run_id" -> spans.runId,
      "spans" -> (all ++ derived).sortBy(_.startMs).map(s => Map(
        "run_id" -> spans.runId, "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "kind" -> s.kind, "start_ms" -> s.startMs, "end_ms" -> s.endMs, "attrs" -> s.attrs)),
      "passes" -> passes.map(p => Map("job_s" -> p.jobS, "traced" -> p.traced, "span" -> p.span)))
    Files.writeString(Paths.get(file), Json(doc))
    file
  }
}
