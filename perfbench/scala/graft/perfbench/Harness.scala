package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.perfbench.ListenerBus
import org.apache.spark.sql.SparkSession

import graft.app.Main

/** JVM side of the `anonymize` benchmark: one warm JVM runs the real CLI
  * flow, `Main.run(Main.parse(args), spark)`, in a closed loop with one
  * client (the next job starts when the previous one has finished).
  *
  * {{{
  * java <spark add-opens> -cp <classes>:<spark jars> graft.perfbench.Harness \
  *   --mode measure|trace --seconds 10 --nproc 4 \
  *   --args <file: Main's argv, one per line, "{out}" for the output dir> \
  *   --work <scratch dir> --result <json file> \
  *   [--warm-jobs N] [--kernel kind=path#column;...]
  * }}}
  *
  * Both modes start the session and run one untimed warm-up job (`setup_s`
  * is the time from JVM start to its end). The JIT goes on compiling for
  * several jobs after that, so `--warm-jobs` more untimed jobs follow.
  * `measure` then times jobs for `--seconds` with no listener attached;
  * `trace` runs the per-layer probes, then alternates untraced and traced
  * jobs. The timed jobs' outputs are left under `--work` for the caller's
  * checker.
  */
object Harness {

  final case class Pass(out: String, jobS: Double, cpuS: Double, gcS: Double,
                        allocMb: Double, traced: Boolean, error: Option[String],
                        startMs: Double, endMs: Double, span: Long)

  private val MinPasses = 2
  private val MaxPasses = 400

  def main(argv: Array[String]): Unit = {
    val opt = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val mode = opt("mode")
    val nproc = opt("nproc").toInt
    val seconds = opt("seconds").toDouble
    val work = opt("work")
    val template = Files.readAllLines(Paths.get(opt("args"))).asScala.toSeq
    def argsFor(out: String): Main.Args = Main.parse(template.map(_.replace("{out}", out)))

    val spark = session(nproc, work)
    val result = mutable.LinkedHashMap[String, Any](
      "spark_version" -> spark.version,
      "jvm_version" -> System.getProperty("java.vm.version"))
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    result("session_s") = (System.currentTimeMillis() - jvmStart) / 1e3
    try {
      Main.run(argsFor(s"$work/warmup"), spark)
      result("setup_s") = (System.currentTimeMillis() - jvmStart) / 1e3
      val w0 = System.nanoTime()
      (1 to opt.getOrElse("warm-jobs", "0").toInt)
        .foreach(i => Main.run(argsFor(s"$work/warm/$i"), spark))
      result("warm_s") = (System.nanoTime() - w0) / 1e9
      mode match {
        case "measure" =>
          result("passes") = loop(spark, seconds, work, argsFor, None)
        case "trace" =>
          val layers = new Layers(spark, nproc, argsFor(s"$work/walk"), work,
            parseKernel(opt.getOrElse("kernel", "")))
          val probes = layers.probe()
          val passes = loop(spark, seconds, work, argsFor, Some(layers))
          result("passes") = passes
          result("layers") = probes ++ layers.passMetrics(passes)
          result("trace_file") = layers.writeTrace(s"$work/trace.json", passes)
        case other => throw new IllegalArgumentException(s"unknown mode $other")
      }
    } finally {
      Files.writeString(Paths.get(opt("result")), Json(result.map {
        case ("passes", ps: Seq[_]) => "passes" -> ps.map { case p: Pass =>
          Map("out" -> p.out, "job_s" -> p.jobS, "cpu_s" -> p.cpuS, "gc_s" -> p.gcS,
            "alloc_mb" -> p.allocMb, "traced" -> p.traced, "error" -> p.error) }
        case kv => kv
      }))
      spark.stop()
    }
  }

  /** The session `Main.main` builds, for `local[nproc]`: shuffle
    * partitions = nproc, AQE on, UTC, no UI. Scratch space stays under
    * `work`. */
  def session(nproc: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("graft-anonymize-bench")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Heap bytes allocated so far by all threads, ended ones included. */
  private def allocBytes(): Long = ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean].getTotalThreadAllocatedBytes

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Closed loop: jobs back to back until `seconds` have passed and at
    * least [[MinPasses]] jobs ran. With `layers`, jobs alternate between
    * untraced and traced (listeners attached, spans recorded). */
  def loop(spark: SparkSession, seconds: Double, work: String,
           argsFor: String => Main.Args, layers: Option[Layers]): Seq[Pass] = {
    val passes = mutable.ArrayBuffer.empty[Pass]
    val t0 = System.nanoTime()
    while ((passes.size < MinPasses || System.nanoTime() - t0 < seconds * 1e9) &&
           passes.size < MaxPasses) {
      val out = s"$work/pass_${passes.size}"
      val traced = layers.isDefined && passes.size % 2 == 1
      val args = argsFor(out)
      if (traced) layers.get.attach()
      val (c0, g0, a0, s0) = (cpuNs(), gcMs(), allocBytes(), Spans.nowMs())
      val j0 = System.nanoTime()
      var span = -1L
      val error =
        try {
          if (traced) layers.get.spans.span("anonymize", "job", 0L) { id =>
            span = id; Main.run(args, spark) }
          else Main.run(args, spark)
          None
        } catch { case e: Exception => Some(s"${e.getClass.getName}: ${e.getMessage}") }
      val jobS = (System.nanoTime() - j0) / 1e9
      passes += Pass(out, jobS, (cpuNs() - c0) / 1e9, (gcMs() - g0) / 1e3,
        (allocBytes() - a0) / 1048576.0, traced, error, s0, Spans.nowMs(), span)
      if (traced) {
        ListenerBus.drain(spark.sparkContext)
        layers.get.detach()
      }
    }
    passes.toList
  }

  private def parseKernel(s: String): Map[String, (String, String)] =
    s.split(';').filter(_.nonEmpty).map { e =>
      val Array(kind, rest) = e.split("=", 2)
      val Array(path, column) = rest.split("#", 2)
      kind -> (path, column)
    }.toMap
}
