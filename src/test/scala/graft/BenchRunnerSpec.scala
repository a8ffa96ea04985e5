package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

/** The query runner's modes over an injected two-query map: one real
  * query and one that throws. */
class BenchRunnerSpec extends SparkTestBase {
  private val queries: Seq[(String, Bench.Query)] = Seq(
    "q1_agg" -> SparkEntry.queries("q1_agg"),
    "q_broken" -> ((_, _) => throw new IllegalStateException("broken on purpose")))
  private val json = new ObjectMapper()
  private def tmp(prefix: String): Path = Files.createTempDirectory(prefix)
  private def list(d: Path): Seq[String] =
    Files.list(d).iterator().asScala.map(_.getFileName.toString).toSeq.sorted

  test("bench: good query timed, failing one omitted, compact line last and parseable") {
    val dir = tmp("graft_bench")
    val stdout = new java.io.ByteArrayOutputStream
    Console.withOut(stdout) {
      Bench.bench(spark, sf(), queries, dir.resolve("BENCH.json"), cpus = "4",
        runs = 1, maxLoad = 2.0, loadStart = 0.0, loadWarning = None)
    }
    val lines = stdout.toString("UTF-8").split("\n").filter(_.nonEmpty)
    val compact = json.readTree(lines.last)
    assert(compact.get("metric").asText == "total")
    assert(compact.get("n_queries").asInt == 1)
    assert(compact.get("sf").asText == sf())
    val stamped = dir.resolve("BENCH_c4_sf0.001.json")
    assert(compact.get("queries_file").asText == stamped.toString)
    assert(compact.get("load").get("cpus").asInt == 4)

    val full = Files.readString(stamped).trim
    assert(full == Files.readString(dir.resolve("BENCH.json")).trim)
    assert(full == lines(lines.length - 2))
    val doc = json.readTree(full)
    assert(doc.get("queries").size == 1)
    assert(doc.get("queries").get("q1_agg").asDouble > 0)
    assert(doc.get("cpu_ratio").has("q1_agg") && doc.get("loadavg").has("q1_agg"))
    // number formats: seconds to 3 decimals, ratios and loads to 2
    assert(full.matches(""".*"value":\d+\.\d{3},.*"""))
    assert(full.matches(""".*"queries":\{"q1_agg":\d+\.\d{3}\}.*"""))
    assert(full.matches(""".*"cpu_ratio":\{"q1_agg":-?\d+\.\d{2}\}.*"""))
  }

  test("verify: parquet for the good query, only _ERROR for the failing one; oracle json round-trips") {
    val out = tmp("graft_verify")
    val tricky = "SELECT '\"q\" \\ back\ttab\rcr\u0001ctl' AS s"
    val oracles = Map("q1_agg" -> SparkEntry.oracleSql("q1_agg"), "q_tricky" -> tricky)
    Bench.verify(spark, sf(), queries, out.toString, oracles)

    assert(list(out.resolve("q1_agg")).exists(_.endsWith(".parquet")))
    assert(spark.read.parquet(out.resolve("q1_agg").toString).count() ==
      SparkEntry.queries("q1_agg")(spark, sf()).count())
    assert(list(out.resolve("q_broken")) == Seq("_ERROR"))
    assert(Files.readString(out.resolve("q_broken/_ERROR")).contains("broken on purpose"))

    val parsed = json.readValue(Files.readString(out.resolve("oracle_sql.json")),
      classOf[java.util.Map[String, String]])
    assert(parsed.asScala.toMap == oracles)
  }

  test("plans: a flagged section for the good query, FAILED TO PLAN for the failing one") {
    val file = tmp("graft_plans").resolve("PLANS.md")
    Bench.plans(spark, sf(), queries, file.toString)
    val text = Files.readString(file)
    assert(text.contains("Generated by `graft.Bench plans`"))
    assert(text.contains("## q1_agg  `["))
    assert(text.contains("AdaptiveSparkPlan isFinalPlan=true"))
    assert(text.contains("## q_broken\n\nFAILED TO PLAN: broken on purpose"))
  }

  test("selection: names trimmed, blanks dropped, unset selects all in name order") {
    val all: Map[String, Bench.Query] = queries.toMap
    assert(Bench.select(all, None).map(_._1) == Seq("q1_agg", "q_broken"))
    assert(Bench.select(all, Some(" q_broken , ,q1_agg ")).map(_._1) == Seq("q1_agg", "q_broken"))
    assert(Bench.select(all, Some(" q1_agg,, ")).map(_._1) == Seq("q1_agg"))
    assert(Bench.select(all, Some(" , ")).isEmpty)
  }
}
