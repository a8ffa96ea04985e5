package graft

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch}

import scala.jdk.CollectionConverters._

import graft.app.Main
import graft.config.{Validation, Validations, ValueCheck}
import graft.pipeline.{TablePipeline, Validator}

/** The driver pool (`TablePipeline.mapConcurrently`) and what runs on it
  * in the validation phase: ordered results, fail-fast shutdown, ordered
  * concurrent probes, and the probe-SQL table matcher. */
class ConcurrentValidationSpec extends SparkTestBase {
  import ConcurrentValidationSpec._

  test("mapConcurrently returns results in input order, whatever finishes first") {
    val got = TablePipeline.mapConcurrently(Seq(200, 150, 100, 50, 0), 4) { ms =>
      Thread.sleep(ms.toLong); ms * 2
    }
    assert(got == Seq(400, 300, 200, 100, 0))
    assert(TablePipeline.mapConcurrently(Seq.empty[Int], 3)(identity).isEmpty)
  }

  test("mapConcurrently fails fast: no queued item starts, running ones finish first") {
    val started, finished = ConcurrentHashMap.newKeySet[Int]()
    val failedOnce = new CountDownLatch(1)
    val boom = new IllegalStateException("boom")
    val e = intercept[IllegalStateException] {
      TablePipeline.mapConcurrently(0 until 6, 2) { i =>
        started.add(i)
        try i match {
          case 0 => Thread.sleep(20); failedOnce.countDown(); throw boom
          case 1 => failedOnce.await(); Thread.sleep(300) // still running at the throw
          case _ => Thread.sleep(300)
        } finally finished.add(i)
      }
    }
    assert(e eq boom, "the original exception, unwrapped")
    assert(started.asScala == Set(0, 1), "no queued item may start after the failure")
    assert(finished.asScala == started.asScala,
      "every started item must finish before the call throws")
  }

  test("Validator.run keeps declaration order; runOrThrow names the first declared failure") {
    spark.udf.register("cvs_sleep", (tag: String, ms: Int) => {
      Thread.sleep(ms.toLong); finishedAt.put(tag, System.nanoTime()); ms
    })
    // later probes finish first: p0 sleeps longest
    val probes = Seq(600, 400, 200, 0).zipWithIndex.map { case (ms, i) =>
      Validation(s"SELECT cvs_sleep('p$i', $ms) AS x", "x", ValueCheck.Equals(ms.toString))
    }
    val results = Validator.run(spark, Validations(probes), parallelism = 4)
    assert(results.map(_.validation) == probes)
    assert(results.forall(_.passed))
    assert(finishedAt.get("p3") < finishedAt.get("p0"), "probes did not overlap")

    val slowBad = Validation("SELECT cvs_sleep('v0', 500) AS x", "x", ValueCheck.Equals("-1"))
    val fastBad = Validation("SELECT cvs_sleep('v1', 0) AS x", "x", ValueCheck.Equals("-1"))
    val e = intercept[IllegalStateException](Validator.runOrThrow(spark,
      Validations(Seq(probes.head, slowBad, fastBad)), skip = false, parallelism = 4))
    assert(finishedAt.get("v1") < finishedAt.get("v0"))
    assert(e.getMessage.contains(slowBad.query), e.getMessage)
    assert(!e.getMessage.contains(fastBad.query), e.getMessage)
  }

  test("namedTables: case-insensitive whole-identifier match") {
    val tables = Seq("t1", "t10", "orders", "order_items", "Users")
    assert(Main.namedTables(tables, Seq("SELECT * FROM t10")) == Seq("t10"))
    assert(Main.namedTables(tables, Seq("SELECT * FROM `ORDERS` o")) == Seq("orders"))
    assert(Main.namedTables(tables,
      Seq("WITH u AS (SELECT * FROM users) SELECT (SELECT max(x) FROM T1) FROM u"))
      == Seq("t1", "Users"))
    assert(Main.namedTables(tables, Seq("SELECT order_itemsx, t1_y FROM orders_v")).isEmpty)
    assert(Main.namedTables(tables, Nil).isEmpty)
  }
}

object ConcurrentValidationSpec {
  val finishedAt = new ConcurrentHashMap[String, java.lang.Long]()
}
