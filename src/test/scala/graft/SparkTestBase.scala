package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for all suites (sbt forks a single test JVM;
  * getOrCreate dedups). Shuffle partitions sized for local[4], not the
  * 200 default. */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.session
  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"

  /** events with ts normalized to a µs-epoch BIGINT regardless of which
    * parquet dtype the fixture currently carries (nanos BIGINT or
    * TIMESTAMP_MICROS) — the same dispatch SparkEntry's queries use. */
  def eventsUs(dir: String = "sf0.001"): org.apache.spark.sql.DataFrame =
    SparkEntry.events(spark, sf(dir))

  /** `body`'s result and the Spark jobs started while it ran (listener
    * bus drained before and after, so the list is complete). */
  def jobsDuring[T](body: => T)
      : (T, Seq[org.apache.spark.scheduler.SparkListenerJobStart]) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.graftbridge.Bridge
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[SparkListenerJobStart]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.add(e)
    }
    Bridge.flushListenerBus(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = body
      Bridge.flushListenerBus(spark.sparkContext)
      (out, jobs.toArray(Array.empty[SparkListenerJobStart]).toSeq)
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}

object SparkTestBase {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
