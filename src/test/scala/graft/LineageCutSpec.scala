package graft

import org.apache.spark.sql.functions._

import graft.operators.LineageCut

/** The layout-keeping lineage cut: under AQE a plain localCheckpoint
  * reports UnknownPartitioning, so every downstream same-key stage
  * re-shuffles rows the checkpoint already laid out correctly. The cut
  * re-declares the final adaptive plan's partitioning/ordering — gated
  * on the layout being at least defaultParallelism wide, so a
  * coalesced 1–4-partition local layout (which would pin downstream
  * stages to that width) falls back to the plain checkpoint. */
class LineageCutSpec extends SparkTestBase {

  private def aggByK = spark.range(0, 10000)
    .select(col("id"), (col("id") % 97).as("k"))
    .groupBy(col("k")).agg(sum(col("id")).as("s"))

  private def hasExchange(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.executedPlan.toString.contains("Exchange")

  test("gate OPEN (full-width layout): downstream same-key aggregation elides its exchange; rows identical") {
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    val old = spark.conf.get(key, "true")
    try {
      // with coalescing off the aggregation's exchange keeps all
      // shuffle partitions (4 == defaultParallelism on local[4]), so
      // the kept layout passes the width gate
      spark.conf.set(key, "false")
      val ck = LineageCut.cut(aggByK)
      val reAgg = ck.groupBy(col("k")).agg(count(lit(1)).as("c"))
      val expected = aggByK.groupBy(col("k")).agg(count(lit(1)).as("c"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val got = reAgg.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === expected, "kept layout must not change results")
      assert(!hasExchange(reAgg),
        "a same-key aggregation over a kept full-width layout must not re-shuffle")
      // the rewrap works on this Spark version: no cut fell back
      assert(org.apache.spark.sql.graftbridge.Bridge.layoutFallbacks == 0,
        s"layout rewrap fell back on Spark ${spark.version}")
      LineageCut.release(ck)
    } finally spark.conf.set(key, old)
  }

  test("gate CLOSED (coalesced local layout): the cut stays a plain checkpoint — downstream aggregation re-shuffles at session width") {
    val ck = LineageCut.cut(aggByK) // default AQE coalescing: 10k tiny rows collapse under 4 partitions
    val reAgg = ck.groupBy(col("k")).agg(count(lit(1)).as("c"))
    val expected = aggByK.groupBy(col("k")).agg(count(lit(1)).as("c"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = reAgg.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === expected)
    assert(hasExchange(reAgg),
      "a narrower-than-parallelism layout must NOT be kept (it would pin " +
        "downstream stages below the session width)")
    LineageCut.release(ck)
  }

  // ---- PeriodicCut: cut every K rounds of a single-reference chain ----

  /** A 5-round single-reference BSP-shaped chain (each round one
    * aggregation over the previous frame), ending with finish() and a
    * release of the loop-static input — the exact lifecycle the BSP
    * loops run. Returns (rows, jobsLaunched). */
  private def runChain(interval: String): (Map[Long, Long], Int) = {
    spark.conf.set(LineageCut.IntervalKey, interval)
    var jobs = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          s: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs += 1
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val base = LineageCut.cut(spark.range(0, 1000)
        .select((col("id") % 13).as("k"), col("id").as("v")))
      val pc = new LineageCut.PeriodicCut(spark)
      var st: org.apache.spark.sql.DataFrame = base
      for (_ <- 1 to 5) {
        // one aggregation per round, previous frame referenced ONCE —
        // the PeriodicCut chain contract
        st = pc.step(st.groupBy(col("k"))
          .agg((sum(col("v")) % 1000003L).as("v")))
      }
      // finish() must materialize the final frame BEFORE the static
      // input is released — the recompute story: a lazy final round
      // still references up to K-1 uncut predecessors plus the base
      val out = pc.finish(st)
      LineageCut.release(base)
      val rows = out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      org.apache.spark.sql.graftbridge.Bridge
        .flushListenerBus(spark.sparkContext)
      (rows, jobs)
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      spark.conf.unset(LineageCut.IntervalKey)
    }
  }

  test("PeriodicCut: interval 4 = identical rows to interval 1 with fewer driver jobs; finish survives input release") {
    val (rows1, jobs1) = runChain("1")
    val (rows4, jobs4) = runChain("4")
    assert(rows4 === rows1, "lazy rounds must not change the chain's result")
    // interval 1 cuts 5 times (+1 base); interval 4 cuts at round 4 and
    // at finish (round 5) — at least two barriers saved
    assert(jobs4 <= jobs1 - 2,
      s"cut-every-4 must launch materially fewer jobs (got $jobs4 vs $jobs1)")
  }

  test("PeriodicCut: finish is a no-op when the last round already cut") {
    spark.conf.set(LineageCut.IntervalKey, "2")
    try {
      val pc = new LineageCut.PeriodicCut(spark)
      val a = pc.step(spark.range(3).toDF("v")) // round 1: lazy
      assert(a.queryExecution.analyzed.collectLeaves().forall(
        !_.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD]),
        "round below the interval must stay lazy")
      val b = pc.step(a.select((col("v") + 1).as("v"))) // round 2: cut
      assert(pc.finish(b) eq b, "finish on an already-cut frame is identity")
      LineageCut.release(b)
    } finally spark.conf.unset(LineageCut.IntervalKey)
  }
}
