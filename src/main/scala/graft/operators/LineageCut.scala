package graft.operators

import org.apache.spark.sql.DataFrame

/** Per-iteration lineage cuts for the BSP loops (PageRank, BFS depth,
  * the min-label components fixpoint): without a cut, iteration i's
  * plan nests all i-1 predecessors, so analysis time and recomputation
  * cost grow without bound.
  *
  * Two modes, selected per session by `spark.graft.bsp.checkpoint`:
  *
  *   - `local` (default): eager `localCheckpoint` — executor-local
  *     blocks, zero distributed-FS traffic. Right on a single machine,
  *     or when re-running the whole job after an executor loss is
  *     acceptable.
  *   - `reliable`: eager `checkpoint` to the context's checkpoint dir
  *     (the caller must `sparkContext.setCheckpointDir` to a
  *     cluster-visible path first — enforced with a clear error). On a
  *     1000-executor cluster a lost executor takes its localCheckpoint
  *     blocks with it, and with lineage truncated that kills the JOB;
  *     reliable mode survives executor loss at the cost of one DFS
  *     write per iteration. [[release]] deletes the superseded
  *     iteration's snapshot files (the GraphX PeriodicCheckpointer
  *     discipline), so the DFS footprint stays ~one snapshot, not
  *     `iters`. The FINAL iteration's files live until the consumer is
  *     done and the checkpoint dir is cleaned — by design.
  */
object LineageCut {
  /** Session conf key: "local" (default) | "reliable". */
  val ModeKey = "spark.graft.bsp.checkpoint"

  /** Session conf key: cut every K-th BSP round (default 4). See
    * [[PeriodicCut]]. "1" restores the cut-every-round behavior. */
  val IntervalKey = "spark.graft.bsp.cutInterval"

  private[graft] def interval(spark: org.apache.spark.sql.SparkSession): Int = {
    val raw = spark.conf.get(IntervalKey, "4")
    val k = scala.util.Try(raw.toInt).getOrElse(
      throw new IllegalArgumentException(s"$IntervalKey must be an int: $raw"))
    require(k >= 1 && k <= 16, s"$IntervalKey out of range [1,16]: $k")
    k
  }

  private def reliable(df: DataFrame): Boolean =
    df.sparkSession.conf.get(ModeKey, "local") == "reliable"

  /** Materialize `df` eagerly and cut its lineage per the session
    * mode. */
  def cut(df: DataFrame): DataFrame =
    if (reliable(df)) {
      require(df.sparkSession.sparkContext.getCheckpointDir.isDefined,
        s"$ModeKey=reliable requires sparkContext.setCheckpointDir to a " +
          "cluster-visible path")
      df.checkpoint(eager = true)
    } else {
      // layout-keeping variant: a plain localCheckpoint under AQE
      // forgets the materialized rows' partitioning/ordering (the
      // adaptive plan is a leaf reporting UnknownPartitioning), so the
      // NEXT iteration's same-keyed aggregation or window re-shuffles
      // rows that are already laid out right — once per BSP round. The
      // bridge re-reads both facts from the final adaptive plan, which
      // is what produced the checkpointed blocks — GATED on the layout
      // being at least defaultParallelism wide: keeping a coalesced
      // 1–4-partition local layout would pin every downstream same-key
      // stage to that width (measured +110 % on q_label_prop), while a
      // production-width layout keeps its per-round exchange elision.
      org.apache.spark.sql.graftbridge.Bridge.localCheckpointKeepingLayout(
        df, df.sparkSession.sparkContext.defaultParallelism)
    }

  /** Cut every K-th round of a single-reference BSP chain — the GraphX
    * PeriodicCheckpointer discipline (its default interval is 10),
    * K = `spark.graft.bsp.cutInterval` (default 4).
    *
    * Why: every eager cut is one driver barrier (a full job launch +
    * result wait) and one |state| materialization — and the r20 job
    * profile showed the BSP tier's local cost IS the job count
    * (q_louvain_gain: 104 jobs, none over 330 ms; c8/c32 scaling ≈ 1).
    * Rounds between cuts stay LAZY: their aggregations chain into the
    * next cut's single job, so the shuffle count is unchanged while
    * barriers and materializations drop K-fold. On executor loss in
    * local-checkpoint mode the recompute window is ≤ K rounds instead
    * of 0 — the PeriodicCheckpointer trade, documented and bounded.
    *
    * CHAIN CONTRACT (what makes lazy rounds safe): each [[step]]'s
    * plan must reference the PREVIOUS step's frame AT MOST ONCE (plus
    * any static frames the caller keeps alive until the chain ends).
    * A twice-referenced lazy predecessor would double its reduce-side
    * work per nesting level — loops with multi-reference state
    * (Louvain, kCore, BFS min-merge) must keep cutting every round.
    * Releases stay safe because [[cut]] materializes the NEW frame
    * before releasing the superseded cut, and chain structure
    * guarantees nothing else references the old cut. */
  final class PeriodicCut(spark: org.apache.spark.sql.SparkSession) {
    private val k = interval(spark)
    private var sinceCut = 0
    private var lastCut: DataFrame = null
    /** Per-round step: cuts on every K-th call, otherwise returns the
      * lazy frame unchanged. */
    def step(df: DataFrame): DataFrame = {
      sinceCut += 1
      if (sinceCut >= k) cut(df) else df
    }
    /** Force a cut now (round counter resets; the superseded cut is
      * released AFTER the new frame is materialized). */
    def cut(df: DataFrame): DataFrame = {
      val c = LineageCut.cut(df)
      if (lastCut != null) LineageCut.release(lastCut)
      lastCut = c
      sinceCut = 0
      c
    }
    /** End of chain: guarantees the returned frame is materialized —
      * callers release loop-static frames (edge lists) right after, so
      * a still-lazy final frame would read freed blocks. */
    def finish(df: DataFrame): DataFrame =
      if (lastCut != null && (df eq lastCut)) df else cut(df)
  }

  /** Free a superseded cut — block-manager blocks always, plus the
    * snapshot files in reliable mode. The df must not be re-executed
    * afterwards (lineage is truncated; its data is gone by design). */
  def release(df: DataFrame): Unit = {
    org.apache.spark.sql.graftbridge.Bridge.releaseMaterialized(df)
    org.apache.spark.sql.graftbridge.Bridge.checkpointFileOf(df).foreach { p =>
      val path = new org.apache.hadoop.fs.Path(p)
      val fs = path.getFileSystem(
        df.sparkSession.sparkContext.hadoopConfiguration)
      fs.delete(path, true)
      ()
    }
  }
}
