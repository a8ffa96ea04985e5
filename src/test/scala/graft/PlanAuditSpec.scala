package graft

import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
import org.apache.spark.sql.execution.{LocalTableScanExec, SparkPlan}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
import org.apache.spark.sql.execution.window.WindowExec

/** Physical-plan regression guards: the properties that make these
  * operators scale are asserted, not assumed (prompt: ".explain the
  * plan and iterate until it's the plan you'd want").
  */
class PlanAuditSpec extends SparkTestBase {

  /** The dir every sweep builds plans against. Overridable so the
    * scale probe (scripts/scale_probe.sh) can run the SAME structural
    * gate against its 10x fixture — "no new plan offenders at the
    * larger input" uses this suite, not a weaker grep. */
  private val auditDir = sys.env.getOrElse("GRAFT_AUDIT_DIR", sf("sf0.01"))

  private def planOf(q: String): String = {
    val df = SparkEntry.queries(q)(spark, auditDir)
    df.queryExecution.executedPlan.toString
  }

  // ---- operator-level allowances (structural, not per-query) --------
  // The recurring bounded shapes get recognized by PLAN STRUCTURE so a
  // new caller of distributedCumSum / nucleusTopP / ntileDistributed /
  // bucketedGroupRank passes the sweep with zero allowlist edits, while
  // a genuinely unbounded nested loop or global window still fails
  // (negative-control test at the bottom of this suite).

  /** The plan's unary spine ends at a driver-bounded leaf: an aggregate
    * whose grouping keys are all foldable (zero keys, or a folded
    * constant group — either way ONE output row), or a literal local
    * relation (rows embedded in the plan at construction — bounded by
    * the code, not the corpus). */
  private def boundedSpine(p: SparkPlan): Boolean = p match {
    case a: BaseAggregateExec => a.groupingExpressions.forall(_.foldable)
    case _: LocalTableScanExec => true
    case u if u.children.length == 1 => boundedSpine(u.children.head)
    case _ => false
  }

  /** corpus x 1 (or x literal-rows) is a scalar attach, not all-pairs:
    * the crossJoin(broadcast(singleRowAgg)) bounds pattern every
    * two-phase operator uses. Benign without a per-query allowance. */
  private def benignScalarAttach(j: BroadcastNestedLoopJoinExec): Boolean = {
    val build = j.buildSide match {
      case BuildLeft => j.left
      case BuildRight => j.right
    }
    boundedSpine(build)
  }

  /** A partition-less WindowExec is benign iff it is the bounded
    * bucket-prefix frame of the two-phase operators: ordered solely by
    * the internal capped bucket index `__b` (reserved name — always
    * built with `least(lit(buckets - 1), ...)`, buckets <= 64) AND fed
    * by an aggregate grouped by that same `__b`, so the window input
    * has at most `buckets` rows at ANY corpus size. Ordering by a
    * column merely NAMED __b does not pass: without the __b-keyed
    * aggregate beneath, the window is flagged. */
  private def benignBucketPrefixWindow(w: WindowExec): Boolean = {
    val orderedByBucket = w.orderSpec.nonEmpty && w.orderSpec.forall(_.child match {
      case a: Attribute => a.name == "__b"
      case _ => false
    })
    def bucketAgg(p: SparkPlan): Boolean = p match {
      case a: BaseAggregateExec =>
        a.groupingExpressions.nonEmpty && a.groupingExpressions.forall {
          case at: Attribute => at.name == "__b"
          case e => e.foldable
        }
      case u if u.children.length == 1 => bucketAgg(u.children.head)
      case _ => false
    }
    orderedByBucket && bucketAgg(w.child)
  }

  /** The PARTITION-prefix sibling of the bucket-prefix frame:
    * Linkage.globalRank rolls per-range-partition counts into rank
    * offsets with a window ordered solely by the internal `__pid`
    * (spark_partition_id — bounded by the shuffle partition COUNT, a
    * config, never by corpus rows) and fed by an aggregate grouped by
    * that same `__pid`, so the window input has at most
    * spark.sql.shuffle.partitions rows at ANY corpus size. Same
    * anti-spoof rule as `__b`: a column merely NAMED __pid without the
    * __pid-keyed aggregate beneath is flagged. */
  private def benignPartitionPrefixWindow(w: WindowExec): Boolean = {
    val orderedByPid = w.orderSpec.nonEmpty && w.orderSpec.forall(_.child match {
      case a: Attribute => a.name == "__pid"
      case _ => false
    })
    def pidAgg(p: SparkPlan): Boolean = p match {
      case a: BaseAggregateExec =>
        a.groupingExpressions.nonEmpty && a.groupingExpressions.forall {
          case at: Attribute => at.name == "__pid"
          case e => e.foldable
        }
      case u if u.children.length == 1 => pidAgg(u.children.head)
      case _ => false
    }
    orderedByPid && pidAgg(w.child)
  }

  /** collect over the physical tree INCLUDING physical subquery plans;
    * pre-preparation subquery expressions can still wrap LOGICAL plans
    * (which collectWithSubqueries would feed this partial function,
    * CCE), so the subquery hop type-guards on SparkPlan. */
  private def collectPhysical[B](p: SparkPlan)(f: PartialFunction[SparkPlan, B]): Seq[B] = {
    import org.apache.spark.sql.catalyst.expressions.PlanExpression
    val subPlans = p.collect { case n =>
      n.expressions.flatMap(_.collect { case pe: PlanExpression[_] => pe.plan })
    }.flatten.collect { case sp: SparkPlan => sp }
    p.collect(f) ++ subPlans.flatMap(sp => collectPhysical(sp)(f))
  }

  private def nonBenignBnljs(tree: SparkPlan): Seq[BroadcastNestedLoopJoinExec] =
    collectPhysical(tree) {
      case j: BroadcastNestedLoopJoinExec if !benignScalarAttach(j) => j
    }

  private def nonBenignGlobalWindows(tree: SparkPlan): Seq[WindowExec] =
    collectPhysical(tree) {
      case w: WindowExec if w.partitionSpec.isEmpty &&
        !benignBucketPrefixWindow(w) && !benignPartitionPrefixWindow(w) => w
    }

  // BroadcastNestedLoopJoin is allowed ONLY where it is the intended
  // plan. The single-row / literal-rows scalar-attach shape (the old
  // pattern (b)) is now recognized STRUCTURALLY by benignScalarAttach —
  // those queries need no entry, and a stale entry FAILS the sweep
  // (stale allowances are how a genuine all-pairs regression hides).
  // What still needs a justified per-query entry:
  //  (a) deliberate linear scans: the ANN brute-force baseline and the
  //      PQ ADC scan (m-byte codes, not raw vectors) — corpus x small
  //      query set by design (the query side is a corpus-derived slice,
  //      not a literal relation, so structure alone can't bound it);
  //  (c) DOMAIN-bounded broadcasts: a handful of category rows, fixed
  //      by the schema, not the corpus.
  private val bnljAllowed: Map[String, String] = Map(
    "q_ann_topk" -> "(a) brute-force ANN baseline: corpus x small query set",
    "q_ann_filtered" -> "(a) brute-force ANN over the filtered slice",
    "q_ann_pq" -> "(a) PQ ADC linear scan over m-byte codes",
    "q_image_search" -> "(a) dHash hamming scan: corpus x single query row",
    "q_hard_negatives" -> "(a) corpus x sampled query slice with label-mismatch predicate",
    "q_vocab_coverage" -> ("top-cutoff frame (<= 20 rows) x cutoff list " +
      "x totals attach (the <=20-row side is an agg-derived LIMIT, not " +
      "a single row, so the structural rule can't prove it)"),
    // (q_centroid_calibration's entry retired: the nearest-centroid
    // input is materialized before the rank pass now, so the bounds
    // attach sits on a leaf the structural rule proves by itself)
    "q_recall_at_k" -> "(a) brute + quantized-dot eval rankings: corpus x 5 planted queries",
    "q_recall_curve" -> "(a) brute + quantized-dot rankings at 3 scales: corpus x 5 planted queries",
    "q_rrf_fusion" -> "(a) brute + quantized-dot rankings being fused: corpus x 5 planted queries",
    "q_kendall_tau" -> "(a) brute + quantized-dot rankings being rank-correlated: corpus x 5 planted queries",
    "q_epoch_order" -> ("bucketedGroupRank bounds attach with a joined " +
      "build side (bounded by the bucket count, which the structural " +
      "spine-walk can't see past the join)"),
    "q_retrieval_mrr" -> "(a) brute-force eval ranking: corpus x 5 planted queries",
    "q_ndcg" -> "(a) brute-force eval ranking: corpus x 5 planted queries (the q_retrieval_mrr frame, graded)",
    "q_map" -> "(a) brute-force eval ranking: corpus x 5 planted queries (the q_retrieval_mrr frame, AP-scored)",
    "q_isotonic" -> ("(c) PAV minimax interval frame: self-joins of the " +
      "reliability-bin aggregate (<= bins <= 1000 rows per side, a " +
      "constructor argument — never corpus-sized)"),
    "q_t_closeness" -> "(c) sensitive-category DOMAIN densify (schema-bounded rows)",
    "q_chi_square" -> ("(c) marginal DOMAIN x DOMAIN densify (|langs| x " +
      "|sources| rows, fixed by the schema — zero cells must enter the statistic)"),
    "q_cramers_v" -> ("(c) marginal DOMAIN x DOMAIN densify (|segments| x " +
      "|nations| rows, fixed by the schema — the same chiSquare cross)"))

  // Partition-less WindowExec nodes serialize their input into ONE
  // task, so each one must be provably bounded. Every allowance names
  // its bound; a query that plans a NEW global window without an entry
  // fails the sweep, and an entry whose query stops planning one fails
  // too (same staleness rule as bnljAllowed).
  // The `__b` bucket-prefix frame (<= buckets rows by construction) is
  // now recognized STRUCTURALLY by benignBucketPrefixWindow — the
  // distributedCumSum / nucleusTopP / ntileDistributed callers need no
  // entry here, and a stale entry fails the sweep. What remains are the
  // DOMAIN-bounded frames: one row per day / nation / event type —
  // bounded by the schema or the time span, not by a capped index the
  // structural rule can prove.
  private val globalWindowAllowed: Map[String, String] = Map(
    "q_ab_lift" -> "control-rate attach over the 2-row variant frame",
    "q_freshness" -> "max-ts attach over one row per event TYPE",
    "q_contribution" -> "share-of-total over one row per nation (25)",
    "q_cusum" -> "running sum over one row per day of the series",
    "q_user_growth" -> "cumulative users over one row per day",
    "q_period_over_period" -> "lag over one row per day",
    "q_skyline" -> "bucket-frontier running max: one row per bucket",
    // (q_centroid_calibration's entry retired: its rank input is
    // materialized now, so benignBucketPrefixWindow proves the shape)
    "q_epoch_order" -> ("bucketedGroupRank <= 64-row bucket-prefix window " +
      "whose input carries a join the structural rule stops at"),
    "q_survival_hazard" -> ("reverse-cumulative at-risk over one row per " +
      "DISTINCT lifetime — bounded by the corpus day span, not by keys"))

  test("whole surface: no UDF, no python barrier, no unbounded cartesian, no unlisted BNLJ or global window in ANY query plan") {
    // The blanket scale-hygiene sweep: every one of the ~280 public
    // queries must plan without a ScalaUDF (kills whole-stage codegen),
    // a python eval barrier, or a CartesianProduct (the unbounded
    // all-pairs shape). BNLJ and partition-less windows are recognized
    // structurally when they are the bounded operator shapes (scalar
    // attach / __b bucket-prefix — see helpers above); anything else is
    // allowed only with a justified entry above — bidirectionally:
    // unlisted occurrences fail, and unused allowances fail.
    val offenders = scala.collection.mutable.Buffer.empty[String]
    val bnljSeen = scala.collection.mutable.Set.empty[String]
    val gwinSeen = scala.collection.mutable.Set.empty[String]
    for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
      // candidate-scope bracket: dedup-tier queries materialize shared
      // candidate sets eagerly at CONSTRUCTION; release them per query
      // so the sweep doesn't accrete CacheManager entries
      graft.operators.Dedup.withCandidateScope {
        val qe = fn(spark, auditDir).queryExecution
        val plan = qe.executedPlan.toString
        if (plan.contains("ScalaUDF")) offenders += s"$name: ScalaUDF"
        if (plan.contains("BatchEvalPython")) offenders += s"$name: python barrier"
        if (plan.contains("CartesianProduct")) offenders += s"$name: cartesian"
        if (nonBenignBnljs(qe.sparkPlan).nonEmpty) {
          bnljSeen += name
          if (!bnljAllowed.contains(name))
            offenders += s"$name: unexpected nested-loop join"
        }
        if (nonBenignGlobalWindows(qe.sparkPlan).nonEmpty) {
          gwinSeen += name
          if (!globalWindowAllowed.contains(name))
            offenders += s"$name: unlisted partition-less window"
        }
      }
    }
    for (name <- bnljAllowed.keys if !bnljSeen(name))
      offenders += s"$name: STALE bnljAllowed entry (no BNLJ planned)"
    for (name <- globalWindowAllowed.keys if !gwinSeen(name))
      offenders += s"$name: STALE globalWindowAllowed entry (no global window planned)"
    assert(offenders.isEmpty, s"plan hygiene violations:\n${offenders.mkString("\n")}")
  }

  test("governance near-dup queries route through the banded prune, not a corpus shingle self-join") {
    // q_source_overlap / q_dedup_cluster_sizes feed on minhash-verified
    // pairs: the only shingle joins their plans may carry are the
    // verify stage's COMPOUND (id, sh) joins, bounded by the candidate
    // set. A join keyed on the shingle ALONE is the corpus-wide
    // self-join (quadratic per hot shingle at 100x) and fails here.
    // The exact tiers (q_dedup_ngram_jaccard, q_dedup_containment,
    // q_decontaminate_exact) keep solo-shingle joins BY DESIGN — they
    // are the oracle forms the banded path is verified against.
    val soloShingleJoin = "Join \\[sh#\\d+L?\\], \\[sh#\\d+L?\\]".r
    for (q <- Seq("q_source_overlap", "q_dedup_cluster_sizes")) {
      graft.operators.Dedup.withCandidateScope {
        val plan = SparkEntry.queries(q)(spark, auditDir)
          .queryExecution.executedPlan.toString
        assert(soloShingleJoin.findFirstIn(plan).isEmpty,
          s"$q joins on the shingle alone (corpus self-join):\n$plan")
      }
    }
    // the candidate generator those queries route through buckets on
    // the LSH band hash (minhashPairs eagerly materializes it, which
    // hides the join from the query plans above — so assert on the raw
    // pre-materialization subplan directly)
    val docs = spark.read.parquet(auditDir + "/documents.parquet")
    val candPlan = graft.operators.Dedup
      .bandedCandidates(docs, "doc_id", "text",
        shingleWidth = 3, numHashes = 128, bands = 32, seed = 42L)
      .queryExecution.executedPlan.toString
    assert(candPlan.contains("bandHash"),
      s"minhash candidate join lost its band-bucket key:\n$candPlan")
    assert(soloShingleJoin.findFirstIn(candPlan).isEmpty,
      s"candidate generator joins on the shingle alone:\n$candPlan")
  }

  test("link prediction carries no forced broadcast on the |V|-sized degree joins") {
    // Graph.neighborJaccard's degree table is vertex-count-sized — a
    // forced broadcast() ships multi-GB at 100x scale. The joins must
    // reach the planner hint-free (AQE may still CHOOSE a broadcast
    // when the runtime size permits — that is the point).
    val df = SparkEntry.queries("q_link_predict")(spark, auditDir)
    val logical = df.queryExecution.analyzed.toString
    assert(!logical.contains("UnresolvedHint") && !logical.contains("ResolvedHint"),
      s"q_link_predict still carries a join hint:\n$logical")
  }

  test("single-exchange operators really plan one hash exchange") {
    // the scaladoc claims these reuse one key partitioning end to end
    // (madOutliers: both percentile windows + the final groupBy; scd2:
    // collapse lag + interval lead; ewma: all lags in one frame) —
    // assert it so a refactor that silently adds a shuffle fails here
    for (q <- Seq("q_mad_outliers", "q_cdc_scd2", "q_ewma")) {
      val plan = planOf(q)
      val n = plan.linesIterator.count(_.contains("Exchange hashpartitioning"))
      assert(n == 1, s"$q: expected 1 hash exchange, got $n:\n$plan")
    }
  }

  test("filter queries push predicates into the parquet scan") {
    for (q <- Seq("q_filter_startswith", "q_filter_equals", "q_filter_contains")) {
      val plan = planOf(q)
      assert(plan.contains("PushedFilters: ["), s"$q plan lacks pushdown:\n$plan")
      assert(!plan.contains("PushedFilters: []"), s"$q pushed nothing:\n$plan")
    }
  }

  test("projection queries prune columns at the scan") {
    val plan = planOf("q_fake_email") // selects 2 of 5 customer columns
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("c_custkey") && readSchema.contains("c_name"))
    assert(!readSchema.contains("c_acctbal") && !readSchema.contains("c_mktsegment"),
      s"scan reads pruned columns: $readSchema")
  }

  test("dimension join broadcasts the small side") {
    assert(planOf("q_join_agg").contains("BroadcastHashJoin"))
    assert(planOf("q_ann_topk").contains("BroadcastNestedLoopJoin") ||
           planOf("q_ann_topk").contains("BroadcastHashJoin"))
  }

  test("faker pipeline is one WholeStageCodegen over the scan (no UDF barrier)") {
    // entry() is the faker-bearing pipeline (q_anonymize_pipeline is the
    // SQL-expressible spine variant since r3, with no fake_* exprs)
    val plan = SparkEntry.entry(spark).queryExecution.executedPlan.toString
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"), plan)
    // '*(n)' prefixes mark WholeStageCodegen stages; the faker Project
    // must be inside one
    assert(plan.linesIterator.exists(l => l.contains("*(") && l.contains("fake_name")),
      s"faker projection not codegen'd:\n$plan")
  }

  test("aggregations are partial (map-side combine before the shuffle)") {
    val plan = planOf("q1_agg")
    // HashAggregate(partial) -> Exchange -> HashAggregate(final)
    assert(plan.contains("partial_sum") || plan.contains("partial_count"),
      s"no map-side partial aggregation:\n$plan")
  }

  test("embedding dedup runs as bucket equi-joins, never a cartesian") {
    for (q <- Seq("q_dedup_embedding", "q_dedup_embedding_lsh")) {
      val plan = planOf(q)
      assert(!plan.contains("CartesianProduct"), s"$q has a cartesian:\n$plan")
      assert(!plan.contains("BroadcastNestedLoopJoin"),
        s"$q has a nested-loop join:\n$plan")
    }
  }

  test("q_topk_rewrite plans as rule-inserted TopKPerKey; q_window_topk keeps its Window") {
    val rewritten = planOf("q_topk_rewrite")
    assert(rewritten.contains("TopKPerKey"),
      s"rule did not insert the heap operator:\n$rewritten")
    assert(!rewritten.contains("Window"),
      s"window survived the rewrite:\n$rewritten")
    // selecting rn makes the rewrite observable => rule must decline
    val kept = planOf("q_window_topk")
    assert(kept.contains("Window") && !kept.contains("TopKPerKey"),
      s"rule fired on a rank-keeping query:\n$kept")
  }

  test("ensureParallelism declines on a healthy multi-file scan: same plan, no Exchange") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("healthy_scan").toString
    spark.range(1000).toDF("id").repartition(4).write.mode("overwrite").parquet(dir)
    val scan = spark.read.parquet(dir)
    val obs = graft.operators.Repartitioning.scanPartitions(scan)
    assert(obs >= 2, s"fixture must be multi-split, got $obs") // target = ceil(4*0.5) = 2
    val out = graft.operators.Repartitioning.ensureParallelism(scan, col("id"))
    assert(out eq scan, "healthy layout must return the identical DataFrame object")
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"healthy scan grew an exchange:\n$plan")
  }

  test("healthy multi-file documents dir: dedup spine inserts no repartition") {
    // the 100x layout in miniature: the REAL documents table written as
    // 32 part-files (at production scale the file count does this by
    // itself). Split-packing params pinned so each part-file is its own
    // split, as 128MB+ files would be at real scale — otherwise the
    // tiny fixtures coalesce into one split and the case proves nothing.
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("docs_multifile").toString
    spark.read.parquet(sf("sf0.01") + "/documents.parquet")
      .repartition(32).write.mode("overwrite").parquet(dir)
    val conf = Seq("spark.sql.files.maxPartitionBytes" -> "1m",
                   "spark.sql.files.openCostInBytes" -> "1m")
    val prev = conf.map { case (k, _) => spark.conf.getOption(k) }
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val docs = spark.read.parquet(dir)
      val cores = spark.sparkContext.defaultParallelism
      val splits = graft.operators.Repartitioning.scanPartitions(docs)
      assert(splits >= cores,
        s"multi-file dir must out-split the $cores cores, got $splits")
      // the gate must DECLINE: healthy layout, identical object back
      val repaired = graft.operators.Repartitioning
        .ensureParallelism(docs, col("doc_id"))
      assert(repaired eq docs, "gate repartitioned a healthy layout")
      // and the full dedup spine planned over it carries no inserted
      // repartition — its only exchanges are the operator's own
      // (banding/aggregate shuffles), not a full-input repair
      val spine = graft.operators.Dedup
        .minhashVerifiedPairs(repaired, "doc_id", "text")
      val plan = spine.queryExecution.executedPlan.toString
      assert(!plan.contains("REPARTITION_BY_COL"),
        s"dedup spine over a healthy multi-file scan grew a repartition:\n$plan")
    } finally prev.zip(conf).foreach { case (old, (k, _)) =>
      old match { case Some(v) => spark.conf.set(k, v)
                  case None => spark.conf.unset(k) }
    }
  }

  test("ensureParallelism repairs a starved single-file scan: repartition fires") {
    import org.apache.spark.sql.functions.col
    val scan = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
    assert(graft.operators.Repartitioning.scanPartitions(scan) === 1,
      "testdata documents must be a single split for this case to bite")
    val out = graft.operators.Repartitioning.ensureParallelism(scan, col("doc_id"))
    assert(!(out eq scan))
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("Exchange hashpartitioning(doc_id"),
      s"starved scan not repartitioned by key:\n$plan")
  }

  test("scanPartitions counts DSv2 BatchScan leaves (v1 disabled) like v1 scans") {
    val key = "spark.sql.sources.useV1SourceList"
    val prev = spark.conf.get(key,
      "avro,csv,json,kafka,orc,parquet,text")
    spark.conf.set(key, "")
    try {
      val scan = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
      val plan = scan.queryExecution.sparkPlan.toString
      assert(plan.contains("BatchScan"), s"fixture is not a v2 scan:\n$plan")
      assert(graft.operators.Repartitioning.scanPartitions(scan) === 1,
        "v2 single-file scan must report its real split count, not MaxValue")
    } finally spark.conf.set(key, prev)
  }

  test("ensureParallelism declines on non-file sources (no scan leaf => never starved)") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val mem = Seq(1, 2, 3).toDF("id").coalesce(1)
    assert(graft.operators.Repartitioning.scanPartitions(mem) === Int.MaxValue)
    assert(graft.operators.Repartitioning.ensureParallelism(mem, col("id")) eq mem)
  }

  test("contaminationPairs construction: zero jobs with checkDisjoint=false") {
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(auditDir + "/documents.parquet")
    @volatile var jobs = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs += 1
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      // library-caller shape: disjoint ids by construction => no guard
      // scan, no checkpoint job — PLAN CONSTRUCTION is free; the runner's
      // plans / bench modes stop paying a corpus scan per call
      val pairs = graft.operators.Dedup.contaminationPairs(
        docs.filter(col("doc_id") >= 20), docs.filter(col("doc_id") < 20),
        "doc_id", "text", checkDisjoint = false)
      org.apache.spark.sql.graftbridge.Bridge.flushListenerBus(spark.sparkContext)
      assert(jobs === 0,
        s"plan construction launched $jobs job(s) with checkDisjoint=false")
      // the default keeps the guard: id overlap must still be caught
      val overlap = intercept[IllegalArgumentException] {
        graft.operators.Dedup.contaminationPairs(
          docs, docs.filter(col("doc_id") < 20), "doc_id", "text")
      }
      assert(overlap.getMessage.contains("disjoint"))
      // and the constructed plan still computes: the planted eval split
      // must flag at least one contaminated doc when executed
      assert(pairs.limit(1).count() === 1L)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("cdc latest-per-key: max_by aggregate with map-side combine on one PK shuffle") {
    val plan = planOf("q_cdc_latest_per_key")
    assert(plan.contains("hashpartitioning(user_id"),
      s"latest-per-key should hash-partition by PK:\n$plan")
    // partial (map-side) combine BELOW the exchange: a CDC delta repeats
    // hot PKs, so the shuffle must carry per-partition winners, not rows
    assert(plan.indexOf("partial_max_by") > plan.indexOf("Exchange hashpartitioning"),
      s"expected partial max_by below the PK exchange:\n$plan")
    assert(!plan.contains("Window"), s"window formulation should be gone:\n$plan")
  }

  test("structural allowances: bounded operator shapes pass with zero allowlist entries; genuinely unbounded shapes still fail") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val ev = eventsUs("sf0.001").select(col("user_id"), col("ts"),
      col("event_id"), col("value").cast("long").as("v"))

    // (1) the real operator: distributedCumSum's only partition-less
    // window is the <=64-row bucket-prefix frame — benign structurally,
    // no allowlist edit needed for ANY new caller (the q_concurrency
    // footgun from round 13)
    val good = graft.operators.Analytics.distributedCumSum(
      ev, "ts", Seq("v"), tieCols = Seq("event_id"))
    val goodW = good.queryExecution.sparkPlan.collectWithSubqueries {
      case w: WindowExec if w.partitionSpec.isEmpty => w
    }
    assert(goodW.nonEmpty, "expected the bucket-prefix global window in the plan")
    assert(goodW.forall(benignBucketPrefixWindow),
      "the bounded bucket-prefix window must be structurally benign")
    assert(nonBenignBnljs(good.queryExecution.sparkPlan).isEmpty,
      "the single-row bounds attach BNLJ must be structurally benign")

    // (2) the classic serialize-everything shape: a running sum over the
    // RAW corpus ordered by ts — one task at any scale. Must be flagged.
    val badRunning = ev.withColumn("cum",
      sum(col("v")).over(Window.orderBy(col("ts").asc, col("event_id").asc)))
    assert(nonBenignGlobalWindows(badRunning.queryExecution.sparkPlan).nonEmpty,
      "an unbounded global running sum must NOT pass the structural allowance")

    // (3) adversarial: naming a corpus-cardinality column `__b` is not
    // enough — without the __b-keyed (<= buckets rows) aggregate
    // beneath, the window is still flagged
    val badNamed = ev.withColumn("__b", col("user_id"))
      .withColumn("cum", sum(col("v")).over(Window.orderBy(col("__b").asc)))
    assert(nonBenignGlobalWindows(badNamed.queryExecution.sparkPlan).nonEmpty,
      "a column merely NAMED __b must not satisfy the bucket-prefix allowance")

    // (4) a per-key aggregate (unbounded groups) under a global window
    // ordered by the key: bounded by |keys|, which GROWS with the
    // corpus — flagged, unlike the capped __b bucket index
    val badPerKey = ev.groupBy(col("user_id")).agg(sum(col("v")).as("s"))
      .withColumn("cum", sum(col("s")).over(Window.orderBy(col("user_id").asc)))
    assert(nonBenignGlobalWindows(badPerKey.queryExecution.sparkPlan).nonEmpty,
      "a per-key (corpus-growing) global window must still be flagged")

    // (4b) the partition-prefix sibling: sorted-neighborhood's global
    // rank rolls per-range-partition counts (<= shuffle partitions
    // rows, a CONFIG bound) through a __pid-ordered window fed by the
    // __pid-keyed aggregate — benign structurally, no allowlist entry
    val sn = graft.operators.Linkage.scorePairsSortedNeighborhood(
      ev.select(col("event_id").as("id"), col("ts"), col("user_id")),
      "id", Seq("ts"), window = 3,
      Seq(graft.operators.Linkage.eq("user_id", 500000L, 300000L)),
      Long.MinValue + 1)
    val snW = sn.queryExecution.sparkPlan.collectWithSubqueries {
      case w: WindowExec if w.partitionSpec.isEmpty => w
    }
    assert(snW.nonEmpty, "expected the __pid partition-prefix window")
    assert(snW.forall(benignPartitionPrefixWindow),
      "the partition-prefix window must be structurally benign")

    // (4c) adversarial: naming a corpus-cardinality column `__pid` is
    // not enough — without the __pid-keyed aggregate beneath, flagged
    val badPid = ev.withColumn("__pid", col("user_id"))
      .withColumn("cum", sum(col("v")).over(Window.orderBy(col("__pid").asc)))
    assert(nonBenignGlobalWindows(badPid.queryExecution.sparkPlan).nonEmpty,
      "a column merely NAMED __pid must not satisfy the partition-prefix allowance")

    // (5) an actual all-pairs nested loop (non-equi corpus x corpus
    // self-join) must NOT pass the scalar-attach allowance
    val l = ev.select(col("user_id").as("a"), col("v").as("va")).limit(1000)
    val r = ev.select(col("user_id").as("b"), col("v").as("vb")).limit(1000)
    val badJoin = l.join(broadcast(r), col("va") < col("vb"))
    assert(nonBenignBnljs(badJoin.queryExecution.sparkPlan).nonEmpty,
      "a corpus x corpus nested loop must NOT pass the scalar-attach allowance")
  }
}
