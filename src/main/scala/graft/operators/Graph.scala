package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Graph analytics over edge DataFrames. Connected components lives in
  * [[Dedup.components]] (it grew out of the near-dup clustering tier
  * and is reused as the general operator); this object holds the
  * rank-propagation family.
  */
object Graph {

  /** PageRank (Page et al. 1999) in SCALED-INTEGER arithmetic: ranks
    * are BIGINTs summing to ~`scale`, every division is integer
    * division, so the result is bit-exact regardless of partitioning,
    * summation order, or engine — a float PageRank can't be
    * oracle-compared across engines because the contribution sum order
    * differs. ppb-of-scale truncation error per step is irrelevant for
    * ranking. Fixed `iters` power steps (no convergence test): the
    * deterministic, replayable form. Dangling-node mass is dropped, as
    * in the classic sparse formulation.
    *
    * new_rank(v) = (15·scale) div (100·N) + (85·Σ_{u→v} rank(u) div
    * outdeg(u)) div 100 — the 0.85 damping as exact 85/100 integer ops.
    *
    * Scale shape: per iteration ONE shuffle join of edges with the
    * rank table on src (edges re-used from a cached/checkpointed
    * distinct) + one map-side-combined sum on dst. N rides the plan as
    * a single-row broadcast (the BM25 stats pattern) — no driver
    * action at construction. Lineage is cut per iteration via
    * [[LineageCut]] (eager localCheckpoint by default; set
    * spark.graft.bsp.checkpoint=reliable for executor-loss-tolerant
    * HDFS snapshots on a real cluster); iterations are O(E) each, the
    * textbook BSP shape that scales to any edge count the cluster's
    * shuffle can hold. */
  def pageRankScaled(edges: DataFrame, srcCol: String, dstCol: String,
                     iters: Int, scale: Long = 1000000000000L): DataFrame = {
    require(iters >= 1, s"iters must be positive, got $iters")
    require(scale >= 1000000L, s"scale too small for ppm precision: $scale")
    // lineage cuts via LineageCut: eager localCheckpoint by default,
    // opt-in reliable checkpoint (spark.graft.bsp.checkpoint=reliable)
    // for clusters where executor loss must not kill the loop
    // out-degree attached to the edge frame ONCE, outside the loop, via
    // a src-keyed count window folded into the SAME cut as the distinct
    // (one materialization, one pass): the old shape re-aggregated and
    // re-joined outdeg per power step — one avoidable shuffle + join
    // per iteration (guide §2.4); pr div od per edge is unchanged, so
    // the mass arithmetic is bit-identical. The cut also pins the
    // src-partitioning, so per-iteration joins reshuffle only the rank
    // table, never the edge frame.
    val eo = LineageCut.cut(edges
      .select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .distinct()
      .withColumn("od", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("src")))))
    val nodes = LineageCut.cut(eo.select(col("src").as("id"))
      .unionByName(eo.select(col("dst").as("id"))).distinct())
    val nDf = nodes.agg(count(lit(1)).cast("long").as("n_nodes"))
    // static (id, n_nodes) base — the personalizedPageRankScaled shape:
    // the iterated frame carries only (id, pr) (a third narrower per
    // round, guide §2.3) and is referenced ONCE per round, which is
    // exactly the PeriodicCut chain contract — rounds between cuts stay
    // lazy, so the per-round driver barrier + |V|-row materialization
    // is paid every K rounds instead of every round (same shuffles,
    // same arithmetic, bit-identical ranks)
    val base = LineageCut.cut(nodes.crossJoin(broadcast(nDf))
      .select(col("id"), col("n_nodes")))
    val pc = new LineageCut.PeriodicCut(edges.sparkSession)
    var rank = base.select(col("id"), expr(s"${scale}L div n_nodes").as("pr"))
    for (_ <- 1 to iters) {
      val contribs = eo
        .join(rank.select(col("id").as("src"), col("pr")), Seq("src"))
        .select(col("dst").as("id"), expr("pr div od").as("c"))
        .groupBy(col("id")).agg(sum(col("c")).as("m"))
      rank = pc.step(base
        .join(contribs, Seq("id"), "left")
        .select(col("id"),
          expr(s"((15 * ${scale}L) div (100 * n_nodes)) + " +
            "((85 * coalesce(m, 0L)) div 100)").as("pr")))
    }
    rank.select(col("id"), col("pr").as("rank_scaled"))
  }

  /** Edge-WEIGHTED PageRank: a node's mass splits over its out-edges
    * proportionally to edge weight instead of uniformly — the variant
    * a shipment/interaction graph actually wants (heavy edges carry
    * more endorsement). Same scaled-integer BSP discipline as
    * [[pageRankScaled]]: contrib = pr·w div W(u) with W(u) the node's
    * out-weight sum, exact BIGINT throughout. Parallel edges are
    * weight-SUMMED first (the multigraph reading). Int64 envelope:
    * pr ≤ scale (mass is conserved), so pr·w needs
    * maxWeight ≤ Long.Max/scale — 9e6 at the default scale, enforced
    * with a loud require against a one-row probe (count/quantity
    * weights sit far inside it). Zero/negative weights are rejected:
    * silently dropping them would change the graph under the caller. */
  def pageRankWeightedScaled(edges: DataFrame, srcCol: String,
                             dstCol: String, weightCol: String, iters: Int,
                             scale: Long = 1000000000000L): DataFrame = {
    require(iters >= 1, s"iters must be positive, got $iters")
    require(scale >= 1000000L, s"scale too small for ppm precision: $scale")
    // out-weight attached ONCE via a src-keyed sum window folded into
    // the same cut as the parallel-edge coalesce (the pageRankScaled
    // discipline): saves one shuffle + join per power step; the
    // per-edge pr * __w div ow is unchanged
    val eo = LineageCut.cut(edges
      .select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"),
        col(weightCol).cast("long").as("__w"))
      .groupBy(col("src"), col("dst")).agg(sum(col("__w")).as("__w"))
      .withColumn("ow", sum(col("__w")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("src")))))
    // the weight-envelope probe reads the CHECKPOINTED frame — same
    // loud contract, cheaper scan
    val probe = eo.agg(coalesce(min(col("__w")), lit(1L)).as("lo"),
      coalesce(max(col("__w")), lit(1L)).as("hi")).head()
    require(probe.getLong(0) >= 1L,
      s"edge weights must be positive, found ${probe.getLong(0)}")
    require(probe.getLong(1) <= Long.MaxValue / scale,
      s"max edge weight ${probe.getLong(1)} breaks the pr*w Int64 " +
      s"envelope at scale $scale — rescale the weights")
    val nodes = LineageCut.cut(eo.select(col("src").as("id"))
      .unionByName(eo.select(col("dst").as("id"))).distinct())
    val nDf = nodes.agg(count(lit(1)).cast("long").as("n_nodes"))
    // static (id, n_nodes) base + (id, pr)-only iterated frame under
    // the PeriodicCut chain (see pageRankScaled) — same shuffles, K
    // fewer barriers/materializations, bit-identical arithmetic
    val base = LineageCut.cut(nodes.crossJoin(broadcast(nDf))
      .select(col("id"), col("n_nodes")))
    val pc = new LineageCut.PeriodicCut(edges.sparkSession)
    var rank = base.select(col("id"), expr(s"${scale}L div n_nodes").as("pr"))
    for (_ <- 1 to iters) {
      val contribs = eo
        .join(rank.select(col("id").as("src"), col("pr")), Seq("src"))
        .select(col("dst").as("id"), expr("pr * __w div ow").as("c"))
        .groupBy(col("id")).agg(sum(col("c")).as("m"))
      rank = pc.step(base
        .join(contribs, Seq("id"), "left")
        .select(col("id"),
          expr(s"((15 * ${scale}L) div (100 * n_nodes)) + " +
            "((85 * coalesce(m, 0L)) div 100)").as("pr")))
    }
    rank.select(col("id"), col("pr").as("rank_scaled"))
  }

  /** HITS hubs/authorities (Kleinberg 1999, "Authoritative sources in
    * a hyperlinked environment") under the same scaled-integer BSP
    * discipline as [[pageRankScaled]]: auth(v) = Σ hub over in-edges,
    * hub(u) = Σ auth over out-edges, each L1-NORMALIZED at ppm scale
    * per half-step (`raw·1e6 div Σraw` — the paper's float L2 is not
    * engine-replayable; L1 preserves the ranking order and keeps every
    * intermediate provably inside Int64 for ANY graph: scores sum to
    * ≤ 1e6 after each normalize, so a raw sum over distinct
    * predecessors is ≤ 1e6 and raw·1e6 ≤ 1e12). hub₀ is uniform.
    * Output: (id, hub_ppm, auth_ppm) after `iters` full rounds.
    *
    * Scale shape: per half-step one equi-join + one map-side-combined
    * aggregate; the normalizer is a single-row broadcast (the BM25
    * attach pattern); frames are lineage-cut per round like every BSP
    * loop here. */
  def hitsScaled(edges: DataFrame, srcCol: String, dstCol: String,
                 iters: Int): DataFrame = {
    require(iters >= 1 && iters <= 32, s"iters out of range: $iters")
    val e = LineageCut.cut(edges
      .select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .distinct())
    val nodes = LineageCut.cut(e.select(col("src").as("id"))
      .unionByName(e.select(col("dst").as("id"))).distinct())
    val nDf = nodes.agg(count(lit(1)).cast("long").as("n_nodes"))
    var hub = LineageCut.cut(nodes.crossJoin(broadcast(nDf))
      .select(col("id"), expr("1000000L div n_nodes").as("h")))
    var auth: DataFrame = null
    // Scores stay SPARSE inside the loop (only nodes with a non-zero
    // raw sum carry a row): a zero-score node contributes exactly 0 to
    // the next half-step's sum and 0 to the L1 normalizer, so dropping
    // its row changes nothing — and the old per-half-step |V|-row
    // nodes-left-join (two shuffles per iteration) disappears (guide
    // §2.4). Zeros are re-densified ONCE at the end, so the output is
    // bit-identical.
    for (_ <- 1 to iters) {
      val aRaw = e.join(hub.select(col("id").as("src"), col("h")), Seq("src"))
        .groupBy(col("dst").as("id")).agg(sum(col("h")).as("ar"))
      val aTot = aRaw.agg(greatest(sum(col("ar")), lit(1L)).as("at"))
      val nextAuth = LineageCut.cut(
        aRaw.crossJoin(broadcast(aTot))
          .select(col("id"), expr("ar * 1000000L div at").as("a")))
      if (auth != null) LineageCut.release(auth)
      auth = nextAuth
      val hRaw = e.join(auth.select(col("id").as("dst"), col("a")), Seq("dst"))
        .groupBy(col("src").as("id")).agg(sum(col("a")).as("hr"))
      val hTot = hRaw.agg(greatest(sum(col("hr")), lit(1L)).as("ht"))
      val nextHub = LineageCut.cut(
        hRaw.crossJoin(broadcast(hTot))
          .select(col("id"), expr("hr * 1000000L div ht").as("h")))
      LineageCut.release(hub)
      hub = nextHub
    }
    val out = nodes
      .join(hub, Seq("id"), "left")
      .join(auth, Seq("id"), "left")
      .select(col("id"), coalesce(col("h"), lit(0L)).as("hub_ppm"),
        coalesce(col("a"), lit(0L)).as("auth_ppm"))
    out
  }

  /** Personalized PageRank (Jeh & Widom, WWW 2003): the teleport mass
    * returns to the `seeds` set instead of spreading uniformly, so
    * scores measure proximity TO THE SEEDS — the graph-based curation
    * primitive ("rank everything by closeness to this trusted set").
    * Same scaled-integer BSP discipline as [[pageRankScaled]] (exact
    * BIGINT arithmetic, per-iteration lineage cuts, opt-in reliable
    * checkpoints), same no-dangling-redistribution convention; the
    * only change is the seed-indicator teleport term. Seeds are a
    * DataFrame of node ids (column `id`) — its size bounds nothing
    * here (it joins, never collects or broadcasts by force). */
  def personalizedPageRankScaled(edges: DataFrame, srcCol: String,
                                 dstCol: String, seeds: DataFrame,
                                 iters: Int,
                                 scale: Long = 1000000000000L): DataFrame = {
    require(iters >= 1, s"iters must be positive, got $iters")
    require(scale >= 1000000L, s"scale too small for ppm precision: $scale")
    // out-degree attached ONCE via a src-keyed count window folded into
    // the same cut as the distinct (the pageRankScaled discipline): one
    // fewer shuffle + join per power step, same per-edge math
    val eo = LineageCut.cut(edges
      .select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .distinct()
      .withColumn("od", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("src")))))
    val nodes = LineageCut.cut(eo.select(col("src").as("id"))
      .unionByName(eo.select(col("dst").as("id"))).distinct())
    val seed = seeds.select(col("id").cast("long").as("id"))
      .distinct()
      .withColumn("__isSeed", lit(true))
    val nsDf = seed.agg(count(lit(1)).cast("long").as("n_seeds"))
    val base = LineageCut.cut(nodes
      .join(seed, Seq("id"), "left")
      .crossJoin(broadcast(nsDf))
      .select(col("id"), coalesce(col("__isSeed"), lit(false)).as("__isSeed"),
        col("n_seeds")))
    // already the single-reference chain shape (static cut `base`,
    // (id, pr)-only iterated frame): rounds between PeriodicCut cuts
    // stay lazy — K fewer barriers/materializations, same shuffles
    val pc = new LineageCut.PeriodicCut(edges.sparkSession)
    var rank = base.select(col("id"),
      when(col("__isSeed"), expr(s"${scale}L div n_seeds"))
        .otherwise(lit(0L)).as("pr"))
    for (_ <- 1 to iters) {
      val contribs = eo
        .join(rank.select(col("id").as("src"), col("pr")), Seq("src"))
        .select(col("dst").as("id"), expr("pr div od").as("c"))
        .groupBy(col("id")).agg(sum(col("c")).as("m"))
      rank = pc.step(base
        .join(contribs, Seq("id"), "left")
        .select(col("id"),
          (when(col("__isSeed"),
            expr(s"(15 * ${scale}L) div (100 * n_seeds)"))
            .otherwise(lit(0L)) +
            expr("(85 * coalesce(m, 0L)) div 100")).as("pr")))
    }
    rank.select(col("id"), col("pr").as("rank_scaled"))
  }

  /** Exact triangle count over an undirected pair list — the graph
    * clustering signal (and the classic MapReduce graph benchmark,
    * Suri & Vassilvitskii 2011, "Counting triangles and the curse of
    * the last reducer"). Edges are normalized (a<b, dedup, no loops),
    * then ORIENTED along the (degree, id) total order: every triangle
    * becomes exactly one directed path u→v→w plus the closing edge
    * u→w, and — the point of the orientation — no vertex's out-degree
    * exceeds O(√m), so the wedge join is O(m^1.5) worst case instead
    * of the hub-degree² blowup a naive shared-neighbor join hits on
    * power-law graphs. One row out: the count.
    *
    * Eager + scope-bound: construction launches Spark jobs (Dedup.materializeShared
    * inside); when built inside a withCandidateScope, the terminal action must
    * run before scope exit or the materialized blocks are already freed. */
  def triangleCount(pairs: DataFrame, aCol: String = "id_a",
                    bCol: String = "id_b"): DataFrame = {
    // materialize once, twice (the communityQuality discipline): the
    // canonical edge list feeds THREE subtrees (two degree legs + the
    // orientation join's base) and the oriented frame feeds three more
    // (two wedge-join sides + the closure semi-join) — only exchanges
    // are reused across consumers, so without the cuts the upstream
    // `pairs` derivation (a lineitem self-join for the wired caller)
    // re-ran per consumer. Scope-tracked, freed at candidate-scope exit.
    val und = Dedup.materializeShared(pairs.select(
        least(col(aCol), col(bCol)).cast("long").as("a"),
        greatest(col(aCol), col(bCol)).cast("long").as("b"))
      .filter(col("a") =!= col("b")).distinct())
    val deg = und.select(col("a").as("v"))
      .unionByName(und.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("d"))
    val o = Dedup.materializeShared(und
      .join(deg.select(col("v").as("a"), col("d").as("da")), Seq("a"))
      .join(deg.select(col("v").as("b"), col("d").as("db")), Seq("b"))
      .select(
        when(col("da") < col("db") ||
          (col("da") === col("db") && col("a") < col("b")),
          struct(col("a").as("src"), col("b").as("dst")))
          .otherwise(struct(col("b").as("src"), col("a").as("dst")))
          .as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst")))
    val wedges = o.select(col("src").as("u"), col("dst").as("v"))
      .join(o.select(col("src").as("v"), col("dst").as("w")), Seq("v"))
    wedges
      .join(o.select(col("src").as("u"), col("dst").as("w")),
        Seq("u", "w"), "left_semi")
      .agg(count(lit(1)).cast("long").as("n_triangles"))
  }

  /** Degree distribution of an undirected pair list: how many vertices
    * have each degree — the one-glance shape check (power law? star?)
    * run before any heavier graph job. Two map-side-combined
    * aggregations, cardinality bounded by max degree. */
  def degreeDistribution(pairs: DataFrame, aCol: String = "id_a",
                         bCol: String = "id_b"): DataFrame = {
    val und = pairs.select(
        least(col(aCol), col(bCol)).cast("long").as("a"),
        greatest(col(aCol), col(bCol)).cast("long").as("b"))
      .filter(col("a") =!= col("b")).distinct()
    und.select(col("a").as("v")).unionByName(und.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("d"))
      .groupBy(col("d").as("degree")).agg(count(lit(1)).as("n_vertices"))
  }

  /** Majority-vote label propagation over RESOLVED components (the
    * semi-supervised labeling step after a dedup/linkage clustering):
    * join member labels, count votes per (component, label), keep the
    * argmax under the deterministic (votes desc, label asc) tie-break.
    * Components with no labeled member emit nothing. Scale shape: one
    * equi-join plus two key-partitioned aggregations — votes reduce
    * map-side, nothing is collected. */
  def majorityLabel(components: DataFrame, labels: DataFrame,
      idCol: String = "id", componentCol: String = "component",
      labelCol: String = "label"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val votes = components.join(labels, idCol)
      .groupBy(col(componentCol), col(labelCol))
      .agg(count(lit(1)).as("n_votes"))
    val w = Window.partitionBy(col(componentCol))
      .orderBy(col("n_votes").desc, col(labelCol).asc)
    votes.withColumn("__rk", rank().over(w))
      .filter(col("__rk") === 1)
      .select(col(componentCol), col(labelCol).as("majority_label"),
        col("n_votes"))
  }

  /** Multi-source BFS depth within `maxIter` rounds: min-plus
    * propagation over the undirected edge set — the distance companion
    * of the min-label components loop, under the same fixed-round
    * contract as [[pageRankScaled]] (depth = shortest path found in
    * ≤ maxIter hops). Each round is one key-partitioned join + min
    * aggregate; the distance table never exceeds |V| rows, and
    * lineage is truncated per round (the components-loop pattern). */
  def bfsDepth(edges: DataFrame, seeds: DataFrame, maxIter: Int): DataFrame = {
    require(maxIter >= 1 && maxIter <= 64, s"maxIter out of range: $maxIter")
    val ud = LineageCut.cut(
      edges.select(col("id_a").as("a"), col("id_b").as("b"))
        .unionByName(edges.select(col("id_b").as("a"), col("id_a").as("b")))
        .distinct())
    var dist = LineageCut.cut(seeds.select(col("v"), lit(0L).as("d")))
    for (_ <- 1 to maxIter) {
      val next = dist.join(ud, dist("v") === ud("a"))
        .select(ud("b").as("v"), (dist("d") + lit(1L)).as("d"))
      val stepped = LineageCut.cut(dist.unionByName(next)
        .groupBy(col("v")).agg(min(col("d")).as("d")))
      LineageCut.release(dist)
      dist = stepped
    }
    val out = dist.select(col("v"), col("d").as("depth"))
    LineageCut.release(ud)
    out
  }

  /** Fixed-round k-core peeling: repeatedly drop vertices whose degree
    * in the SURVIVING subgraph is below k, `rounds` times, and report
    * the survivors with their end-state degrees — the standard
    * dense-community / spam-ring extractor. Fixed-round contract like
    * [[bfsDepth]]: the result is the round-`rounds` peel state, which
    * equals the true k-core once a round removes nothing.
    *
    * Each round is one map-side-combined degree count plus two
    * left-semi equi-joins against the ≤|V|-row keep set (AQE chooses
    * the join strategy — never a forced broadcast), with per-round
    * lineage cuts so the plan doesn't grow with the round count. */
  /** Per-vertex local clustering coefficient: `2·t(v) / (d(v)·(d(v)−1))`
    * in exact ppm, where t(v) counts triangles through v — the
    * community-cohesion profile ("how clique-like is each vertex's
    * neighborhood"). Triangles are enumerated ONCE each by the same
    * degree-oriented wedge closure as [[triangleCount]] (Suri &
    * Vassilvitskii 2011 — wedge work is Σd(v)² of the ORIENTED graph,
    * i.e. bounded by the degree order, not by hot vertices), then
    * attributed to all three corners. deg < 2 reports 0 (guarded —
    * ANSI div-by-zero throws).
    *
    * Scale shape: degree agg + two wedge joins keyed on vertex ids +
    * one explode(3)·count — all equi-joins, map-side-combined counts,
    * no all-pairs stage.
    *
    * Eager + scope-bound: construction launches Spark jobs (Dedup.materializeShared
    * inside); when built inside a withCandidateScope, the terminal action must
    * run before scope exit or the materialized blocks are already freed. */
  def clusteringCoefficient(pairs: DataFrame, aCol: String = "id_a",
                            bCol: String = "id_b"): DataFrame = {
    // same two materializations as [[triangleCount]] — here `deg` is
    // additionally the final output's left side, so the edge-list cut
    // serves FOUR consumers
    val und = Dedup.materializeShared(pairs.select(
        least(col(aCol), col(bCol)).cast("long").as("a"),
        greatest(col(aCol), col(bCol)).cast("long").as("b"))
      .filter(col("a") =!= col("b")).distinct())
    val deg = und.select(col("a").as("v"))
      .unionByName(und.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("d"))
    val o = Dedup.materializeShared(und
      .join(deg.select(col("v").as("a"), col("d").as("da")), Seq("a"))
      .join(deg.select(col("v").as("b"), col("d").as("db")), Seq("b"))
      .select(
        when(col("da") < col("db") ||
          (col("da") === col("db") && col("a") < col("b")),
          struct(col("a").as("src"), col("b").as("dst")))
          .otherwise(struct(col("b").as("src"), col("a").as("dst")))
          .as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst")))
    val tri = o.select(col("src").as("u"), col("dst").as("v"))
      .join(o.select(col("src").as("v"), col("dst").as("w")), Seq("v"))
      .join(o.select(col("src").as("u"), col("dst").as("w")), Seq("u", "w"))
    val perV = tri
      .select(explode(array(col("u"), col("v"), col("w"))).as("v0"))
      .groupBy(col("v0")).agg(count(lit(1)).as("t"))
    deg.join(perV, deg("v") === perV("v0"), "left")
      .select(col("v").as("id"), col("d").as("degree"),
        coalesce(col("t"), lit(0L)).as("n_tri"),
        expr("CASE WHEN d >= 2 THEN 2 * coalesce(t, 0L) * 1000000L " +
          "div (d * (d - 1)) ELSE 0L END").as("coeff_ppm"))
  }

  /** Synchronous label propagation (Raghavan et al. 2007) for FIXED
    * `rounds`: every vertex simultaneously adopts the most frequent
    * label among its neighbors, ties broken by MIN label — both rules
    * make the sweep fully deterministic (async LPA's order-dependence
    * is exactly what an oracle-checked engine cannot ship). Labels
    * start as vertex ids; after r rounds a vertex's label is a
    * community seed at most r hops away, so small `rounds` (3-5) give
    * the local-community view that sits between [[Dedup.components]]
    * (pure connectivity) and [[kCore]] (density).
    *
    * Scale shape: per round, ONE edge⋈label shuffle + two map-side-
    * combined aggregations keyed by vertex; per-iteration
    * [[LineageCut]] with the BSP checkpoint discipline the PageRank
    * family uses. Isolated vertices cannot occur (vertices come from
    * the edge list). */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
                       rounds: Int): DataFrame = {
    require(rounds >= 1 && rounds <= 16, s"rounds out of range: $rounds")
    val ud = LineageCut.cut(edges
      .select(col(srcCol).cast("long").as("a"), col(dstCol).cast("long").as("b"))
      .unionByName(edges
        .select(col(dstCol).cast("long").as("a"), col(srcCol).cast("long").as("b")))
      .distinct())
    // single-reference chain (lab appears once per round): rounds
    // between PeriodicCut cuts stay lazy — one barrier per K rounds
    val pc = new LineageCut.PeriodicCut(edges.sparkSession)
    var lab: DataFrame =
      ud.select(col("a").as("v")).distinct().withColumn("lbl", col("v"))
    for (_ <- 1 to rounds) {
      val nl = ud.join(lab.select(col("v").as("b"), col("lbl")), Seq("b"))
        .groupBy(col("a").as("v"), col("lbl")).agg(count(lit(1)).as("__c"))
      // argmax in ONE aggregation: min over struct(-count, label) is
      // lexicographic, so it picks max count then min label among ties
      // — the same (votes desc, label asc) total order the old
      // max-then-join-then-filter shape implemented, minus one shuffle
      // + one join per round (guide §2.4). Counts are >= 1, so the
      // negation can never overflow.
      lab = pc.step(nl.groupBy(col("v"))
        .agg(min(struct((-col("__c")).as("nc"), col("lbl").as("l")))
          .as("__b"))
        .select(col("v"), col("__b.l").as("lbl")))
    }
    // The result depends only on the final `lab` checkpoint — finish()
    // forces one if the last round was lazy, BEFORE the edge frame it
    // would otherwise still reference is released.
    lab = pc.finish(lab)
    LineageCut.release(ud)
    lab.select(col("v").as("id"), col("lbl").as("community"))
  }

  /** Edge-WEIGHTED synchronous label propagation — [[labelPropagation]]
    * with weight-SUMMED votes (Raghavan et al. 2007 §III's weighted
    * variant): every vertex simultaneously adopts the label whose
    * incident edge weights sum highest among its neighbors, ties broken
    * by MIN label — the same two total-order rules that make the
    * unweighted sweep oracle-replayable. Parallel edges COALESCE by
    * weight sum before the first round (the weighted analog of the
    * unweighted symmetrize-distinct), so a repeated edge votes once
    * with its combined weight; weights are cast to long and must be
    * non-negative for the max-vote to mean anything (a zero-weight
    * edge contributes a zero vote — present but powerless). With all
    * weights 1 and no parallel edges this is exactly
    * [[labelPropagation]]. Output: (id, community); feeds
    * [[communityQuality]] unchanged.
    *
    * Scale shape: identical to the unweighted sweep — per round ONE
    * edge⋈label shuffle + two map-side-combined aggregations keyed by
    * vertex, per-iteration [[LineageCut]] under the BSP checkpoint
    * discipline. */
  def labelPropagationWeighted(edges: DataFrame, srcCol: String,
      dstCol: String, wCol: String, rounds: Int): DataFrame = {
    require(rounds >= 1 && rounds <= 16, s"rounds out of range: $rounds")
    val ud = LineageCut.cut(edges
      .select(col(srcCol).cast("long").as("a"),
        col(dstCol).cast("long").as("b"), col(wCol).cast("long").as("w"))
      .unionByName(edges
        .select(col(dstCol).cast("long").as("a"),
          col(srcCol).cast("long").as("b"), col(wCol).cast("long").as("w")))
      .groupBy(col("a"), col("b")).agg(sum(col("w")).as("w")))
    // single-reference chain under PeriodicCut (see labelPropagation)
    val pc = new LineageCut.PeriodicCut(edges.sparkSession)
    var lab: DataFrame =
      ud.select(col("a").as("v")).distinct().withColumn("lbl", col("v"))
    for (_ <- 1 to rounds) {
      val nl = ud.join(lab.select(col("v").as("b"), col("lbl")), Seq("b"))
        .groupBy(col("a").as("v"), col("lbl")).agg(sum(col("w")).as("__c"))
      // single-aggregation argmax (see [[labelPropagation]]): min over
      // struct(-voteSum, label) = (votes desc, label asc). Vote sums
      // are non-negative (weights are cast longs >= 0 per the
      // contract), so the negation can never overflow.
      lab = pc.step(nl.groupBy(col("v"))
        .agg(min(struct((-col("__c")).as("nc"), col("lbl").as("l")))
          .as("__b"))
        .select(col("v"), col("__b.l").as("lbl")))
    }
    lab = pc.finish(lab)
    LineageCut.release(ud)
    lab.select(col("v").as("id"), col("lbl").as("community"))
  }

  /** ONE-LEVEL LOUVAIN local-move refinement (Blondel et al. 2008 §2,
    * the local-move phase, run SYNCHRONOUSLY for a fixed `rounds`):
    * every vertex simultaneously evaluates moving from its current
    * community to each NEIGHBORING community — all assignments frozen
    * at the previous round's state, the BSP discipline every other
    * iteration here uses — and moves iff the best candidate's
    * modularity gain is STRICTLY higher than staying, ties among
    * equal-gain candidates to the lowest community id. The gain
    * comparison is EXACT INTEGER, division-free: for vertex v with
    * degree k moving into community c, classic Louvain compares
    * ΔQ ∝ l(v,c)/m − vol(c∖v)·k/(2m²) across candidates; multiplying
    * through by the positive 2m² leaves the total order unchanged, so
    * the operator scores each candidate as
    *   score(c) = 2m·l(v,c) − vol(c∖v)·k
    * (l(v,c) = edges from v into c; vol(c∖v) = c's degree volume with
    * v's own degree removed when c is v's current community) and every
    * engine replays the same argmax. DIVERGENCE from the classic
    * sequential sweep, stated precisely: Blondel's algorithm visits
    * vertices one at a time and each move updates the state the next
    * vertex sees; a synchronous round freezes the state, so two
    * adjacent vertices can move on mutually stale views (the classic
    * parallel-Louvain oscillation) and a single synchronous round is
    * NOT guaranteed to raise Q. What IS pinned (GraphSpec): the sweep
    * is deterministic and replayable, a vertex with no strictly
    * improving candidate never moves (so a local optimum is a fixed
    * point), and on the bridged-triangles fixture one round strictly
    * raises Q over a deliberately mis-assigned start. Run with small
    * `rounds` (1–4) as a REFINEMENT pass over a cheap seeding
    * ([[labelPropagation]], [[Dedup.components]]) and read the
    * before/after Q ([[modularity]]) — the production posture.
    * Exactness envelope, stated honestly: scores reach 2m·k_max, so
    * the total order is exact while m·k_max ≤ 4.6e18 (at 9.2e12 edges
    * that allows max degree 5e5; beyond, shard the graph) — unlike the
    * division forms there is no self-switching rescue for a product
    * comparison, so the envelope is a contract, not a claim.
    * Input: `edges` (id_a, id_b), `assignment` (id, community) covering
    * every edge endpoint (inner joins — an unassigned endpoint's edges
    * drop, as in [[communityQuality]]). Output: (id, community).
    *
    * Scale shape: per round, one assignment⋈adjacency shuffle for the
    * neighbor-community counts l(v,c), one community-keyed volume
    * aggregation, and vertex-keyed argmax aggregations — candidate
    * rows are Σ_v |neighbor communities of v| ≤ |symmetrized edges|,
    * never vertices × communities; the single-row m attaches by
    * broadcast; per-iteration [[LineageCut]] checkpoints. */
  def louvainRefine(edges: DataFrame, assignment: DataFrame,
                    rounds: Int): DataFrame = {
    require(rounds >= 1 && rounds <= 8, s"rounds out of range: $rounds")
    val und = LineageCut.cut(edges.select(
        least(col("id_a"), col("id_b")).as("a"),
        greatest(col("id_a"), col("id_b")).as("b"))
      .filter(col("a") < col("b")).distinct())
    val adj = und.select(col("a").as("v"), col("b").as("u"))
      .unionByName(und.select(col("b").as("v"), col("a").as("u")))
    val deg = LineageCut.cut(
      adj.groupBy(col("v")).agg(count(lit(1)).as("__k")))
    val m = und.agg(count(lit(1)).as("__m"))
    // the label frame CARRIES the (static) degree: vol and scored read
    // k straight off lab instead of re-joining the deg table every
    // round — two fewer per-round joins (guide §2.4); the inner join
    // here keeps the old left-semi's "assigned ∩ has-edges" filter
    var lab = LineageCut.cut(assignment
      .select(col("id").as("v"), col("community").cast("long").as("c"))
      .join(deg, Seq("v")))
    for (_ <- 1 to rounds) {
      // l(v,c): how many of v's edges land in community c under the
      // FROZEN assignment. Candidate rows exist only through real
      // neighbors — the stay option no longer rides a zero-count union
      // (whose second groupBy re-shuffled the candidate frame, the
      // round's biggest exchange): the stay score is reconstructed in
      // the argmax aggregation below from the own-volume carried on the
      // label frame, bit-identically (guide §2.4, one fewer
      // candidate-frame shuffle + one fewer aggregation per round).
      val cand = adj.join(lab.select(col("v").as("u"), col("c")), Seq("u"))
        .groupBy(col("v"), col("c")).agg(count(lit(1)).as("__l"))
      // one lab shuffle by c serves BOTH volume reads: the per-own
      // attach (window) and the candidate-side volume table (groupBy)
      // share their exchange via ReuseExchange
      val labv = lab.withColumn("__vo", sum(col("__k")).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("c"))))
        .select(col("v"), col("c").as("__own"), col("__k"), col("__vo"))
      val vol = lab.groupBy(col("c")).agg(sum(col("__k")).as("__vol"))
      // left joins keep every assigned vertex: a v with no assigned
      // neighbor carries a NULL candidate row (the old shape's
      // zero-union row played this role) and resolves to "stay" below
      val scored = labv.join(cand, Seq("v"), "left")
        .join(vol, Seq("c"), "left")
        .crossJoin(broadcast(m))
        .select(col("v"), col("c"), col("__own"), col("__k"),
          // the stay score when v has NO neighbor at home:
          // s(own) = 2m·0 − (vol(own)−k)·k — exactly what the old
          // zero-count union row evaluated to
          (-(col("__vo") - col("__k")) * col("__k")).as("__st0"),
          when(col("c").isNotNull,
            lit(2L) * col("__m") * col("__l") -
              (col("__vol") - when(col("c") === col("__own"), col("__k"))
                .otherwise(lit(0L))) * col("__k")).as("__s"))
      // argmax + stay-score + own-community in ONE aggregation: min
      // over struct(-score, community) is (score desc, community asc) —
      // the same argmax / min-id tie-break. The stay score is the own
      // candidate row's score when v has neighbors at home (__osr),
      // else the reconstructed zero-neighbor score (__st0) — the
      // decision "move iff the best candidate STRICTLY beats staying"
      // is unchanged: when the old argmax picked the own row, the best
      // non-own candidate here cannot strictly beat the own score
      // either (ties lose to stay in both shapes). Scores are bounded
      // by 2m·k_max (the documented envelope), so the negation can
      // never overflow.
      val next = LineageCut.cut(scored.groupBy(col("v"))
        .agg(min(when(col("c").isNotNull,
            struct((-col("__s")).as("ns"), col("c").as("cc")))).as("__b"),
          max(when(col("c") === col("__own"), col("__s"))).as("__osr"),
          min(col("__own")).as("__oc"),
          // k is constant per v (carried off lab); keep it on the new
          // label frame so the next round needs no deg re-join
          min(col("__k")).as("__k"),
          min(col("__st0")).as("__st0"))
        .select(col("v"),
          when(-col("__b.ns") > coalesce(col("__osr"), col("__st0")),
            col("__b.cc")).otherwise(col("__oc")).as("c"),
          col("__k")))
      LineageCut.release(lab)
      lab = next
    }
    LineageCut.release(und)
    LineageCut.release(deg)
    lab.select(col("v").as("id"), col("c").as("community"))
  }

  /** Community-quality audit — the measurement half of
    * [[labelPropagation]] (and any other partition: connected
    * components, star clusters): per community, the two standard
    * quality reads, in exact integer ppm —
    *   - CONDUCTANCE (Kannan, Vempala & Vetta 2004): cut/min(vol,
    *     2m−vol), the share of the community's edge volume that leaks
    *     out — low = well-separated;
    *   - the per-community NEWMAN MODULARITY term (Newman & Girvan
    *     2004): e_in/m − (vol/2m)², intra-edge share minus the share a
    *     degree-preserving random graph would give; Σ over communities
    *     = Q (one trivial sum downstream, no division — so the signed
    *     roll-up never meets the truncate-vs-floor divergence).
    * Exactness form chosen for UNBOUNDED scale: the modularity square
    * is computed as r = vol·1e6 div 2m (≤ 1e6 since vol ≤ 2m), then
    * r² div 1e6 — two documented truncations, every intermediate ≤
    * 1e12, NO overflow at any edge count (the naive vol²·1e6 div 4m²
    * dies at vol > 3e6); both engines replay the same two floors. The
    * three ppm DIVISIONS (cut·1e6 div d, e_in·1e6 div m, vol·1e6 div
    * 2m) each SELF-SWITCH on overflow exactly like [[Stats.aucPpm]]'s
    * finish — direct while the divisor ≤ 9e12 (each numerator is ≤ its
    * divisor: cut ≤ min(vol, 2m−vol) because every boundary edge also
    * credits the complement's volume; e_in ≤ m; vol ≤ 2m — so the
    * product provably fits Int64), else quotient·1e6 plus the
    * remainder against the 1e-6-truncated divisor — deterministic in
    * both engines at ANY edge count, no envelope anywhere in the row.
    * Nodes missing from `assignment` fail loudly via the inner-join
    * count check the caller can run; here an unassigned endpoint's
    * edges simply drop from the audit (inner join — document upstream).
    * ISOLATED communities (every member node absent from the edge
    * list) are likewise absent from the output BY DESIGN: the audit
    * measures edge structure, and a community with no incident edges
    * has no volume, no cut, and no modularity term to report — the
    * inner-join semantics are intended, and GraphSpec pins them. A
    * caller auditing assignment coverage left-joins the assignment's
    * community list against this output.
    * Input: `edges` (id_a, id_b), `assignment` (id, community).
    * Output per community: community, n_nodes, vol (degree sum), e_in,
    * cut, conductance_ppm, modularity_term_ppm.
    *
    * Scale shape: one canonical-edge distinct, one degree aggregation,
    * two assignment equi-joins onto the edge list, then map-side-
    * combined groupBys keyed by community — no iteration, no window,
    * nothing beyond the edge shuffles.
    *
    * Eager + scope-bound: construction launches Spark jobs (Dedup.materializeShared
    * inside); when built inside a withCandidateScope, the terminal action must
    * run before scope exit or the materialized blocks are already freed. */
  def communityQuality(edges: DataFrame, assignment: DataFrame): DataFrame = {
    val und = edges.select(
        least(col("id_a"), col("id_b")).as("a"),
        greatest(col("id_a"), col("id_b")).as("b"))
      .filter(col("a") < col("b")).distinct()
    val lab = assignment.select(col("id"), col("community"))
    // materialize once: the tagged edge frame feeds FOUR aggregate
    // consumers below (m, e_in, cut, vol) — ReuseExchange only dedups
    // the distinct's exchange, so without the cut the canonical-edge
    // aggregation + the two assignment joins re-ran per consumer (the
    // transitivityAudit lesson, same round). Scope-tracked eager
    // checkpoint: freed at the caller's candidate-scope exit.
    val tagged = Dedup.materializeShared(und
      .join(lab.select(col("id").as("a"), col("community").as("__ca")), Seq("a"))
      .join(lab.select(col("id").as("b"), col("community").as("__cb")), Seq("b")))
    val m = tagged.agg(count(lit(1)).as("__m"))
    // per-community intra edges; cut edges credit BOTH sides
    val eIn = tagged.filter(col("__ca") === col("__cb"))
      .groupBy(col("__ca").as("community")).agg(count(lit(1)).as("e_in"))
    val cut = tagged.filter(col("__ca") =!= col("__cb"))
      .select(explode(array(col("__ca"), col("__cb"))).as("community"))
      .groupBy(col("community")).agg(count(lit(1)).as("cut"))
    // degree volume per community over the TAGGED subgraph (both
    // endpoints assigned), so vol_c sums to exactly 2m
    val vol = tagged
      .select(explode(array(col("__ca"), col("__cb"))).as("community"))
      .groupBy(col("community")).agg(count(lit(1)).as("vol"))
    val nodes = lab.join(
        und.select(explode(array(col("a"), col("b"))).as("id")).distinct(),
        Seq("id"), "left_semi")
      .groupBy(col("community")).agg(count(lit(1)).as("n_nodes"))
    nodes.join(vol, Seq("community"), "left")
      .join(eIn, Seq("community"), "left")
      .join(cut, Seq("community"), "left")
      .crossJoin(broadcast(m))
      .select(col("community"), col("n_nodes"),
        coalesce(col("vol"), lit(0L)).as("vol"),
        coalesce(col("e_in"), lit(0L)).as("e_in"),
        coalesce(col("cut"), lit(0L)).as("cut"),
        col("__m"))
      .select(col("community"), col("n_nodes"), col("vol"), col("e_in"),
        col("cut"),
        // each division self-switches on its divisor at 9e12 (the
        // aucFinish pattern): numerator ≤ divisor in all three, so the
        // direct branch's product provably fits Int64, and the switch
        // branch replays identically in the oracle
        expr("CASE WHEN least(vol, 2 * __m - vol) <= 0 THEN 0L " +
          "WHEN least(vol, 2 * __m - vol) <= 9000000000000L " +
          "THEN cut * 1000000L div least(vol, 2 * __m - vol) " +
          "ELSE (cut div least(vol, 2 * __m - vol)) * 1000000L + " +
          "(cut % least(vol, 2 * __m - vol)) div " +
          "greatest(least(vol, 2 * __m - vol) div 1000000L, 1L) END")
          .as("conductance_ppm"),
        expr("CASE WHEN __m <= 0 THEN 0L ELSE " +
          "(CASE WHEN __m <= 9000000000000L " +
          " THEN e_in * 1000000L div __m " +
          " ELSE (e_in div __m) * 1000000L + " +
          " (e_in % __m) div greatest(__m div 1000000L, 1L) END) - " +
          "(CASE WHEN __m <= 4500000000000L " +
          " THEN vol * 1000000L div (2 * __m) " +
          " ELSE (vol div (2 * __m)) * 1000000L + " +
          " (vol % (2 * __m)) div greatest(2 * __m div 1000000L, 1L) END) * " +
          "(CASE WHEN __m <= 4500000000000L " +
          " THEN vol * 1000000L div (2 * __m) " +
          " ELSE (vol div (2 * __m)) * 1000000L + " +
          " (vol % (2 * __m)) div greatest(2 * __m div 1000000L, 1L) END) " +
          "div 1000000L END")
          .as("modularity_term_ppm"))
  }

  /** Newman modularity Q of a partition — the one-number roll-up of
    * [[communityQuality]]: Q_ppm = Σ_c modularity_term_ppm (a pure sum
    * of the already-exact per-community integers — no division, so the
    * signed total never meets an engine rounding divergence). Also
    * reports the community count and the audited edge count. */
  def modularity(edges: DataFrame, assignment: DataFrame): DataFrame =
    communityQuality(edges, assignment)
      .agg(count(lit(1)).as("n_communities"),
        coalesce(sum(col("e_in")), lit(0L)).as("__ei"),
        // Σ_c cut_c credits each boundary edge twice (once per side)
        coalesce(sum(col("cut")), lit(0L)).as("__ct"),
        coalesce(sum(col("modularity_term_ppm")), lit(0L)).as("q_ppm"))
      .select(col("n_communities"),
        expr("__ei + __ct div 2").as("m_edges"), col("q_ppm"))

  /** Oriented triangle ENUMERATION of a canonical (a < b) edge list —
    * each triangle exactly once (the oriented triangle has a unique
    * source under the degree orientation), carrying its three canonical
    * edges as columns so downstream passes can prune by edge without
    * re-joining. */
  private def orientedTriangles(und: DataFrame): DataFrame = {
    val deg = und.select(col("a").as("v"))
      .unionByName(und.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("d"))
    val o = und
      .join(deg.select(col("v").as("a"), col("d").as("da")), Seq("a"))
      .join(deg.select(col("v").as("b"), col("d").as("db")), Seq("b"))
      .select(
        when(col("da") < col("db") ||
          (col("da") === col("db") && col("a") < col("b")),
          struct(col("a").as("src"), col("b").as("dst")))
          .otherwise(struct(col("b").as("src"), col("a").as("dst")))
          .as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
    // the oriented frame feeds three subtrees (two wedge-join sides +
    // the closure semi-join); materialize once (the caller's input is
    // already a checkpoint, so only the deg + orientation joins were
    // re-running — but three times)
    val oM = Dedup.materializeShared(o)
    val tri = oM.select(col("src").as("u"), col("dst").as("v"))
      .join(oM.select(col("src").as("v"), col("dst").as("w")), Seq("v"))
      .join(oM.select(col("src").as("u"), col("dst").as("w")),
        Seq("u", "w"), "left_semi")
    tri.select(
      least(col("u"), col("v")).as("a1"), greatest(col("u"), col("v")).as("b1"),
      least(col("v"), col("w")).as("a2"), greatest(col("v"), col("w")).as("b2"),
      least(col("u"), col("w")).as("a3"), greatest(col("u"), col("w")).as("b3"))
  }

  /** Per-edge support of `und` given the triangle frame: each triangle
    * credits its three edges; zero-support edges included. */
  private def withSupport(und: DataFrame, tris: DataFrame): DataFrame = {
    val credits = tris.select(explode(array(
        struct(col("a1").as("a"), col("b1").as("b")),
        struct(col("a2").as("a"), col("b2").as("b")),
        struct(col("a3").as("a"), col("b3").as("b")))).as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("__sup"))
    und.join(credits, Seq("a", "b"), "left")
      .select(col("a"), col("b"),
        coalesce(col("__sup"), lit(0L)).as("support"))
  }

  /** k-truss peeling under the same fixed-round contract as [[kCore]]
    * (Cohen 2008, "Trusses: cohesive subgraphs for social network
    * analysis"): each round recomputes per-edge triangle support on
    * the SURVIVING subgraph and drops edges with support < k − 2; the
    * output is the surviving edge list with its final support. The
    * truss is the edge-cohesion strengthening of the k-core (every
    * edge sits in ≥ k − 2 triangles of the subgraph), the standard
    * community-core extractor one notch stronger than degree peeling.
    * Convergence within `rounds` is the caller's contract (spec'd on
    * the fixtures); a production sweep sizes rounds from the peel
    * profile the same way kCore does.
    *
    * Scale shape: ONE degree-oriented wedge join total (bounded by the
    * orientation, never hub-quadratic) enumerates the triangle frame;
    * each round is three anti-joins of that frame against the dropped
    * set plus one explode ×3 + map-side-combined count — all
    * equi-joins; triangle and support frames are lineage-cut per round
    * like every BSP loop here, and the peel short-circuits at its
    * fixed point. */
  def kTruss(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 3, s"k-truss needs k >= 3, got $k")
    require(rounds >= 1 && rounds <= 16, s"rounds out of range: $rounds")
    val und0 = LineageCut.cut(
      edges.select(
          least(col("id_a"), col("id_b")).cast("long").as("a"),
          greatest(col("id_a"), col("id_b")).cast("long").as("b"))
        .filter(col("a") =!= col("b")).distinct())
    // DECREMENTAL peel: triangles are enumerated ONCE — the wedge join
    // is the expensive pass, and the old per-round full recompute paid
    // it rounds+1 times. Dropping edges can only REMOVE triangles, and
    // a triangle of the surviving subgraph IS a triangle of the
    // original graph with all three edges surviving — so each round
    // prunes the carried triangle frame with three anti-joins against
    // the (peel-rate-sized) dropped set and recounts. Support per
    // round is therefore IDENTICAL to the full recompute (spec-pinned
    // on the fixtures and by the unchanged oracle), at one wedge join
    // total. Convergence short-circuits: once no edge drops, the peel
    // is at its monotone fixed point and the current frame is final.
    // Memory trade: the triangle frame is lineage-cut and shrinks
    // every round — the standard distributed truss-decomposition
    // posture (triangles ≤ Σ_e support(e), bounded by the wedge join
    // the old path already materialized transiently each round).
    var tri = LineageCut.cut(orientedTriangles(und0))
    var sup = LineageCut.cut(withSupport(und0.select(col("a"), col("b")), tri))
    LineageCut.release(und0)
    var r = 0
    var converged = false
    while (r < rounds && !converged) {
      val cnt = sup.agg(count(lit(1)).as("n"),
        count(when(col("support") >= k - 2, 1)).as("keep")).head()
      if (cnt.getLong(0) == cnt.getLong(1)) converged = true
      else {
        val dropped = sup.filter(col("support") < k - 2)
          .select(col("a"), col("b"))
        val tri2 = LineageCut.cut(
          Seq(1, 2, 3).foldLeft(tri) { (t, i) =>
            t.join(dropped.select(col("a").as(s"a$i"), col("b").as(s"b$i")),
              Seq(s"a$i", s"b$i"), "left_anti")
          })
        val sup2 = LineageCut.cut(withSupport(
          sup.filter(col("support") >= k - 2).select(col("a"), col("b")),
          tri2))
        LineageCut.release(tri); tri = tri2
        LineageCut.release(sup); sup = sup2
      }
      r += 1
    }
    LineageCut.release(tri)
    sup.select(col("a"), col("b"), col("support"))
  }

  def kCore(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(rounds >= 1 && rounds <= 64, s"rounds out of range: $rounds")
    var ud = LineageCut.cut(
      edges.select(col("id_a").as("a"), col("id_b").as("b"))
        .unionByName(edges.select(col("id_b").as("a"), col("id_a").as("b")))
        .distinct())
    for (_ <- 1 to rounds) {
      val keep = ud.groupBy(col("a")).agg(count(lit(1)).as("__d"))
        .filter(col("__d") >= k).select(col("a").as("__v"))
      val next = LineageCut.cut(
        ud.join(keep, ud("a") === keep("__v"), "left_semi")
          .join(keep, ud("b") === keep("__v"), "left_semi"))
      LineageCut.release(ud)
      ud = next
    }
    val out = ud.groupBy(col("a").as("v")).agg(count(lit(1)).as("degree"))
    out
  }

  /** Link prediction by neighbor-set Jaccard: node pairs sharing at
    * least one neighbor, scored |N(a)∩N(b)|·1e6 div |N(a)∪N(b)| and
    * thresholded. The common-neighbor self-join is quadratic only
    * within one vertex's adjacency list (the triangle-count shape),
    * never globally. The degree attaches are plain equi-joins — the
    * degree table is |V|-sized, so a forced broadcast would ship a
    * multi-GB table to every executor at 100x scale; AQE broadcasts it
    * anyway when the runtime size is under the threshold. */
  /** Resource-allocation link prediction (Zhou, Lü & Zhang 2009,
    * "Predicting missing links via local information" — RA beats
    * Adamic–Adar on most graphs): candidate pair (v1, v2) scores
    * Σ_{z ∈ N(v1)∩N(v2)} 1/deg(z), here in EXACT ppm integers
    * (`1e6 div deg(z)` — a shared neighbor always has deg ≥ 2, so each
    * term ≤ 5e5; the sum replays bit-for-bit, unlike Adamic–Adar's
    * 1/log d, which is why RA is the index an oracle-checked engine
    * ships). Same wedge-join shape as [[neighborJaccard]]: pairs exist
    * only through shared neighbors (never all-pairs), each z
    * contributes its weight once per wedge, and the threshold prunes
    * the report.
    *
    * Eager + scope-bound: construction launches Spark jobs (Dedup.materializeShared
    * inside); when built inside a withCandidateScope, the terminal action must
    * run before scope exit or the materialized blocks are already freed. */
  def resourceAllocation(edges: DataFrame, thresholdPpm: Long): DataFrame = {
    require(thresholdPpm >= 1, s"thresholdPpm must be >= 1: $thresholdPpm")
    // the symmetrized adjacency feeds three subtrees (the 1/deg weight
    // table + both wedge-join sides): materialize once so the upstream
    // edge derivation runs once, not three times
    val ud = Dedup.materializeShared(
      edges.select(col("id_a").as("a"), col("id_b").as("b"))
        .unionByName(edges.select(col("id_b").as("a"), col("id_a").as("b")))
        .distinct())
    val w = ud.groupBy(col("a").as("v")).agg(count(lit(1)).as("d"))
      .select(col("v").as("b"), expr("1000000L div d").as("__w"))
    val u1 = ud.select(col("a").as("v1"), col("b"))
    val u2 = ud.select(col("a").as("v2"), col("b"))
    u1.join(u2, Seq("b")).filter(col("v1") < col("v2"))
      .join(w, Seq("b"))
      .groupBy(col("v1"), col("v2"))
      .agg(count(lit(1)).as("common"), sum(col("__w")).as("ra_ppm"))
      .filter(col("ra_ppm") >= thresholdPpm)
      .select(col("v1"), col("v2"), col("common"), col("ra_ppm"))
  }

  /** Eager + scope-bound: construction launches Spark jobs
    * (Dedup.materializeShared inside); when built inside a
    * withCandidateScope, the terminal action must run before scope
    * exit or the materialized blocks are already freed. */
  def neighborJaccard(edges: DataFrame, thresholdPpm: Long): DataFrame = {
    require(thresholdPpm >= 1 && thresholdPpm <= 1000000L)
    // three consumers of the symmetrized adjacency (degree table + both
    // wedge-join sides) — materialize once, as in [[resourceAllocation]]
    val ud = Dedup.materializeShared(
      edges.select(col("id_a").as("a"), col("id_b").as("b"))
        .unionByName(edges.select(col("id_b").as("a"), col("id_a").as("b")))
        .distinct())
    val deg = ud.groupBy(col("a").as("v")).agg(count(lit(1)).as("d"))
    val u1 = ud.select(col("a").as("v1"), col("b"))
    val u2 = ud.select(col("a").as("v2"), col("b"))
    u1.join(u2, Seq("b")).filter(col("v1") < col("v2"))
      .groupBy(col("v1"), col("v2")).agg(count(lit(1)).as("common"))
      .join(deg.select(col("v").as("v1"), col("d").as("__d1")), Seq("v1"))
      .join(deg.select(col("v").as("v2"), col("d").as("__d2")), Seq("v2"))
      .withColumn("jac_ppm",
        expr("common * 1000000L div (__d1 + __d2 - common)"))
      .filter(col("jac_ppm") >= thresholdPpm)
      .select(col("v1"), col("v2"), col("common"), col("jac_ppm"))
  }
}
