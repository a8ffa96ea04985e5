package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

import graft.functions.{vectors, NearestCentroidExpr, NearestCentroidsExpr}

/** IVF-style ANN: a k-means coarse quantizer partitions the corpus into
  * `nlist` inverted lists; queries probe the `nprobe` nearest lists and
  * re-rank candidates exactly. The second scale tier next to
  * [[Similarity.lshTopK]] — IVF adapts to the data distribution where
  * LSH is data-independent.
  *
  * Scale shape: training is `iters` passes of (assign -> per-cluster
  * elementwise mean) — each a single scan + one small shuffle (nlist x
  * dim aggregates). The centroid table (nlist x dim floats — 64 KB at
  * 256x64) travels inside the plan; assignment is a projection, the
  * probe join shuffles only (cluster, id, vec) of candidates in probed
  * lists. Never O(corpus x queries).
  */
object Ivf {

  /** Deterministic k-means: centroids seeded from an id-ordered sample
    * (no RNG), `iters` Lloyd rounds computed with DataFrame aggregates.
    * Returns nlist x dim (driver-side: this IS the coarse quantizer,
    * bounded by nlist, not by data). */
  /** `maxTrainRows` (0 = off): train the quantizer on a deterministic
    * content-keyed sample — at corpus scale k-means quality saturates
    * far below full data, and every Lloyd round is a full scan of the
    * training set, so capping the training rows is the 100 TB dial
    * (assignment still runs over everything). */
  def train(corpus: DataFrame, idCol: String, vecCol: String,
            nlist: Int, iters: Int = 3,
            maxTrainRows: Long = 0L): Array[Array[Float]] = {
    val corpus0 = corpus
    val corpusT =
      if (maxTrainRows <= 0) corpus0
      else {
        // one counting pass (a full scan when the corpus has filters —
        // still cheaper than `iters` Lloyd scans over everything)
        val n = corpus0.count()
        // floor the sample target at 8x nlist and oversample 25%: the
        // md5 sample is expected-size (binomial), and a draw under
        // nlist rows would silently under-seed the quantizer
        val target = math.max(maxTrainRows, 8L * nlist)
        if (n <= target) corpus0
        else Sampling.hashSample(corpus0, idCol,
          math.min(1.0, 1.25 * target.toDouble / n), domain = "ivf-train")
      }
    return trainImpl(corpusT, idCol, vecCol, nlist, iters)
  }

  private def trainImpl(corpus: DataFrame, idCol: String, vecCol: String,
                        nlist: Int, iters: Int): Array[Array[Float]] = {
    // deterministic seed rows WITHOUT a global sort: rank by a hash of
    // the id (spreads seeds across the corpus instead of the
    // lowest-id corner) through the two-phase top-k — each partition is
    // first reduced to nlist candidates, so the single merge reducer
    // sees partitions x nlist rows, never the corpus
    // cast like every other entry point: array<double> embeddings would
    // otherwise pass assign/probes but crash THIS collect (getSeq[Float])
    var centroids: Array[Array[Float]] = graft.plans.TopK.perKey(
        corpus.select(col(idCol).as("__id"),
            col(vecCol).cast("array<float>").as("__v"),
            pmod(hash(col(idCol)), lit(1 << 30)).as("__spread"))
          .withColumn("__g", lit(0)),
        Seq("__g"), Seq(("__spread", true), ("__id", true)), nlist)
      .orderBy(col("__spread"), col("__id")) // nlist rows: trivial sort
      .select(col("__v")).collect()
      .map(_.getSeq[Float](0).toArray)

    for (_ <- 1 to iters) {
      val assigned = corpus.select(
        assign(col(vecCol), centroids).as("cluster"), col(vecCol).as("v"))
      // elementwise mean per cluster: explode to (cluster, pos, x)
      // exact decimal mean, not avg-of-double: a double avg() sums in
      // partition-completion order, so the last ulp — and through
      // .toFloat, the centroid, and through it near-boundary cluster
      // assignments — can flip run to run (the flake class the r4 driver
      // caught on q_source_report). Decimal addition is exact, so the
      // mean is order-independent by construction; the float->decimal(12)
      // input rounding (<=5e-13) is deterministic and far below any
      // assignment margin that isn't already a coin flip.
      val means = assigned
        .select(col("cluster"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy(col("cluster"), col("pos"))
        .agg(avg(col("x").cast("decimal(27,12)")).as("m"))
        .collect()
      val next = centroids.map(_.clone())
      means.foreach { r =>
        next(r.getInt(0))(r.getInt(1)) = r.getDecimal(2).doubleValue.toFloat
      }
      centroids = next
    }
    centroids
  }

  /** Cluster id column for a vector column. */
  /** Fixed sign-pattern coarse quantizer: 4 centroids that are ±1 on
    * the first two dims and 0 elsewhere, so assignment reduces to the
    * SIGN PATTERN of (x1, x2) — training-free, plan-embeddable, and
    * exactly replayable in plain SQL (cosine order against these
    * centroids is the order of ±x1±x2). The cold-start / parity-test
    * quantizer: q_ann_ivfpq_refine runs the full IVF-PQ refine
    * pipeline on it so the DuckDB oracle can replicate probe + ADC +
    * re-rank bit-for-bit, which no trained (Lloyd) quantizer allows.
    * Centroid index i: bit 0 → dim 1 sign, bit 1 → dim 2 sign
    * (+1 when set, −1 when clear). */
  def signCentroids(dim: Int): Array[Array[Float]] = {
    require(dim >= 2, s"signCentroids needs dim >= 2, got $dim")
    Array.tabulate(4) { i =>
      val c = new Array[Float](dim)
      c(0) = if ((i & 1) == 1) 1f else -1f
      c(1) = if ((i & 2) == 2) 1f else -1f
      c
    }
  }

  def assign(vec: Column, centroids: Array[Array[Float]]): Column =
    Bridge.column(NearestCentroidExpr(
      Bridge.expression(vec.cast("array<float>")),
      new graft.functions.CentroidTable(centroids)))

  /** `nprobe` nearest cluster ids, for the query side. */
  def probes(vec: Column, centroids: Array[Array[Float]], nprobe: Int): Column =
    Bridge.column(NearestCentroidsExpr(
      Bridge.expression(vec.cast("array<float>")),
      new graft.functions.CentroidTable(centroids), nprobe))

  /** ANN top-k through the inverted lists. Deterministic (ties on
    * corpus id). */
  def topK(corpus: DataFrame, queries: DataFrame, idCol: String,
           vecCol: String, k: Int, centroids: Array[Array[Float]],
           nprobe: Int = 4): DataFrame = {
    val lists = corpus.select(col(idCol).as("corpus_id"),
      col(vecCol).as("cv"), assign(col(vecCol), centroids).as("cluster"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      explode(probes(col(vecCol), centroids, nprobe)).as("cluster"))
    rankListCandidates(lists, q, k)
  }

  /** Shared candidate scoring for the inverted-list tiers (this trainer
    * path and [[IvfIndex.topK]]): join probed queries to lists on
    * cluster, exclude self-pairs, cosine-score, rank through the common
    * ANN selection contract — ONE implementation of the tie-break, so
    * recall compares across tiers. `lists`: (cluster, corpus_id,
    * cv); `q`: (cluster, query_id, qv). */
  private[operators] def rankListCandidates(lists: DataFrame, q: DataFrame,
                                            k: Int): DataFrame = {
    val scored = lists.join(q, Seq("cluster"))
      .filter(col("query_id") =!= col("corpus_id"))
      .withColumn("cos", vectors.cosine(col("qv"), col("cv")))
    Similarity.selectAndRank(
      scored.select(col("query_id"), col("corpus_id"), col("cos")), k)
  }
}
