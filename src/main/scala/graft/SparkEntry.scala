package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType, TimestampNTZType, TimestampType}

import graft.config._
import graft.fakegen.FakeGen
import graft.functions.{anon, text}
import graft.operators.{CdcMerge, Dedup, Multimodal, Similarity, Transformators}
import graft.pipeline.TablePipeline

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every operator from SURVEY.md §2 appears as a named query; those with
  * ANSI-SQL-expressible semantics carry a DuckDB oracle in [[oracleSql]]
  * (the driver hash-compares Spark vs DuckDB results at sf0.01). The
  * deterministic-faker queries are not SQL-expressible and get the
  * weaker rows-only check; their exact semantics are pinned by the
  * ScalaTest suites instead.
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Dtype-adaptive events read. The fixture generator has shipped
    * events.ts under two parquet physical types across rounds:
    * TIMESTAMP(NANOS) — which `nanosAsLong` surfaces as a nanosecond
    * BIGINT — and TIMESTAMP_MICROS — surfaced as TIMESTAMP /
    * TIMESTAMP_NTZ. Dispatch on the read schema and normalize BOTH to a
    * µs-epoch BIGINT, the same value DuckDB's epoch_us(ts) yields (the
    * session runs in UTC, so the NTZ wall clock IS the epoch reading).
    * Unit contract for everything downstream: `ts` is MICROSECONDS —
    * the sessionize gap and range-join window constants (1800000000 =
    * 30 min) are derived from this contract. */
  private[graft] def events(s: SparkSession, dir: String): DataFrame = {
    val raw = t(s, dir, "events")
    val us = raw.schema("ts").dataType match {
      case LongType => expr("ts div 1000") // nanos-BIGINT fixture
      case TimestampType | TimestampNTZType =>
        unix_micros(col("ts").cast(TimestampType)) // micros fixture
      case other => throw new IllegalStateException(
        s"events.ts: unsupported dtype $other — expected BIGINT (nanos) " +
          "or TIMESTAMP/TIMESTAMP_NTZ (micros); did the fixture drift again?")
    }
    raw.withColumn("ts", us)
  }

  /** documents scan for the signature-heavy dedup family. The testdata
    * parquet is ONE row group per table (unsplittable), so without a
    * repair every minhash/simhash/shingle kernel would run in a single
    * task no matter how many cores exist. The repair is GATED on the
    * scan actually being starved (splits << cores): on a healthy
    * multi-file layout the gate declines and the input plan is
    * returned unchanged — both branches are asserted in PlanAuditSpec
    * ("ensureParallelism" cases). Memoized per (session, dir) so the
    * probe's file listing and planning happen once, not once per query
    * construction (r5 advisor note). */
  // bounded LRU (not an unbounded static map): a long-lived JVM cycling
  // SparkSessions must not pin stopped sessions + their file-index
  // snapshots forever. NB the memoized DataFrame holds the LISTING at
  // first use — regenerate the session (or evict past 16 dirs) if the
  // directory's files change underneath.
  private val docsSplitCache =
    new java.util.LinkedHashMap[(SparkSession, String), DataFrame](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(SparkSession, String), DataFrame]): Boolean =
        size() > 16
    }
  private def docsSplit(s: SparkSession, dir: String): DataFrame = {
    val key = (s, dir)
    val cached = docsSplitCache.synchronized(docsSplitCache.get(key))
    if (cached != null) cached
    else {
      // plan + list OUTSIDE the lock (seconds on a big dir) — unrelated
      // (session, dir) probes must not serialize on the cache monitor;
      // a concurrent duplicate probe is idempotent, last write wins
      val built = graft.operators.Repartitioning.ensureParallelism(
        t(s, dir, "documents"), col("doc_id"))
      docsSplitCache.synchronized(docsSplitCache.put(key, built))
      built
    }
  }

  /** On-disk fixture memo shared by the DMS and IVF-index fixtures:
    * bounded LRU keyed (session, sf dir) — like docsSplitCache, a
    * long-lived JVM cycling SparkSessions must not pin stopped
    * sessions forever — with the BUILD run UNDER the monitor: two
    * threads missing the cache would otherwise interleave writes.
    * Serializing is fine here — builds run once per (session, dir),
    * driver-side.
    *
    * Every BUILD gets its own directory (pid + a per-build counter +
    * a collision-safe md5 of kind:dir): a second session over the same
    * sf dir, an LRU re-build after eviction, or two sf dirs whose
    * String.hashCode collide can never mode-overwrite a directory that
    * another entry's in-flight DataFrames are still reading. Evicted
    * directories are deliberately NOT deleted eagerly (lazy plans may
    * still scan them); all of them are removed by the shutdown hook —
    * bounded by builds-per-JVM, not by the LRU size. */
  private object FixtureDirs {
    private val cache =
      new java.util.LinkedHashMap[(SparkSession, String), String](16, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[(SparkSession, String), String]): Boolean =
          size() > 16
      }
    private val seq = new java.util.concurrent.atomic.AtomicInteger(0)
    private val created = scala.collection.mutable.ListBuffer.empty[String]
    private def deleteRecursively(f: java.io.File): Unit = {
      val kids = f.listFiles()
      if (kids != null) kids.foreach(deleteRecursively)
      f.delete(); ()
    }
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      created.synchronized(created.toList)
        .foreach(p => deleteRecursively(new java.io.File(p)))))
    private def digest(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).take(6).map("%02x".format(_)).mkString
    def getOrBuild(s: SparkSession, dir: String, kind: String)
                  (build: String => Unit): String = cache.synchronized {
      val key = (s, s"$kind:$dir")
      val hit = cache.get(key)
      if (hit != null) hit
      else {
        val p = new java.io.File(System.getProperty("java.io.tmpdir"),
          s"graft_${kind}_${ProcessHandle.current().pid()}_" +
            s"${digest(s"$kind:$dir")}_${seq.getAndIncrement()}").toString
        build(p)
        created.synchronized(created += p)
        cache.put(key, p)
        p
      }
    }
  }

  /** Driver-side trained-model memo: IVF coarse centroids and PQ
    * codebooks are once-per-corpus artifacts in real serving (you train
    * a quantizer, then answer queries against it), so repeated query
    * construction over the same (session, sf dir, params) must not
    * re-run the distributed Lloyd passes. Same shape as [[FixtureDirs]]
    * (bounded LRU, session-keyed so stopped sessions age out, build
    * under the monitor — training twice concurrently would be wasted
    * cluster work, and both trainings are deterministic so serializing
    * loses nothing). Values are small driver objects (nlist x dim
    * centroids / m x k x subDim codebooks), not DataFrames. */
  private object ModelMemo {
    private val cache =
      new java.util.LinkedHashMap[(SparkSession, String), AnyRef](32, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[(SparkSession, String), AnyRef]): Boolean =
          size() > 32
      }
    def getOrTrain[T <: AnyRef](s: SparkSession, key: String)(train: => T): T =
      cache.synchronized {
        val hit = cache.get((s, key))
        if (hit != null) hit.asInstanceOf[T]
        else {
          val m = train
          cache.put((s, key), m)
          m
        }
      }
  }

  /** IVF coarse centroids for the sf dir's embeddings table (16 lists,
    * 2 Lloyd iters — the ANN tier's shared coarse quantizer). */
  private[graft] def ivfCentroidsFor(s: SparkSession, dir: String): Array[Array[Float]] =
    ModelMemo.getOrTrain(s, s"ivf:16:2:$dir") {
      graft.operators.Ivf.train(t(s, dir, "embeddings"), "vec_id", "embedding",
        nlist = 16, iters = 2)
    }

  /** PQ codebook for the sf dir's embeddings table (4 subspaces x 8
    * codes, 2 Lloyd iters — shared by the flat-ADC and IVF-PQ tiers). */
  private[graft] def pqCodebookFor(s: SparkSession, dir: String): graft.functions.PqTable =
    ModelMemo.getOrTrain(s, s"pq:4:8:2:$dir") {
      graft.operators.Pq.train(t(s, dir, "embeddings"), "vec_id", "embedding",
        m = 4, k = 8, iters = 2)
    }

  /** DMS-shaped fixture layout for the q_cdc_* listing-mode rows,
    * derived DETERMINISTICALLY from the orders table so the DuckDB
    * oracle can rebuild the same delta content from `orders` alone.
    * Layout under a per-process temp dir (pid-keyed — concurrent JVMs
    * on the same sf dir must not race each other's files):
    *   LOAD00000001/2.parquet        even/odd o_orderkey halves
    *   20240102000000-1.parquet      U dts=1: %5 keys, price+111
    *   20240106000000-1.parquet      U dts=2: %7 keys, price+222
    *   20240112000000-1.parquet      D dts=3: %11 keys  (DateAware: out of window)
    *   manual-backfill.parquet       D dts=9: %2 keys   (no date prefix)
    * The last two are DateAware's classification tripwires: admitting
    * an out-of-window or undated CDC file changes half the table and
    * the oracle row goes red (AbsolutePath intentionally applies them
    * all; FullLoadOnly none). Built once per (session, dir). */
  private def dmsFixture(s: SparkSession, dir: String): String =
    FixtureDirs.getOrBuild(s, dir, "dms_fixture") { baseDir =>
      val base = new java.io.File(baseDir)
      val orders = t(s, dir, "orders")
      def write(df: DataFrame, name: String): Unit = {
        val tmp = new java.io.File(base, s".tmp_$name")
        df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        val part = tmp.listFiles().find(_.getName.endsWith(".parquet")).get
        java.nio.file.Files.move(part.toPath,
          new java.io.File(base, name).toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        tmp.listFiles().foreach(_.delete()); tmp.delete()
      }
      write(orders.filter(col("o_orderkey") % 2 === 0), "LOAD00000001.parquet")
      write(orders.filter(col("o_orderkey") % 2 === 1), "LOAD00000002.parquet")
      write(orders.filter(col("o_orderkey") % 5 === 0)
          .withColumn("o_totalprice", col("o_totalprice") + lit(111.0))
          .withColumn(CdcMerge.OpColumn, lit("U"))
          .withColumn(CdcMerge.TsColumn, lit(1L)),
        "20240102000000-1.parquet")
      write(orders.filter(col("o_orderkey") % 7 === 0)
          .withColumn("o_totalprice", col("o_totalprice") + lit(222.0))
          .withColumn(CdcMerge.OpColumn, lit("U"))
          .withColumn(CdcMerge.TsColumn, lit(2L)),
        "20240106000000-1.parquet")
      write(orders.filter(col("o_orderkey") % 11 === 0)
          .withColumn(CdcMerge.OpColumn, lit("D"))
          .withColumn(CdcMerge.TsColumn, lit(3L)),
        "20240112000000-1.parquet")
      write(orders.filter(col("o_orderkey") % 2 === 0)
          .withColumn(CdcMerge.OpColumn, lit("D"))
          .withColumn(CdcMerge.TsColumn, lit(9L)),
        "manual-backfill.parquet")
    }

  /** JSONL delivery fixture for q_jsonl_scan, derived DETERMINISTICALLY
    * from the documents table so the DuckDB oracle can rebuild the
    * expected parse from `documents` alone: docs with doc_id % 97 == 0
    * become malformed lines (broken from the first byte, so PERMISSIVE
    * parses NO partial fields — all-null payload + the raw line in the
    * quarantine column); all others are `to_json` of (doc_id, source,
    * text). Built once per (session, dir), pid-keyed, shutdown-cleaned
    * like the DMS fixture. */
  private def jsonlFixture(s: SparkSession, dir: String): String =
    FixtureDirs.getOrBuild(s, dir, "jsonl_fixture") { baseDir =>
      val base = new java.io.File(baseDir)
      base.mkdirs()
      val lines = t(s, dir, "documents")
        .select(when(col("doc_id") % 97 === 0,
            concat(lit("BROKEN {\"doc_id\": "), col("doc_id")))
          .otherwise(to_json(struct(col("doc_id"), col("source"), col("text"))))
          .as("value"))
      val tmp = new java.io.File(base, ".tmp_jsonl")
      lines.coalesce(1).write.mode("overwrite").text(tmp.toString)
      val part = tmp.listFiles().find(_.getName.endsWith(".txt")).get
      java.nio.file.Files.move(part.toPath,
        new java.io.File(base, "delivery.jsonl").toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      ()
    }

  /** JSONL EXPORT fixture for q_jsonl_roundtrip: the write side of the
    * delivery contract. `Jsonl.write` emits the documents payload as a
    * partitioned JSONL directory once per (session, dir); the query
    * reads it back through `Jsonl.read` and must reproduce the source
    * table byte for byte — the oracle never sees the files, it replays
    * the CONTENT from `documents` alone, so any write-side mangling
    * (escaping, field drop, null handling) flips rows. */
  private def jsonlExportFixture(s: SparkSession, dir: String): String =
    FixtureDirs.getOrBuild(s, dir, "jsonl_export") { baseDir =>
      graft.sources.Jsonl.write(
        t(s, dir, "documents").select(col("doc_id"), col("source"), col("text")),
        baseDir)
    }

  /** CSV delivery fixture for q_csv_scan — the same deterministic
    * malformed population as the JSONL fixture (doc_id % 97 == 0), CSV
    * shape: clean lines `doc_id,source,text` (the corpus is verified
    * comma/quote/newline-free, so the bare form is exact; the WRITE
    * path quotes regardless), malformed lines a single comma-free
    * token whose long-parse fails — PERMISSIVE nulls the whole payload
    * and quarantines the raw line. */
  private def csvFixture(s: SparkSession, dir: String): String =
    FixtureDirs.getOrBuild(s, dir, "csv_fixture") { baseDir =>
      val base = new java.io.File(baseDir)
      base.mkdirs()
      val lines = t(s, dir, "documents")
        .select(when(col("doc_id") % 97 === 0,
            concat(lit("BROKEN id "), col("doc_id")))
          .otherwise(concat(col("doc_id"), lit(","), col("source"),
            lit(","), col("text")))
          .as("value"))
      val tmp = new java.io.File(base, ".tmp_csv")
      lines.coalesce(1).write.mode("overwrite").text(tmp.toString)
      val part = tmp.listFiles().find(_.getName.endsWith(".txt")).get
      java.nio.file.Files.move(part.toPath,
        new java.io.File(base, "delivery.csv").toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      ()
    }

  /** CSV EXPORT fixture for q_csv_roundtrip — [[graft.sources.Csv.write]]
    * once per (session, dir); the oracle replays content from
    * `documents` alone, so any write-side mangling (quoting, escaping,
    * null handling) flips rows. */
  private def csvExportFixture(s: SparkSession, dir: String): String =
    FixtureDirs.getOrBuild(s, dir, "csv_export") { baseDir =>
      graft.sources.Csv.write(
        t(s, dir, "documents").select(col("doc_id"), col("source"), col("text")),
        baseDir)
    }

  /** ORC EXPORT fixture for q_orc_roundtrip — the columnar alternative
    * to parquet on the interchange surface, Spark-native. Written once
    * per (session, dir); the read-back must reproduce the source table
    * exactly (the oracle never sees the ORC files). */
  private def orcExportFixture(s: SparkSession, dir: String): String =
    FixtureDirs.getOrBuild(s, dir, "orc_export") { baseDir =>
      t(s, dir, "documents").select(col("doc_id"), col("source"), col("text"))
        .write.mode("overwrite").orc(baseDir)
    }

  /** Fragmented-then-compacted fixture for q_compact_roundtrip: the
    * documents payload shattered into 64 tiny files (a long-running
    * ingest's natural debris), then [[graft.operators.Layout.compact]]
    * merged to 4 — the oracle replays content from `documents` alone,
    * so compaction must be byte-faithful; LayoutSpec pins the file
    * counts. */
  /** Bucketed orders/lineitem pair for q_bucketed_join, built once per
    * (session, sf dir) via ModelMemo — the bucketed WRITE is the
    * amortized one-time shuffle; every subsequent join is co-located.
    * Table names carry an sf-dir digest so two sf dirs in one session
    * can't clobber each other's catalog entries. */
  private def bucketedJoinTables(s: SparkSession, dir: String): (String, String) =
    ModelMemo.getOrTrain(s, s"bucketed_join:$dir") {
      val sfx = java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
      val bo = s"b_orders_$sfx"
      val bl = s"b_lineitem_$sfx"
      graft.operators.Bucketing.writeBucketed(
        t(s, dir, "orders"), bo, "o_orderkey", 8,
        sortCols = Seq("o_orderkey"))
      graft.operators.Bucketing.writeBucketed(
        t(s, dir, "lineitem").withColumnRenamed("l_orderkey", "o_orderkey"),
        bl, "o_orderkey", 8, sortCols = Seq("o_orderkey"))
      (bo, bl)
    }

  private def compactFixture(s: SparkSession, dir: String): String =
    FixtureDirs.getOrBuild(s, dir, "compact_fixture") { baseDir =>
      val frag = s"$baseDir/fragmented"
      t(s, dir, "documents").select(col("doc_id"), col("source"), col("text"))
        .repartition(64).write.mode("overwrite").parquet(frag)
      graft.operators.Layout.compact(s, frag, s"$baseDir/compacted", 4)
    }

  /** Hive-layout partitioned export for q_partitioned_write: the
    * documents payload written `partitionBy(source)` — the delivery
    * layout that makes per-source consumers read ONLY their
    * subdirectory (partition pruning, plan-asserted in LayoutSpec).
    * The oracle replays content from `documents` alone, so any
    * partition-encoding mangling (value-to-path escaping, partition
    * column re-typing on read-back) flips rows. */
  private def partitionedExportFixture(s: SparkSession, dir: String): String =
    FixtureDirs.getOrBuild(s, dir, "partitioned_export") { baseDir =>
      t(s, dir, "documents").select(col("doc_id"), col("text"), col("source"))
        .write.partitionBy("source").mode("overwrite").parquet(baseDir)
    }

  /** Z-ordered + zone-mapped layout for q_zonemap_prune: the documents
    * payload clustered on the (doc_id, n_chars) curve across 16 files
    * with a persisted per-file min/max index — the data-skipping
    * pairing (cluster tight envelopes, then prune the FILE LIST before
    * Spark plans the scan). The oracle replays the box predicate from
    * `documents` alone, so a pruning bug that drops a file with
    * matching rows flips the row red; LayoutSpec pins that the prune
    * actually selects a strict subset of the files. */
  private def zonemapFixture(s: SparkSession, dir: String): String =
    FixtureDirs.getOrBuild(s, dir, "zonemap_fixture") { baseDir =>
      graft.operators.Layout.writeZOrdered(
        t(s, dir, "documents").select(col("doc_id"), col("source"),
          col("n_chars")),
        "doc_id", "n_chars", baseDir, nFiles = 16)
      graft.operators.ZoneMap.write(s, baseDir, Seq("doc_id", "n_chars"))
    }

  /** Persisted IVF index for q_ann_ivf_index: built ONCE per
    * (session, sf dir) — query construction must not re-run the
    * k-means + partitioned write every time (bench/plan tooling
    * constructs queries repeatedly; the r6 advisor also flagged the
    * fixed dir name as a cross-JVM race, so the location is pid-keyed
    * and shutdown-cleaned like the DMS fixture). */
  private def ivfIndexDir(s: SparkSession, dir: String): String =
    FixtureDirs.getOrBuild(s, dir, "ivf_index") { p =>
      graft.operators.IvfIndex.build(t(s, dir, "embeddings"), "vec_id",
        "embedding", p, nlist = 16, iters = 2)
    }

  /** IVF index with tombstoned deletions for q_ann_ivf_delete: same
    * build as [[ivfIndexDir]], then vec_ids 100..110 marked deleted —
    * none of them is a planted top-1, so the brute-force oracle still
    * applies while the load path must honor the tombstones. */
  private def ivfDeleteIndexDir(s: SparkSession, dir: String): String =
    FixtureDirs.getOrBuild(s, dir, "ivf_index_del") { p =>
      graft.operators.IvfIndex.build(t(s, dir, "embeddings"), "vec_id",
        "embedding", p, nlist = 16, iters = 2)
      graft.operators.IvfIndex.markDeleted(
        t(s, dir, "embeddings")
          .filter(col("vec_id") >= 100 && col("vec_id") <= 110),
        "vec_id", p)
    }

  /** Persisted IVF-PQ index for q_ann_ivfpq_index: same build-once
    * contract as [[ivfIndexDir]], reusing the memoized quantizers
    * (train once, build once, serve many — the full serving cycle the
    * oracle then checks end to end). */
  private def ivfPqIndexDir(s: SparkSession, dir: String): String =
    FixtureDirs.getOrBuild(s, dir, "ivfpq_index") { p =>
      graft.operators.IvfPqIndex.build(t(s, dir, "embeddings"), "vec_id",
        "embedding", p, ivfCentroidsFor(s, dir), pqCodebookFor(s, dir))
    }

  /** Incrementally-built IVF-PQ index for q_ann_ivfpq_append: even
    * vec_ids at [[graft.operators.IvfPqIndex.build]] time, odd vec_ids
    * arriving later through [[graft.operators.IvfPqIndex.append]] under
    * the frozen quantizers — the daily-ingest serving cycle. Appended
    * content is deterministic, so the served result equals the
    * full-rebuild index's and the same brute-force oracle applies. */
  private def ivfPqAppendDir(s: SparkSession, dir: String): String =
    FixtureDirs.getOrBuild(s, dir, "ivfpq_index_app") { p =>
      val emb = t(s, dir, "embeddings")
      graft.operators.IvfPqIndex.build(emb.filter(col("vec_id") % 2 === 0),
        "vec_id", "embedding", p, ivfCentroidsFor(s, dir), pqCodebookFor(s, dir))
      graft.operators.IvfPqIndex.append(emb.filter(col("vec_id") % 2 =!= 0),
        "vec_id", "embedding", p)
    }

  /** Shape of every fakegen safe email (FakeGen.email): first.last with
    * an optional 0-2 digit suffix at an RFC 2606 reserved domain. Used
    * by the faker shape-invariant queries below. */
  private val FakeEmailRe =
    "^[a-z]+\\.[a-z]+[0-9]{0,2}@example\\.(com|org|net)$"

  /** Exact, order-independent aggregate for 2-decimal money/quantity
    * columns: scale to integer cents, sum as long (pure codegen'd
    * primitive math — decimal sums measured 5x slower), divide once.
    * The result double is exactly representable (sums << 2^53), so it
    * matches the DuckDB oracle bit-for-bit regardless of row order. */
  private def dsum(c: org.apache.spark.sql.Column) =
    sum(round(c * 100).cast("long")) / 100.0

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. The full
    * reference pipeline: limit -> sanitize -> filter -> anonymize. */
  def entry(spark: SparkSession): DataFrame = {
    val cfg = TableConfig(
      tableName = "customer",
      anonymizationType = AnonymizationType.Multi(Seq(
        ColumnTransformation("c_name", TransformationType.Custom("fake_name_transformation")),
        ColumnTransformation("c_acctbal", TransformationType.Nullify))),
      keepNumOfRecords = Some(500),
      filterType = FilterType.AnyOfInt("c_nationkey", Seq(3, 4)),
      sanitizeNullBytes = true)
    TablePipeline.build(
      t(spark, "/root/testdata/sf0.001", "customer"), cfg,
      orderForLimit = Seq("c_custkey"))
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- §2.3 filters (config DSL -> pushed-down predicates) ----------
    "q_filter_contains" -> ((s, dir) =>
      t(s, dir, "customer").filter(
        graft.operators.Filters.compile(FilterType.Contains("c_name", "11")))),
    "q_filter_startswith" -> ((s, dir) =>
      t(s, dir, "part").filter(
        graft.operators.Filters.compile(FilterType.StartsWith("p_name", "red")))),
    "q_filter_endswith" -> ((s, dir) =>
      t(s, dir, "part").filter(
        graft.operators.Filters.compile(FilterType.EndsWith("p_name", "bolt")))),
    "q_filter_starts_ends" -> ((s, dir) =>
      t(s, dir, "customer").filter(graft.operators.Filters.compile(
        FilterType.StartsAndEndsWith("c_name", "Customer#", "5")))),
    "q_filter_equals" -> ((s, dir) =>
      t(s, dir, "customer").filter(
        graft.operators.Filters.compile(FilterType.Equals("c_mktsegment", "MACHINERY")))),
    "q_filter_anyof_int" -> ((s, dir) =>
      t(s, dir, "supplier").filter(
        graft.operators.Filters.compile(FilterType.AnyOfInt("s_nationkey", Seq(1, 2, 3))))),
    "q_filter_anyof_string" -> ((s, dir) =>
      events(s, dir).filter(graft.operators.Filters.compile(
        FilterType.AnyOfString("event_type", Seq("click", "view"))))),

    // ---- §2.2 record reduction ----------------------------------------
    "q_limit" -> ((s, dir) =>
      t(s, dir, "customer").orderBy(col("c_custkey")).limit(100)),

    // ---- §2.4 non-faker transforms ------------------------------------
    "q_replace" -> ((s, dir) =>
      Transformators.applyMulti(t(s, dir, "customer"), Seq(
        ColumnTransformation("c_name", TransformationType.Replace("CONFIDENTIAL"))),
        FakeGen.DefaultSeed)),
    "q_nullify" -> ((s, dir) =>
      Transformators.applyMulti(t(s, dir, "customer"), Seq(
        ColumnTransformation("c_acctbal", TransformationType.Nullify)),
        FakeGen.DefaultSeed)),
    "q_sanitize_null_bytes" -> ((s, dir) =>
      Transformators.sanitizeNullBytes(t(s, dir, "documents"))),

    // ---- §2.9/§7.6 CDC ------------------------------------------------
    // Latest version per key (the within-batch upsert dedup).
    "q_cdc_latest_per_key" -> ((s, dir) =>
      CdcMerge.latestPerKey(events(s, dir), Seq("user_id"), "ts",
        tieBreakers = Seq("event_id"))),
    // k-anonymity audit of the anonymized-release shape: QI groups
    // (nation, 100-wide balance band) re-identifying fewer than 5
    // candidates — the QA step after the anonymization pipeline
    "q_k_anonymity" -> ((s, dir) =>
      graft.operators.Privacy.kAnonymityViolations(
        t(s, dir, "customer").select(col("c_nationkey"),
          expr("CAST(round(c_acctbal * 100) AS BIGINT) div 10000")
            .as("bal_band")),
        quasiCols = Seq("c_nationkey", "bal_band"), k = 5)),
    // l-diversity audit on the same fine QI: groups whose sensitive
    // market segment is too homogeneous (k-anonymous but value-leaking)
    "q_l_diversity" -> ((s, dir) =>
      graft.operators.Privacy.lDiversityViolations(
        t(s, dir, "customer").select(col("c_nationkey"),
          col("c_mktsegment"),
          expr("CAST(round(c_acctbal * 100) AS BIGINT) div 10000")
            .as("bal_band")),
        quasiCols = Seq("c_nationkey", "bal_band"),
        sensitiveCol = "c_mktsegment", l = 3)),
    // ε-DP count release: per-event-type counts under the truncated
    // geometric mechanism (eps=1, bound=8), deterministic salted-hash
    // noise so the release replays bit-for-bit
    "q_dp_noisy_counts" -> ((s, dir) =>
      graft.operators.Privacy.dpNoisyCounts(events(s, dir),
        Seq("event_type"), eps = 1.0, bound = 8, seed = "dp42")
        .select(col("event_type"), col("n_noisy"))),
    // the audit half of the same release: exact vs noisy, drawn noise,
    // truncation-bound check, utility loss in ppm
    "q_dp_noise_audit" -> ((s, dir) =>
      graft.operators.Privacy.dpNoiseAudit(events(s, dir),
        Seq("event_type"), eps = 1.0, bound = 8, seed = "dp42")),
    // snapshot diff: added/removed/changed keys between the customer
    // table and a deterministically mutated copy (deletes %7, balance
    // bumps %3, one synthetic insert block)
    "q_snapshot_diff" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val newSnap = c.filter(col("c_custkey") % 7 =!= 0)
        .withColumn("c_acctbal",
          when(col("c_custkey") % 3 === 0, col("c_acctbal") + lit(50.0))
            .otherwise(col("c_acctbal")))
        .unionByName(c.filter(col("c_custkey") % 11 === 0)
          .withColumn("c_custkey", col("c_custkey") + lit(10000000L)))
      CdcMerge.snapshotDiff(c, newSnap, Seq("c_custkey"))
    }),
    // Benford first-significant-digit profile of order totals: counts
    // plus observed ppm share, all-integer
    "q_benford" -> ((s, dir) =>
      graft.operators.Analytics.benford(t(s, dir, "orders"),
        numCol = "o_totalprice")),
    // SCD Type 2 dimension from the event stream: per-user event_type
    // version history with validity intervals; no-op updates collapse
    "q_cdc_scd2" -> ((s, dir) =>
      CdcMerge.scd2(
        events(s, dir).filter(col("user_id") % 5 === 0)
          .select(col("user_id"), col("ts"), col("event_id"),
            col("event_type")),
        pk = Seq("user_id"), ts = "ts", tie = "event_id",
        tracked = Seq("event_type"))),
    // point-in-time join: every event of the SCD2 population paired
    // with the dimension version in effect at its timestamp — asof on
    // effective_from (intervals tile), one exchange, no range join
    "q_pit_join" -> ((s, dir) => {
      val pop = events(s, dir).filter(col("user_id") % 5 === 0)
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type"))
      val dim = CdcMerge.scd2(pop, pk = Seq("user_id"), ts = "ts",
        tie = "event_id", tracked = Seq("event_type"))
      CdcMerge.pointInTimeJoin(
        pop.select(col("user_id"), col("ts"), col("event_id")),
        dim, pk = Seq("user_id"), factTs = "ts")
    }),
    // Full snapshot+delta merge with I/U/D ops, delta derived
    // deterministically from orders so the oracle can build the same one.
    "q_cdc_apply_delta" -> ((s, dir) => {
      val orders = t(s, dir, "orders")
      val u = orders.filter(col("o_orderkey") % 3 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + lit(1000.0))
        .withColumn(CdcMerge.OpColumn, lit("U"))
        .withColumn(CdcMerge.TsColumn, lit(2L))
      val d = orders.filter(col("o_orderkey") % 17 === 0)
        .withColumn(CdcMerge.OpColumn, lit("D"))
        .withColumn(CdcMerge.TsColumn, lit(1L))
      CdcMerge.applyDelta(orders, u.unionByName(d), Seq("o_orderkey"))
    }),
    // DMS 3-mode file listing flowing through the oracle gate: a real
    // on-disk LOAD+CDC layout (see dmsFixture) listed in DateAware mode
    // [2024-01-01, 2024-01-08] — exactly two of the four CDC files are
    // in-window; admitting the out-of-window delete batch or the
    // undated backfill file flips the row red
    "q_cdc_dateaware" -> ((s, dir) =>
      graft.sources.DmsFiles.snapshot(s, dmsFixture(s, dir),
        pk = Seq("o_orderkey"),
        mode = graft.sources.DmsFiles.DateAware(
          Some("2024-01-01"), Some("2024-01-08")))),
    // FullLoadOnly over the same fixture: every CDC file ignored, so
    // the snapshot is exactly the union of the two LOAD halves — any
    // CDC leakage into this mode changes the row set
    "q_cdc_fullload" -> ((s, dir) =>
      graft.sources.DmsFiles.snapshot(s, dmsFixture(s, dir),
        pk = Seq("o_orderkey"),
        mode = graft.sources.DmsFiles.FullLoadOnly)),
    // AbsolutePath over the same fixture: ALL four CDC files apply,
    // latest ingestion timestamp per key wins across files — the
    // undated backfill (dts=9) deletes every even key, the %11 delete
    // (dts=3) beats both updates, %7 (dts=2) beats %5 (dts=1)
    "q_cdc_absolute" -> ((s, dir) =>
      graft.sources.DmsFiles.snapshot(s, dmsFixture(s, dir),
        pk = Seq("o_orderkey"),
        mode = graft.sources.DmsFiles.AbsolutePath)),
    // POINT-IN-TIME recovery over the same append-only trail: replay
    // only CDC rows with ingestion ts <= 1, i.e. the state after the
    // first update batch and before everything later — the %7 update,
    // the %11 delete and the undated backfill must all be absent
    "q_cdc_asof_snapshot" -> ((s, dir) =>
      graft.sources.DmsFiles.snapshotAsOf(s, dmsFixture(s, dir),
        pk = Seq("o_orderkey"), asOfTs = 1L)),
    // ADDITIVE schema evolution: the delta carries a column the
    // snapshot predates (upstream ADD COLUMN o_channel); the merge
    // widens the snapshot with typed NULLs and applies I/U/D as usual
    // — deletes (%13, later ts) win over the widened updates (%4)
    "q_cdc_schema_evolution" -> ((s, dir) => {
      val orders = t(s, dir, "orders")
      val u = orders.filter(col("o_orderkey") % 4 === 0)
        .withColumn("o_channel",
          concat(lit("ch-"), (col("o_orderkey") % 3).cast("string")))
        .withColumn(CdcMerge.OpColumn, lit("U"))
        .withColumn(CdcMerge.TsColumn, lit(1L))
      val d = orders.filter(col("o_orderkey") % 13 === 0)
        .withColumn("o_channel", lit(null).cast("string"))
        .withColumn(CdcMerge.OpColumn, lit("D"))
        .withColumn(CdcMerge.TsColumn, lit(2L))
      CdcMerge.applyDeltaEvolved(orders, u.unionByName(d), Seq("o_orderkey"))
    }),
    // file-level data skipping: a persisted per-file min/max index
    // over the z-ordered layout prunes the FILE LIST before Spark
    // plans the scan; result must equal the plain filtered scan
    "q_zonemap_prune" -> ((s, dir) => {
      import graft.operators.ZoneMap
      ZoneMap.prunedRead(s, zonemapFixture(s, dir), Seq(
          ZoneMap.Interval("doc_id", 64, 191),
          ZoneMap.Interval("n_chars", 100, 400)))
        .select(col("doc_id"), col("source"), col("n_chars"))
    }),
    // PII DETECTION report: per-source match counts under the same
    // sequential rule semantics as q_pii_redact (an email's digits are
    // never double-reported as <NUM>)
    "q_pii_report" -> ((s, dir) =>
      Transformators.piiReport(t(s, dir, "documents"), Seq("source"), "text")),
    // ordered view -> click -> purchase funnel, 3-day window from the
    // first view; ts is the µs-contract events read
    "q_funnel" -> ((s, dir) =>
      graft.operators.Temporal.funnel(events(s, dir), "user_id", "ts",
        steps = Seq(col("event_type") === "view",
          col("event_type") === "click",
          col("event_type") === "purchase"),
        window = 259200000000L)),
    // weekly cohort retention over the same µs contract
    "q_retention" -> ((s, dir) =>
      graft.operators.Temporal.retention(events(s, dir), "user_id", "ts",
        periodLength = 604800000000L)),
    // rolling z-score anomaly flags in exact integer arithmetic:
    // (n·x − S)² > z²·(n·Q − S²) over the trailing-20 frame
    "q_anomalies" -> ((s, dir) =>
      graft.operators.Temporal.anomalies(events(s, dir), "user_id", "ts",
        "value", tieCol = "event_id")),

    // ---- §2.6-§2.7 aggregation / join / window (engine generality) ----
    "q1_agg" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          count(lit(1)).as("count_order"))),
    "q_join_agg" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      // dimension side is small at any SF that fits a dim table: broadcast
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(dsum(col("o_totalprice")).as("revenue"),
             count(lit(1)).as("n_orders"))
    }),
    "q_window_topk" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      t(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rn"))
    }),

    // ---- engine generality: joins / set ops / windows / scalars -------
    "q_join_semi" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders").filter(col("o_totalprice") > 400000)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
    }),
    "q_join_anti" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
    }),
    "q_join_outer" -> ((s, dir) => {
      val n = t(s, dir, "nation")
      val s2 = t(s, dir, "supplier")
      n.join(s2, n("n_nationkey") === s2("s_nationkey"), "left")
        .select(col("n_nationkey"), col("n_name"), col("s_suppkey"), col("s_name"))
    }),
    "q_set_ops" -> ((s, dir) => {
      val hot = t(s, dir, "orders").filter(col("o_totalprice") > 300000)
        .select(col("o_custkey"))
      val urgent = t(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT").select(col("o_custkey"))
      hot.intersect(urgent)
        .unionByName(hot.exceptAll(hot)) // exercises except (empty) + union
        .distinct()
    }),
    "q_agg_stats" -> ((s, dir) =>
      t(s, dir, "lineitem").groupBy(col("l_returnflag")).agg(
        min(col("l_quantity")).as("min_qty"),
        max(col("l_quantity")).as("max_qty"),
        countDistinct(col("l_partkey")).as("n_parts"),
        count(lit(1)).as("n_rows"))),
    "q_rollup" -> ((s, dir) =>
      t(s, dir, "orders").rollup(col("o_orderpriority"), col("o_orderstatus"))
        .agg(count(lit(1)).as("n"))),
    "q_cube" -> ((s, dir) =>
      t(s, dir, "orders").cube(col("o_orderpriority"), col("o_orderstatus"))
        .agg(count(lit(1)).as("n"))),
    // PIVOT with the value set PINNED: passing the statuses up front
    // skips Spark's extra distinct-discovery job AND keeps the output
    // schema stable at any SF (a pivot whose columns depend on the data
    // is a schema hazard at 100 TB). One shuffle, map-side combined.
    "q_pivot" -> ((s, dir) =>
      t(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .select(col("o_orderpriority"),
          coalesce(col("F"), lit(0L)).as("n_f"),
          coalesce(col("O"), lit(0L)).as("n_o"),
          coalesce(col("P"), lit(0L)).as("n_p"))),
    // UNPIVOT (melt) — the wide→long schema-normalization primitive.
    // Aggregate FIRST so the melt runs over a bounded wide table; a melt
    // before the aggregate would 3× the shuffle for the same answer.
    "q_unpivot" -> ((s, dir) =>
      t(s, dir, "lineitem").groupBy(col("l_returnflag"))
        .agg(dsum(col("l_quantity")).as("qty"),
             dsum(col("l_extendedprice")).as("base_price"),
             dsum(col("l_discount")).as("discount"))
        .unpivot(Array(col("l_returnflag")),
          Array(col("qty"), col("base_price"), col("discount")),
          "measure", "value")),
    // GROUPING SETS beyond rollup/cube: just the two marginals, no cross
    // terms — Spark only exposes this through SQL, so it runs on the SQL
    // face (single expand + one shuffle, same plan family as rollup)
    "q_grouping_sets" -> ((s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("gs_orders")
      s.sql(
        "SELECT o_orderpriority, o_orderstatus, count(1) AS n " +
        "FROM gs_orders " +
        "GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus))")
    }),
    // KMV (k-minimum-values) cardinality sketch, the mergeable
    // distinct-count estimator (Bar-Yossef et al. 2002): keep the k
    // smallest distinct hash fractions per group; estimate
    // (k-1)/u_(k). Hash = first 52 bits of md5 (both engines parse the
    // same 13 hex chars, and 52-bit ints are exact in the double
    // division, so the oracle replays the estimate EXACTLY — unlike
    // HLL, whose engine-specific sketches never match across systems).
    // Scale shape: one map-side-combined distinct of (group, hash) —
    // the sketch-build pass — then the bounded-heap TopKPerKey physical
    // operator keeps k rows per group; groups with < k distinct values
    // report exact counts (the sketch degenerates to exact, by design).
    "q_sketch_kmv" -> ((s, dir) => {
      val sk = graft.operators.Sketch.kmv(t(s, dir, "events"),
        Seq("event_type"), "user_id", k = 32)
      sk.select(col("event_type"),
        graft.operators.Sketch.kmvEstimate(col("sketch"), 32).as("n_est"))
    }),
    // the MERGE path: per-shard sketches (event_id parity as the shard
    // key) rolled up without rescanning source data. KMV merge is
    // lossless — union the hash sets, keep the k smallest — so the
    // merged sketch IS the whole-corpus sketch and the same oracle
    // applies row for row.
    "q_sketch_kmv_merge" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val shards = graft.operators.Sketch.kmv(
          ev.filter(col("event_id") % 2 === 0), Seq("event_type"), "user_id", 32)
        .unionByName(graft.operators.Sketch.kmv(
          ev.filter(col("event_id") % 2 =!= 0), Seq("event_type"), "user_id", 32))
      graft.operators.Sketch.kmvMerge(shards, Seq("event_type"), 32)
        .select(col("event_type"),
          graft.operators.Sketch.kmvEstimate(col("sketch"), 32).as("n_est"))
    }),
    // KMV set algebra: estimated union and intersection of two user
    // populations from their 32-hash sketches alone — corpus-overlap
    // analytics with no rescan and no join of the underlying sets.
    // One kmv pass builds both sketches; a conditional max-aggregate
    // pivots them onto one row (arrays order lexicographically).
    "q_sketch_overlap" -> ((s, dir) => {
      import graft.operators.Sketch
      val sks = Sketch.kmv(
        t(s, dir, "events").filter(col("event_type").isin("click", "purchase")),
        Seq("event_type"), "user_id", 32)
      sks.agg(
          max(when(col("event_type") === "click", col("sketch"))).as("a"),
          max(when(col("event_type") === "purchase", col("sketch"))).as("b"))
        .select(
          Sketch.kmvEstimate(Sketch.kmvUnionK(col("a"), col("b"), 32), 32)
            .as("n_union_est"),
          Sketch.kmvIntersectEstimate(col("a"), col("b"), 32)
            .as("n_common_est"))
    }),
    // exact interpolated percentiles (Spark `percentile` and DuckDB
    // `quantile_cont` share the linear-interpolation definition;
    // round(6) guards the last-ulp of the interpolation arithmetic)
    "q_percentiles" -> ((s, dir) =>
      t(s, dir, "events").groupBy(col("event_type")).agg(
        round(expr("percentile(value, 0.5)"), 6).as("p50"),
        round(expr("percentile(value, 0.95)"), 6).as("p95"),
        round(expr("percentile(value, 0.99)"), 6).as("p99"))),
    // bottom-k QUANTILE sketch: the KMV idea on the distribution axis
    // — a deterministic md5-ordered row sample of 64 rows per group,
    // mergeable and exact below capacity; estimates are interpolated
    // percentiles over the sampled values
    "q_sketch_quantile" -> ((s, dir) => {
      import graft.operators.Sketch
      Sketch.quantileSketch(t(s, dir, "events"), Seq("event_type"),
          "value", "event_id", k = 64)
        .select(col("event_type"),
          round(Sketch.quantileEstimate(col("qsketch"), 0.5), 6).as("p50_est"),
          round(Sketch.quantileEstimate(col("qsketch"), 0.9), 6).as("p90_est"))
    }),
    // the KMV tier on the PURE-SQL surface: sketch build is plain
    // aggregates over kmv_hash (collect_set -> array_sort -> slice =
    // bottom-k), estimate via kmv_estimate — zero Scala imports, same
    // exact-replay oracle as the operator tier. NB the SQL build
    // collects each group's distinct hashes before slicing; the
    // operator tier's TopKPerKey heap is the bounded-memory path for
    // heavy groups — this surface is for SQL-only contexts.
    "q_sketch_kmv_sql" -> ((s, dir) => {
      graft.functions.registry.registerAll(s)
      t(s, dir, "events").createOrReplaceTempView("graft_kmv_events")
      s.sql("""
        SELECT event_type,
               kmv_estimate(slice(array_sort(collect_set(kmv_hash(user_id))),
                                  1, 32), 32) AS n_est
        FROM graft_kmv_events GROUP BY event_type
      """)
    }),
    // the bottom-k quantile sketch on the PURE-SQL surface (same
    // caveat: the SQL build collects the group; the operator tier's
    // heap is the scale path). Struct arrays sort by (h, v) exactly
    // like the operator's (hash, value) order.
    "q_sketch_quantile_sql" -> ((s, dir) => {
      graft.functions.registry.registerAll(s)
      t(s, dir, "events").createOrReplaceTempView("graft_qsk_events")
      s.sql("""
        SELECT event_type,
               round(quantile_estimate(qsk, 0.5D), 6) AS p50_est,
               round(quantile_estimate(qsk, 0.9D), 6) AS p90_est
        FROM (SELECT event_type,
                     slice(array_sort(collect_list(struct(
                       kmv_hash(event_id) AS h,
                       CAST(value AS DOUBLE) AS v))), 1, 64) AS qsk
              FROM graft_qsk_events GROUP BY event_type)
      """)
    }),
    // count-min sketch over the document token stream (d=4, w=1024):
    // probe the 30 hottest exact tokens — CMS never underestimates,
    // and with this vocab-vs-width ratio the table replays exactly
    // sketch-accuracy audits: estimate vs exact, in-engine (the eval
    // tier's approximation half — run these before trusting sketch
    // roll-ups as the serving path)
    "q_kmv_eval" -> ((s, dir) =>
      graft.operators.Eval.kmvCardinalityError(t(s, dir, "events"),
        Seq("event_type"), "user_id", k = 32)),
    "q_sketch_eval" -> ((s, dir) =>
      graft.operators.Eval.quantileSketchRankError(t(s, dir, "events"),
        "event_type", "value", "event_id", k = 64)),
    // SimHash gate characterization: flag rate by exact-jaccard decile
    // (recall on the dup band, false-flag rate on the low-sim mass)
    "q_dedup_eval" -> ((s, dir) =>
      Dedup.simhashFlagRateEval(docsSplit(s, dir), "doc_id", "text",
        n = 3, maxHamming = 6)),
    "q_sketch_cms" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val toks = docs.select(
          explode(split(lower(trim(col("text"))), "\\s+")).as("token"))
        .filter(length(col("token")) > 0)
      val table = graft.operators.Sketch.cms(toks, Nil, "token",
        depth = 4, width = 1024)
      val probes = graft.operators.Corpus.vocabTopK(docs, "text", 30)
        .withColumnRenamed("cnt", "exact_cnt")
      graft.operators.Sketch.cmsEstimate(table, probes, "token",
          depth = 4, width = 1024)
        .select(col("token"), col("exact_cnt"), col("est").as("est_cnt"))
    }),
    // per-source CMS shards summed cell-wise ≡ the corpus table
    // (counts are additive), so the merged estimates replay
    // q_sketch_cms's oracle verbatim — the roll-up never rescans
    "q_sketch_cms_merge" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val toks = docs.select(col("source"),
          explode(split(lower(trim(col("text"))), "\\s+")).as("token"))
        .filter(length(col("token")) > 0)
      val shards = graft.operators.Sketch.cms(toks, Seq("source"),
        "token", depth = 4, width = 1024)
      val merged = graft.operators.Sketch.cmsMerge(shards)
      val probes = graft.operators.Corpus.vocabTopK(docs, "text", 30)
        .withColumnRenamed("cnt", "exact_cnt")
      graft.operators.Sketch.cmsEstimate(merged, probes, "token",
          depth = 4, width = 1024)
        .select(col("token"), col("exact_cnt"), col("est").as("est_cnt"))
    }),
    // the MERGE path: per-shard sketches (event_id parity) rolled up
    // without rescanning — shards partition the rows, so union the
    // (h, v) pairs and keep the k smallest by hash: the merged sketch
    // IS the whole-corpus sketch and the same oracle applies
    "q_sketch_quantile_merge" -> ((s, dir) => {
      import graft.operators.Sketch
      val ev = t(s, dir, "events")
      val shards = Sketch.quantileSketch(
          ev.filter(col("event_id") % 2 === 0), Seq("event_type"),
          "value", "event_id", 64)
        .unionByName(Sketch.quantileSketch(
          ev.filter(col("event_id") % 2 =!= 0), Seq("event_type"),
          "value", "event_id", 64))
      Sketch.quantileMerge(shards, Seq("event_type"), 64)
        .select(col("event_type"),
          round(Sketch.quantileEstimate(col("qsketch"), 0.5), 6).as("p50_est"),
          round(Sketch.quantileEstimate(col("qsketch"), 0.9), 6).as("p90_est"))
    }),
    "q_window_running" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "orders").select(col("o_custkey"), col("o_orderkey"),
        sum(round(col("o_totalprice") * 100).cast("long")).over(w).as("running_cents"))
    }),
    "q_json_extract" -> ((s, dir) =>
      t(s, dir, "events").select(col("event_id"),
        get_json_object(col("props"), "$.k").cast("int").as("k"))),
    "q_date_parts" -> ((s, dir) =>
      t(s, dir, "orders").groupBy(
        year(col("o_orderdate")).as("y"), month(col("o_orderdate")).as("m"))
        .agg(count(lit(1)).as("n"))),
    "q_conditional_agg" -> ((s, dir) =>
      events(s, dir)
        .groupBy(col("user_id"))
        .agg(
          sum(when(col("event_type") === "purchase", 1).otherwise(0)).as("purchases"),
          sum(when(col("event_type") === "error", 1).otherwise(0)).as("errors"),
          count(lit(1)).as("total"))),

    // custom physical operator: bounded-heap top-k per key (no sort)
    "q_topk_custom" -> ((s, dir) =>
      graft.plans.TopK.perKey(t(s, dir, "orders"), Seq("o_custkey"),
        Seq(("o_totalprice", false), ("o_orderkey", true)), k = 3)),

    // the same result through the OPTIMIZER RULE: the user writes the
    // idiomatic window top-k and DROPS the rank, TopKRewrite replaces
    // the Window+Filter with TopKPerKeyPlan (rule-fires asserted in
    // TopKPlanSpec; q_window_topk, which SELECTS rn, is the negative
    // case where the rule must decline)
    "q_topk_rewrite" -> ((s, dir) => {
      graft.plans.TopK.register(s)
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      t(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
    }),

    // ---- temporal: backward as-of join --------------------------------
    // last click before each purchase, per user (point-in-time join)
    "q_asof_join" -> ((s, dir) => {
      val ev = events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id").as("click_id"))
      graft.operators.Temporal.asofJoin(purchases, clicks,
        keyCols = Seq("user_id"), tsCol = "ts", rightPrefix = "")
    }),

    // purchases falling inside a 30-minute window after each click
    "q_range_join" -> ((s, dir) => {
      val ev = events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val sessions = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("start"),
          (col("ts") + lit(1800000000L)).as("end"),
          col("event_id").as("click_id"))
      graft.operators.Temporal.rangeJoin(purchases, sessions,
        keyCols = Seq("user_id"), leftTs = "ts",
        rightStart = "start", rightEnd = "end",
        blockWidth = 1800000000L)
        .select(col("event_id"), col("user_id"), col("ts"), col("click_id"))
    }),

    // ---- training-data pipeline: sampling & mixing --------------------
    "q_sample_mod" -> ((s, dir) =>
      graft.operators.Sampling.modSample(t(s, dir, "customer"), "c_custkey", 10)),
    "q_sample_stratified" -> ((s, dir) =>
      graft.operators.Sampling.stratified(t(s, dir, "documents"),
        "lang", "doc_id", nPerClass = 20)),
    "q_sample_hash" -> ((s, dir) =>
      graft.operators.Sampling.hashSample(t(s, dir, "customer"), "c_custkey", 0.25)),
    // exact budget-proportional stratified sample: every source
    // contributes its population share of a 100-row budget TO THE ROW
    // (fraction-threshold sampling only lands near its rate), rows
    // chosen as the group's lowest content hashes
    "q_sample_proportional" -> ((s, dir) =>
      graft.operators.Sampling.proportionalSample(
          t(s, dir, "documents").select(col("doc_id"), col("source")),
          "source", "doc_id", budget = 100)
        .select(col("doc_id"), col("source"))),
    // systematic weighted sample (~500 rows, probability proportional
    // to order value): md5-ordered cumulative cents cross stride
    // boundaries — exact integers, distributed cumsum, no global sort
    "q_sample_systematic" -> ((s, dir) =>
      graft.operators.Sampling.systematicWeighted(
        t(s, dir, "orders")
          .withColumn("cents", floor(col("o_totalprice") * 100).cast("long")),
        "o_orderkey", "cents", k = 500)),
    // deterministic 80/10/10 train/val/test assignment — membership a
    // pure function of doc_id, exact SQL replay like the whole family
    "q_split_assign" -> ((s, dir) =>
      graft.operators.Sampling.splitAssign(t(s, dir, "documents"),
          "doc_id", trainFrac = 0.8, valFrac = 0.1)
        .select(col("doc_id"), col("split"))),
    // leakage-free variant: near-dup clusters split as UNITS (split
    // identity = component representative), so no eval doc has a
    // near-copy in train
    "q_split_leakage_free" -> ((s, dir) =>
      Dedup.leakageFreeSplit(docsSplit(s, dir), "doc_id", "text",
          trainFrac = 0.8, valFrac = 0.1)
        .select(col("doc_id"), col("component"), col("split"))),
    // correlated-key-sample join-size estimate: predicted vs exact
    // self-join cardinality on the events user key, no join executed
    "q_join_size_est" -> ((s, dir) =>
      graft.operators.Sketch.selfJoinSizeEstimate(
        events(s, dir).select(col("user_id")), "user_id", mod = 8)),
    // Z-order layout key on the oracle board: the Morton interleave is
    // pure integer bit math, replayed in the oracle as the unrolled
    // 31-term shift-and-or — any curve bug (bit order, sign handling)
    // flips rows. The write-side clustering property itself is pinned
    // in LayoutSpec (box-query file locality).
    "q_zorder_key" -> ((s, dir) =>
      t(s, dir, "events").select(col("event_id"),
        graft.operators.Layout.zorder2(
          col("user_id"), col("event_id")).as("z"))),
    // the N-dimensional curve (3 dims x 20 bits here): bit i of dim d
    // lands at i*3 + d; oracle replays the unrolled 60-term interleave
    "q_zorder_key3" -> ((s, dir) =>
      t(s, dir, "events").select(col("event_id"),
        graft.operators.Layout.zorderN(Seq(
          pmod(col("user_id"), lit(1048576L)),
          pmod(col("event_id"), lit(1048576L)),
          pmod(floor(col("value") * 100).cast("long"), lit(1048576L))),
          bits = 20).as("z"))),
    // skew-safe aggregation surfaced on the oracle board: the salted
    // two-stage count must be RESULT-INVISIBLE (equal to the plain
    // groupBy), which is exactly what the plain-SQL oracle asserts
    "q_skew_salted_agg" -> ((s, dir) =>
      graft.operators.Skew.saltedCount(t(s, dir, "events"),
        Seq("event_type"))),
    // salted equi-join for a skewed left side: salting must be
    // invisible in the result — the oracle is the PLAIN join
    "q_skew_salted_join" -> ((s, dir) =>
      graft.operators.Skew.saltedJoin(
          t(s, dir, "orders"),
          t(s, dir, "customer")
            .select(col("c_custkey").as("o_custkey"), col("c_mktsegment")),
          "o_custkey", buckets = 8)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("c_mktsegment"))),
    // the skew DIAGNOSIS the salted paths depend on: topK heaviest
    // keys, their row share, and hot-ratio vs a uniform key (1e6 ppm
    // = exactly average) — run on the join key before the shuffle
    "q_key_skew_profile" -> ((s, dir) =>
      graft.operators.Skew.keySkewProfile(events(s, dir),
        Seq("user_id"), topK = 10)),
    // cardinality control before encoding/mixing: nations under a 4%
    // corpus share collapse into __OTHER__, exact ppm arithmetic
    "q_rare_merge" -> ((s, dir) =>
      graft.operators.Analytics.rareCategoryMerge(
        t(s, dir, "customer"), "c_nationkey", minSharePpm = 40000L)),
    // the apply-variant a pipeline consumes: rows relabeled in place,
    // keep-set broadcast (category-sized), corpus touched once
    "q_rare_merge_apply" -> ((s, dir) =>
      graft.operators.Analytics.applyRareMerge(
        t(s, dir, "customer"), "c_nationkey", minSharePpm = 40000L)
        .select(col("c_custkey"), col("c_nationkey"))),
    // Fellegi-Sunter record linkage: customer pairs blocked on the
    // NAME PREFIX (all but the last two characters — a band of ~100
    // adjacent keys, so block CARDINALITY grows with corpus size and
    // per-block pair work stays bounded; blocking on a fixed-domain
    // attribute like nation makes pair work ~N²/25, the classic
    // "green at sf0.1, dead at 100x" ER mistake), scored by three
    // field comparators with fixed ppm log-odds weights; links =
    // pairs at or above the decision threshold
    "q_linkage_score" -> ((s, dir) =>
      graft.operators.Linkage.scorePairs(linkageCustomer(s, dir),
        "c_custkey", Seq("name_blk"), linkageRules, thresholdPpm = 550000L)),
    // the paper's actual three-way output: link / clerical-review /
    // nonlink counts per agreement pattern — the report that sizes the
    // review queue before thresholds are committed
    "q_linkage_triage" -> ((s, dir) =>
      graft.operators.Linkage.triage(linkageCustomer(s, dir), "c_custkey",
        Seq("name_blk"), linkageRules, lowerPpm = 300000L,
        upperPpm = 550000L)),
    // linked pairs -> entity clusters (min-member-id representative);
    // hybrid union-find under the driver bound, min-label BSP above it
    "q_linkage_entities" -> ((s, dir) =>
      graft.operators.Linkage.resolveEntities(
        graft.operators.Linkage.scorePairs(linkageCustomer(s, dir),
          "c_custkey", Seq("name_blk"), linkageRules, 550000L)
          .select(col("id_a"), col("id_b")))),
    // star clusters over the same decided links: one-hop min-label
    // contraction — the over-merge-averse read next to
    // q_linkage_entities' transitive closure (a dirty chain cannot
    // pull its endpoints together; cluster diameter <= 2)
    "q_linkage_star" -> ((s, dir) =>
      graft.operators.Linkage.starClusters(
        graft.operators.Linkage.scorePairs(linkageCustomer(s, dir),
          "c_custkey", Seq("name_blk"), linkageRules, 550000L)
          .select(col("id_a"), col("id_b")))),
    // survivorship: one golden record per entity — modal segment (ties
    // to the smaller value), max balance, latest-non-null balance by
    // member id (the "most recent system wins" MDM rule, ties on the
    // timestamp to the larger value), the representative's name
    "q_linkage_golden" -> ((s, dir) => {
      import graft.operators.Linkage
      val ents = Linkage.resolveEntities(
        Linkage.scorePairs(linkageCustomer(s, dir), "c_custkey",
          Seq("name_blk"), linkageRules, 550000L)
          .select(col("id_a"), col("id_b")))
      val cust = t(s, dir, "customer")
      val mem = ents.join(cust, ents("id") === cust("c_custkey"))
        .withColumn("bal_cents", floor(col("c_acctbal") * 100).cast("long"))
        .select(col("entity_id"), col("id"), col("c_mktsegment"),
          col("bal_cents"))
      Linkage.goldenRecords(mem, "entity_id",
          modalCols = Seq("c_mktsegment"), maxCols = Seq("bal_cents"),
          recencyCols = Seq(("bal_cents", "id")))
        .join(cust.select(col("c_custkey").as("entity_id"),
          col("c_name").as("rep_name")), "entity_id")
        .select(col("entity_id"), col("n_members"),
          col("c_mktsegment").as("seg"), col("bal_cents_max"),
          col("bal_cents_latest"), col("rep_name"))
    }),
    // incremental linkage — the continuous-curation shape: a 20% ingest
    // batch links against the 80% resolved corpus via the block index,
    // never regenerating existing x existing pairs; the quotient
    // construction makes the output EQUAL the full batch re-run over
    // the union (the oracle is exactly q_linkage_entities'), including
    // batch records that bridge two existing entities
    "q_linkage_incremental" -> ((s, dir) => {
      import graft.operators.Linkage
      val c = linkageCustomer(s, dir)
      val existing = c.filter(col("c_custkey") % 5 =!= 0)
      val batch = c.filter(col("c_custkey") % 5 === 0)
      val ents = Linkage.resolveEntities(
        Linkage.scorePairs(existing, "c_custkey", Seq("name_blk"),
          linkageRules, 550000L).select(col("id_a"), col("id_b")))
      Linkage.linkIncremental(existing, ents, batch, "c_custkey",
        Seq("name_blk"), linkageRules, 550000L)
    }),
    // graded-string linkage: every 10th customer re-appears under a new
    // id with the LAST name character typo'd (block key unchanged — the
    // block is all but the last two chars); the edit-distance band
    // comparator links the planted typo pair that exact name equality
    // misses, with nation + segment as corroborating exact fields
    "q_linkage_fuzzy" -> ((s, dir) => {
      import graft.operators.Linkage
      val cust = t(s, dir, "customer")
      val typo = cust.filter(col("c_custkey") % 10 === 0)
        .withColumn("c_custkey", col("c_custkey") + lit(1000000000L))
        .withColumn("c_name",
          expr("concat(substr(c_name, 1, length(c_name) - 1), 'Z')"))
      val c = cust.unionByName(typo)
        .withColumn("name_blk", expr("substr(c_name, 1, length(c_name) - 2)"))
      Linkage.scorePairs(c, "c_custkey", Seq("name_blk"), Seq(
        Linkage.editBand("c_name", maxDist = 2, 500000L, 300000L),
        Linkage.eq("c_nationkey", 370000L, 160000L),
        Linkage.eq("c_mktsegment", 280000L, 120000L)),
        thresholdPpm = 800000L)
    }),
    // sorted-neighborhood blocking (Hernandez & Stolfo 1998): no block
    // key at all — the corpus is ordered by name and each record pairs
    // with its 11 successors; the planted last-char typos land within
    // the window (at most the 9 intervening digit-suffix names apart),
    // candidate pairs are <= n*(w-1) by construction
    "q_linkage_sorted_nbhd" -> ((s, dir) => {
      import graft.operators.Linkage
      val cust = t(s, dir, "customer")
      val typo = cust.filter(col("c_custkey") % 10 === 0)
        .withColumn("c_custkey", col("c_custkey") + lit(1000000000L))
        .withColumn("c_name",
          expr("concat(substr(c_name, 1, length(c_name) - 1), 'Z')"))
      Linkage.scorePairsSortedNeighborhood(cust.unionByName(typo),
        "c_custkey", sortKey = Seq("c_name"), window = 12, Seq(
          Linkage.editBand("c_name", maxDist = 2, 500000L, 300000L),
          Linkage.eq("c_nationkey", 370000L, 160000L),
          Linkage.eq("c_mktsegment", 280000L, 120000L)),
        thresholdPpm = 800000L)
    }),
    // Damerau-Levenshtein linkage: every 10th customer re-appears with
    // its last two name chars SWAPPED — the classic transposition typo
    // (Damerau 1964) that true DL prices at 1 while plain levenshtein
    // charges 2; dl <= 1 bands it in, exact-integer oracle replay
    "q_linkage_dl" -> ((s, dir) => {
      import graft.operators.Linkage
      val cust = t(s, dir, "customer")
      val typo = cust.filter(col("c_custkey") % 10 === 0)
        .withColumn("c_custkey", col("c_custkey") + lit(1000000000L))
        .withColumn("c_name", expr(
          "concat(substr(c_name, 1, length(c_name) - 2), " +
          "substr(c_name, length(c_name), 1), " +
          "substr(c_name, length(c_name) - 1, 1))"))
      val c = cust.unionByName(typo)
        .withColumn("name_blk", expr("substr(c_name, 1, length(c_name) - 2)"))
      Linkage.scorePairs(c, "c_custkey", Seq("name_blk"), Seq(
        Linkage.dlBand("c_name", maxDist = 1, 500000L, 300000L),
        Linkage.eq("c_nationkey", 370000L, 160000L),
        Linkage.eq("c_mktsegment", 280000L, 120000L)),
        thresholdPpm = 800000L)
    }),
    // Jaro-Winkler graded linkage over the same typo'd injection: the
    // standard name comparator (Winkler 1990) as a band at jw >= 0.9 —
    // the custom kernel is pinned bit-identical to DuckDB's
    // jaro_winkler_similarity, so the band decision replays exactly
    "q_linkage_jw" -> ((s, dir) => {
      import graft.operators.Linkage
      val cust = t(s, dir, "customer")
      val typo = cust.filter(col("c_custkey") % 10 === 0)
        .withColumn("c_custkey", col("c_custkey") + lit(1000000000L))
        .withColumn("c_name",
          expr("concat(substr(c_name, 1, length(c_name) - 1), 'Z')"))
      val c = cust.unionByName(typo)
        .withColumn("name_blk", expr("substr(c_name, 1, length(c_name) - 2)"))
      Linkage.scorePairs(c, "c_custkey", Seq("name_blk"), Seq(
        Linkage.jwBand("c_name", minSimPpm = 900000L, 500000L, 300000L),
        Linkage.eq("c_nationkey", 370000L, 160000L),
        Linkage.eq("c_mktsegment", 280000L, 120000L)),
        thresholdPpm = 800000L)
    }),
    // the linkage scorer on the PURE-SQL surface: blocked pair join in
    // plain SQL, pattern/score via the fs_pattern / fs_score functions
    // — same comparators, weights, and threshold as q_linkage_score,
    // same oracle
    "q_linkage_score_sql" -> ((s, dir) => {
      graft.functions.registry.registerAll(s)
      t(s, dir, "customer").createOrReplaceTempView("graft_fs_customer")
      s.sql("""
        WITH c AS (SELECT c_custkey AS id,
            substr(c_name, 1, length(c_name) - 2) AS blk,
            c_nationkey AS nat, c_mktsegment AS seg,
            CAST(floor(c_acctbal * 100) AS BIGINT) AS bal
          FROM graft_fs_customer),
        p AS (SELECT a.id AS id_a, b.id AS id_b,
            fs_pattern(a.nat = b.nat, a.seg = b.seg,
                       abs(a.bal - b.bal) <= 10000) AS pattern
          FROM c a JOIN c b ON a.blk = b.blk AND a.id < b.id)
        SELECT id_a, id_b, pattern,
               fs_score(pattern, 370000, 160000, 280000, 120000,
                        350000, 150000) AS score_ppm
        FROM p
        WHERE fs_score(pattern, 370000, 160000, 280000, 120000,
                       350000, 150000) >= 550000
      """)
    }),
    // EM-estimated Fellegi-Sunter weights (Winkler 1988) over the same
    // blocked pair generator, seeded with a deterministic 10% duplicate
    // injection (every 10th customer re-appears under a new id — the
    // standard ER eval setup) so the estimator has a real match class:
    // 20 ppm-integer EM iterations over the <= 2^3-row pattern frame on
    // the driver, output = pattern posteriors + threshold decisions
    "q_linkage_em" -> ((s, dir) => {
      import graft.operators.Linkage
      val cust = t(s, dir, "customer")
      val base = cust.unionByName(
        cust.filter(col("c_custkey") % 10 === 0)
          .withColumn("c_custkey", col("c_custkey") + lit(1000000000L)))
      val c = base
        .withColumn("bal_cents", floor(col("c_acctbal") * 100).cast("long"))
        .withColumn("name_blk", expr("substr(c_name, 1, length(c_name) - 2)"))
      Linkage.emPatternWeights(c, "c_custkey", Seq("name_blk"), Seq(
        ("c_nationkey",
          (a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =>
            a === b),
        ("c_mktsegment",
          (a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =>
            a === b),
        ("bal_cents",
          (a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =>
            abs(a - b) <= lit(10000L))))
    }),
    // rank-based k-group test over event values by type (the k-group
    // extension of q_mann_whitney): exact doubled-midranks + BigInt/
    // HUGEINT finish, tie-corrected H in ppm
    "q_kruskal_wallis" -> ((s, dir) =>
      graft.operators.Stats.kruskalWallisH(
        events(s, dir).withColumn("cents",
          floor(col("value") * 100).cast("long")),
        "cents", "event_type")),
    // effect size over the segment x nation contingency: Cramér's V in
    // exact ppm (two-step division + IEEE sqrt, engine-identical); the
    // sampled wrapper enforces the N<=4e4 exactness bound the way
    // q_chi_square does (self-disabling content-hash sample — all-keep
    // at these SFs, a real guard at sf1+ where customer passes 150k)
    "q_cramers_v" -> ((s, dir) =>
      graft.operators.Stats.cramersVSampled(t(s, dir, "customer"),
        "c_custkey", "c_mktsegment", "c_nationkey")),
    // market-concentration read per nation over segments: exact-ppm HHI
    "q_hhi" -> ((s, dir) =>
      graft.operators.Analytics.concentrationIndex(t(s, dir, "customer"),
        "c_nationkey", "c_mktsegment")),
    // the same HHI on the PURE-SQL surface: grouping in plain SQL, the
    // self-switching exact-ppm finish via the registered hhi_ppm
    // function — same oracle as the operator query
    // the three DuckDB-pinned comparators on the PURE-SQL surface:
    // jaro_sim / jaro_winkler_sim / damerau_levenshtein called through
    // their registered SQL spellings, oracle = DuckDB's NATIVE
    // functions — end-to-end registration coverage (a registration typo
    // or arg-order slip would compile and pass the operator-path
    // queries; this row catches it). floor(sim·1e6) keeps the surface
    // integer: the kernels are bit-identical (JwParitySpec), so the
    // same double floors to the same micro on both engines.
    "q_comparator_sql" -> ((s, dir) => {
      graft.functions.registry.registerAll(s)
      t(s, dir, "customer").createOrReplaceTempView("graft_cmp_customer")
      s.sql("""
        WITH p AS (SELECT c_custkey, c_name AS a,
            concat(substr(c_name, 1, length(c_name) - 1), 'Z') AS b,
            concat(substr(c_name, 1, length(c_name) - 2),
                   substr(c_name, length(c_name), 1),
                   substr(c_name, length(c_name) - 1, 1)) AS c
          FROM graft_cmp_customer)
        SELECT c_custkey,
          CAST(floor(jaro_sim(a, b) * 1000000D) AS BIGINT) AS jaro_micro,
          CAST(floor(jaro_winkler_sim(a, b) * 1000000D) AS BIGINT)
            AS jw_micro,
          CAST(damerau_levenshtein(a, c) AS BIGINT) AS dl_dist
        FROM p""")
    }),
    "q_hhi_sql" -> ((s, dir) => {
      graft.functions.registry.registerAll(s)
      t(s, dir, "customer").createOrReplaceTempView("graft_hhi_customer")
      s.sql("""
        WITH c AS (SELECT c_nationkey, c_mktsegment,
            CAST(count(1) AS BIGINT) AS cnt
          FROM graft_hhi_customer GROUP BY 1, 2),
        g AS (SELECT c_nationkey, CAST(sum(cnt) AS BIGINT) AS n,
            CAST(count(1) AS BIGINT) AS k_categories,
            CAST(sum(cnt * cnt) AS BIGINT) AS ss
          FROM c GROUP BY 1)
        SELECT c_nationkey, n, k_categories, hhi_ppm(ss, n) AS hhi_ppm
        FROM g
      """)
    }),
    // inequality of the VALUE distribution per event type: rank-based
    // Gini in exact ppm on the bucketed two-phase rank (no per-group
    // window task)
    "q_gini" -> ((s, dir) =>
      graft.operators.Analytics.giniIndex(
        events(s, dir).filter(col("value") >= 0)
          .withColumn("cents", floor(col("value") * 100).cast("long")),
        "event_type", "cents", tieCols = Seq("event_id"))),
    // Simpson concentration per source over languages — probability two
    // random docs of a source share a language, without replacement
    // (1e6 - simpson_ppm = Gini-Simpson diversity); exact ppm, the
    // HHI's unbiased without-replacement sibling
    "q_simpson" -> ((s, dir) =>
      graft.operators.Analytics.simpsonIndex(t(s, dir, "documents"),
        "source", "lang")),
    // blocking-quality audit (Christen's reduction ratio + pair
    // completeness) against a planted truth set: every 10th customer
    // re-appears block-PRESERVED (last-char typo), every (10k+5)th
    // block-BROKEN (first-char typo) — the report says how much of the
    // quadratic the name-prefix blocking prunes and which share of the
    // true pairs it keeps reachable (the %5 injections, by design, are
    // the ones it loses)
    "q_linkage_blocking_eval" -> ((s, dir) => {
      import graft.operators.Linkage
      val cust = t(s, dir, "customer")
      val kept = cust.filter(col("c_custkey") % 10 === 0)
        .withColumn("c_custkey", col("c_custkey") + lit(1000000000L))
        .withColumn("c_name",
          expr("concat(substr(c_name, 1, length(c_name) - 1), 'Z')"))
      val broken = cust.filter(col("c_custkey") % 10 === 5)
        .withColumn("c_custkey", col("c_custkey") + lit(1000000000L))
        .withColumn("c_name", expr("concat('X', substr(c_name, 2))"))
      val truth = cust
        .filter(col("c_custkey") % 10 === 0 || col("c_custkey") % 10 === 5)
        .select(col("c_custkey").as("id_a"),
          (col("c_custkey") + lit(1000000000L)).as("id_b"))
      val corpus = cust.unionByName(kept).unionByName(broken)
        .withColumn("name_blk", expr("substr(c_name, 1, length(c_name) - 2)"))
      Linkage.blockingQuality(corpus, "c_custkey", Seq("name_blk"), truth)
    }),
    // multi-pass (disjunctive) blocking over the SAME planted corpus:
    // pass 1 blocks on the name prefix (captures the last-char typos),
    // pass 2 on the name suffix (recovers the first-char typos pass 1
    // loses — the Christen ch. 4 argument for running several passes);
    // candidate pairs dedup on (id_a, id_b) before the fuzzy scorer,
    // so each levenshtein evaluates once per unique pair
    "q_linkage_multiblock" -> ((s, dir) => {
      import graft.operators.Linkage
      val cust = t(s, dir, "customer")
      val kept = cust.filter(col("c_custkey") % 10 === 0)
        .withColumn("c_custkey", col("c_custkey") + lit(1000000000L))
        .withColumn("c_name",
          expr("concat(substr(c_name, 1, length(c_name) - 1), 'Z')"))
      val broken = cust.filter(col("c_custkey") % 10 === 5)
        .withColumn("c_custkey", col("c_custkey") + lit(1000000000L))
        .withColumn("c_name", expr("concat('X', substr(c_name, 2))"))
      val corpus = cust.unionByName(kept).unionByName(broken)
        .withColumn("pre_blk", expr("substr(c_name, 1, length(c_name) - 2)"))
        .withColumn("suf_blk", expr("substr(c_name, 2)"))
      Linkage.scorePairsMultiBlock(corpus, "c_custkey",
        Seq(Seq("pre_blk"), Seq("suf_blk")), Seq(
          Linkage.editBand("c_name", maxDist = 2, 500000L, 300000L),
          Linkage.eq("c_nationkey", 370000L, 160000L),
          Linkage.eq("c_mktsegment", 280000L, 120000L)),
        thresholdPpm = 800000L)
    }),
    // the sorted-neighborhood audit over the SAME planted corpus as
    // q_linkage_blocking_eval: the last-char typos sit within 11 ranks
    // of their originals (captured), the first-char typos sort far
    // away (lost) — the complementary capture profile to the
    // name-prefix equality blocking, measured before any scoring
    "q_linkage_sn_eval" -> ((s, dir) => {
      import graft.operators.Linkage
      val cust = t(s, dir, "customer")
      val kept = cust.filter(col("c_custkey") % 10 === 0)
        .withColumn("c_custkey", col("c_custkey") + lit(1000000000L))
        .withColumn("c_name",
          expr("concat(substr(c_name, 1, length(c_name) - 1), 'Z')"))
      val broken = cust.filter(col("c_custkey") % 10 === 5)
        .withColumn("c_custkey", col("c_custkey") + lit(1000000000L))
        .withColumn("c_name", expr("concat('X', substr(c_name, 2))"))
      val truth = cust
        .filter(col("c_custkey") % 10 === 0 || col("c_custkey") % 10 === 5)
        .select(col("c_custkey").as("id_a"),
          (col("c_custkey") + lit(1000000000L)).as("id_b"))
      Linkage.blockingQualitySortedNeighborhood(
        cust.unionByName(kept).unionByName(broken), "c_custkey",
        sortKey = Seq("c_name"), window = 12, truth)
    }),
    // incremental sorted-neighborhood: the typo'd injection arrives as
    // an ingest BATCH against the existing customer corpus — pairs =
    // batch×(rank-neighbors in the merged order) only, never
    // existing×existing (those were decided when the corpus was built);
    // the containment/divergence contract vs a full re-run is
    // spec-pinned (LinkageSpec), the oracle replays the batch-sided cut
    "q_linkage_sn_incremental" -> ((s, dir) => {
      import graft.operators.Linkage
      val cust = t(s, dir, "customer")
      val batch = cust.filter(col("c_custkey") % 10 === 0)
        .withColumn("c_custkey", col("c_custkey") + lit(1000000000L))
        .withColumn("c_name",
          expr("concat(substr(c_name, 1, length(c_name) - 1), 'Z')"))
      Linkage.linkIncrementalSortedNeighborhood(cust, batch,
        "c_custkey", sortKey = Seq("c_name"), window = 12, Seq(
          Linkage.editBand("c_name", maxDist = 2, 500000L, 300000L),
          Linkage.eq("c_nationkey", 370000L, 160000L),
          Linkage.eq("c_mktsegment", 280000L, 120000L)),
        thresholdPpm = 800000L)
    }),
    // HYBRID disjunctive candidate generation (Christen ch. 4: MIX
    // scheme types): suffix equality blocking (captures the first-char
    // typos, misses the last-char ones — a last-char typo changes the
    // suffix) UNIONED with a sorted-neighborhood pass by name (captures
    // the last-char typos, misses the first-char ones), deduped on
    // (id_a, id_b) before the fuzzy scorer — the two miss profiles are
    // complementary, so the hybrid links BOTH planted typo classes no
    // single scheme reaches
    "q_linkage_hybrid" -> ((s, dir) => {
      import graft.operators.Linkage
      val cust = t(s, dir, "customer")
      val kept = cust.filter(col("c_custkey") % 10 === 0)
        .withColumn("c_custkey", col("c_custkey") + lit(1000000000L))
        .withColumn("c_name",
          expr("concat(substr(c_name, 1, length(c_name) - 1), 'Z')"))
      val broken = cust.filter(col("c_custkey") % 10 === 5)
        .withColumn("c_custkey", col("c_custkey") + lit(1000000000L))
        .withColumn("c_name", expr("concat('X', substr(c_name, 2))"))
      val corpus = cust.unionByName(kept).unionByName(broken)
        .withColumn("suf_blk", expr("substr(c_name, 2)"))
      Linkage.scorePairsHybrid(corpus, "c_custkey",
        blockKeys = Seq(Seq("suf_blk")), sortKey = Seq("c_name"),
        window = 12, Seq(
          Linkage.editBand("c_name", maxDist = 2, 500000L, 300000L),
          Linkage.eq("c_nationkey", 370000L, 160000L),
          Linkage.eq("c_mktsegment", 280000L, 120000L)),
        thresholdPpm = 800000L)
    }),
    // the hybrid scheme's audit over the SAME planted corpus: captured
    // iff the suffix pass agrees OR the pair sits within 11 global
    // ranks — completeness strictly above BOTH single-scheme audits
    // (the suffix-only and SN-only capture profiles are complementary,
    // LinkageSpec pins the strict inequality)
    "q_linkage_hybrid_eval" -> ((s, dir) => {
      import graft.operators.Linkage
      val cust = t(s, dir, "customer")
      val kept = cust.filter(col("c_custkey") % 10 === 0)
        .withColumn("c_custkey", col("c_custkey") + lit(1000000000L))
        .withColumn("c_name",
          expr("concat(substr(c_name, 1, length(c_name) - 1), 'Z')"))
      val broken = cust.filter(col("c_custkey") % 10 === 5)
        .withColumn("c_custkey", col("c_custkey") + lit(1000000000L))
        .withColumn("c_name", expr("concat('X', substr(c_name, 2))"))
      val truth = cust
        .filter(col("c_custkey") % 10 === 0 || col("c_custkey") % 10 === 5)
        .select(col("c_custkey").as("id_a"),
          (col("c_custkey") + lit(1000000000L)).as("id_b"))
      val corpus = cust.unionByName(kept).unionByName(broken)
        .withColumn("suf_blk", expr("substr(c_name, 2)"))
      Linkage.blockingQualityHybrid(corpus, "c_custkey",
        blockKeys = Seq(Seq("suf_blk")), sortKey = Seq("c_name"),
        window = 12, truth)
    }),
    // incremental HYBRID: BOTH typo classes arrive as one ingest batch
    // against the existing corpus — the suffix-equality front links
    // the first-char typos (batch×existing block matches + the
    // batch triangle, never existing×existing), the incremental SN
    // front links the last-char typos (rank neighbors in the merged
    // order), deduped on the canonical pair id before one scoring
    // pass; equality side exact, SN side containment (LinkageSpec)
    "q_linkage_hybrid_incremental" -> ((s, dir) => {
      import graft.operators.Linkage
      val cust = t(s, dir, "customer")
        .withColumn("suf_blk", expr("substr(c_name, 2)"))
      val batch = cust.filter(col("c_custkey") % 10 === 0)
        .withColumn("c_custkey", col("c_custkey") + lit(1000000000L))
        .withColumn("c_name",
          expr("concat(substr(c_name, 1, length(c_name) - 1), 'Z')"))
        .unionByName(cust.filter(col("c_custkey") % 10 === 5)
          .withColumn("c_custkey", col("c_custkey") + lit(1000000000L))
          .withColumn("c_name", expr("concat('X', substr(c_name, 2))")))
        .withColumn("suf_blk", expr("substr(c_name, 2)"))
      Linkage.linkIncrementalHybrid(cust, batch, "c_custkey",
        blockKeys = Seq(Seq("suf_blk")), sortKey = Seq("c_name"),
        window = 12, Seq(
          Linkage.editBand("c_name", maxDist = 2, 500000L, 300000L),
          Linkage.eq("c_nationkey", 370000L, 160000L),
          Linkage.eq("c_mktsegment", 280000L, 120000L)),
        thresholdPpm = 800000L)
    }),
    "q_mix_weighted" -> ((s, dir) =>
      graft.operators.Sampling.weightedMix(Seq(
        ("docs", t(s, dir, "documents").select(col("doc_id").as("id")), 0.5),
        ("events", t(s, dir, "events").select(col("event_id").as("id")), 0.1)),
        keyCol = "id")),

    // ---- §2.4 deterministic fakers. The fake VALUES are not
    // SQL-expressible (wordlist draws from a seeded hash), but their
    // CONTRACT is: each query emits per-row shape invariants the DuckDB
    // oracle recomputes from the ORIGINAL data alone (r5 verdict item
    // #2), so the driver hash-checks the faker surface instead of
    // recording rows-only. Exact output values stay pinned by
    // FakeGenSpec/AnonFunctionsSpec; q_fake_determinism turns the
    // value-seeded determinism contract (transformator.rs:94-99) into a
    // hard CORRECTNESS row. ------------------------------------------
    "q_fake_name" -> ((s, dir) =>
      t(s, dir, "customer").select(col("c_custkey"),
        anon.fakeName(col("c_name"))
          .rlike("^[A-Z][a-z]+ [A-Z][a-z]+$").as("shape_ok"),
        (anon.fakeName(col("c_name")) =!= col("c_name")).as("differs"))),
    "q_fake_email" -> ((s, dir) =>
      t(s, dir, "customer").select(col("c_custkey"),
        anon.fakeEmail(col("c_name")).rlike(FakeEmailRe).as("shape_ok"))),
    "q_fake_company" -> ((s, dir) =>
      t(s, dir, "supplier").select(col("s_suppkey"),
        anon.fakeCompanyName(col("s_name"))
          .rlike("^[A-Za-z ]+ (LLC|Inc|Group|Holdings|Labs|Partners|" +
            "Systems|Industries|Ventures|Co)$").as("shape_ok"),
        (anon.fakeCompanyName(col("s_name")) =!= col("s_name")).as("differs"))),
    // bldg(1-9999) street(2 words) zip(5) city(1 word) postcode(5)
    "q_fake_address" -> ((s, dir) =>
      t(s, dir, "customer").select(col("c_custkey"),
        anon.fakeAddress(col("c_name"))
          .rlike("^[0-9]{1,4} [A-Z][a-z]+ [A-Z][a-z]+ [0-9]{5} " +
            "[A-Z][a-z]+ [0-9]{5}$").as("shape_ok"))),
    // "fake_md5" emits a UUIDv4: version nibble 4, variant in [89ab]
    "q_fake_uuid" -> ((s, dir) =>
      t(s, dir, "customer").select(col("c_custkey"),
        anon.fakeUuid(col("c_name"))
          .rlike("^[0-9a-f]{8}-[0-9a-f]{4}-4[0-9a-f]{3}-[89ab][0-9a-f]{3}" +
            "-[0-9a-f]{12}$").as("shape_ok"))),
    // the reference contract (fake_phone_transformator.rs:29-35): every
    // non-digit byte preserved, every digit replaced by a DIFFERENT
    // digit. skeleton (digits -> 'D') is recomputed by the oracle from
    // the original; digits_same counts positions where the digit
    // survived (must be 0).
    "q_fake_phone" -> ((s, dir) => {
      val orig = format_string("+30 21 %07d", col("c_custkey"))
      val fake = anon.fakePhone(orig)
      t(s, dir, "customer").select(col("c_custkey"),
        regexp_replace(fake, "[0-9]", "D").as("skeleton"),
        size(filter(zip_with(split(fake, ""), split(orig, ""),
          (a, b) => a === b && b.rlike("^[0-9]$")), x => x))
          .as("digits_same"))
    }),
    // brace-wrap preserved, element count preserved, every element a
    // well-formed safe email, no element passed through unchanged
    // (fake_multi_email_transformator.rs:15-54)
    "q_fake_multi_email" -> ((s, dir) => {
      val orig = format_string("{a%s@x.com,b%s@y.com}",
        col("c_custkey"), col("c_custkey"))
      val fake = anon.fakeMultiEmail(orig)
      val inner = regexp_replace(fake, "^\\{|\\}$", "")
      val origInner = regexp_replace(orig, "^\\{|\\}$", "")
      t(s, dir, "customer").select(col("c_custkey"),
        (fake.startsWith("{") && fake.endsWith("}")).as("braced"),
        size(split(inner, ",")).as("n_elems"),
        size(filter(split(inner, ","), e => e.rlike(FakeEmailRe)))
          .as("n_valid"),
        size(filter(zip_with(split(inner, ","), split(origInner, ","),
          (a, b) => a === b), x => x)).as("n_unchanged"))
    }),
    // "{id}-{fakeEmail(email)}": the oracle recomputes the id prefix
    // from the key column (fake_email_with_id_prefix_transformator.rs:19-62)
    "q_fake_email_id_prefix" -> ((s, dir) => {
      val fake = anon.fakeEmailWithIdPrefix(
        col("c_custkey").cast("int"), col("c_name"))
      t(s, dir, "customer").select(col("c_custkey"),
        split(fake, "-").getItem(0).cast("int").as("id_prefix"),
        regexp_extract(fake, "^[0-9]+-(.*)$", 1).rlike(FakeEmailRe)
          .as("rest_ok"))
    }),
    // the load-bearing contract: every generator is a pure function of
    // (cell value, seed). Each faker runs twice per row on two
    // syntactically-distinct but equal inputs (substring identity — CSE
    // cannot collapse the pair), and the query emits the total mismatch
    // count, which the oracle pins to zero.
    "q_fake_determinism" -> ((s, dir) => {
      val c = col("c_name")
      val c2 = substring(col("c_name"), 1, 1 << 20)
      val phoneA = format_string("+30 21 %07d", col("c_custkey"))
      val phoneB = substring(phoneA, 1, 1 << 20)
      val meA = format_string("{a%s@x.com,b%s@y.com}",
        col("c_custkey"), col("c_custkey"))
      val meB = substring(meA, 1, 1 << 20)
      val pairs = Seq[(org.apache.spark.sql.Column, org.apache.spark.sql.Column)](
        anon.fakeFirstName(c) -> anon.fakeFirstName(c2),
        anon.fakeLastName(c) -> anon.fakeLastName(c2),
        anon.fakeName(c) -> anon.fakeName(c2),
        anon.fakeCompanyName(c) -> anon.fakeCompanyName(c2),
        anon.fakeEmail(c) -> anon.fakeEmail(c2),
        anon.fakeAddress(c) -> anon.fakeAddress(c2),
        anon.fakeUuid(c) -> anon.fakeUuid(c2),
        anon.fakePhone(phoneA) -> anon.fakePhone(phoneB),
        anon.fakeMultiEmail(meA) -> anon.fakeMultiEmail(meB))
      val mismatch = pairs.map { case (a, b) =>
        when(!(a <=> b), lit(1)).otherwise(lit(0)) }.reduce(_ + _)
      t(s, dir, "customer").agg(sum(mismatch).as("mismatches"))
    }),
    // ---- training-data pipeline: text analysis ------------------------
    "q_token_count" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        text.tokenCount(col("text")).as("n_tokens"))),
    // lexical diversity: unigram entropy (order-free scaled-long nats)
    // + type-token ratio — templated-text signals
    "q_diversity" -> ((s, dir) => {
      val st = text.diversityStats(col("text"))
      t(s, dir, "documents").select(col("doc_id"),
        element_at(st, 1).as("n_tokens"),
        element_at(st, 2).as("n_distinct"),
        element_at(st, 3).as("entropy_scaled"),
        when(element_at(st, 1) === 0, lit(0.0))
          .otherwise(element_at(st, 2).cast("double") / element_at(st, 1))
          .as("ttr"))
    }),
    "q_token_count_bpe" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        text.bpeTokenCount(col("text")).as("n_bpe_tokens"))),

    // REAL trained-BPE tokenization through the oracle gate: the
    // built-in model (48 merges, fixed seed corpus) applied per doc as
    // a codegen'd projection; the oracle replays the ENTIRE merge
    // table as a generated chain of SQL replace() calls on the same
    // Sep-wrapped symbol representation (see Bpe's module doc), so a
    // merge-order, boundary, or pretokenizer bug flips the row.
    // Oracle parity assumes BMP text (Java UTF-16 units == SQL chars);
    // this corpus is ASCII.
    "q_bpe_tokenize" -> ((s, dir) => {
      import org.apache.spark.sql.graftbridge.Bridge
      t(s, dir, "documents")
        .select(col("doc_id"), Bridge.column(graft.functions.BpeStatsExpr(
          Bridge.expression(col("text")), graft.functions.Bpe.default)).as("st"))
        .select(col("doc_id"), col("st.n_tokens").as("n_tokens"),
          col("st.sum_chars").as("sum_chars"),
          col("st.max_chars").as("max_chars"))
    }),

    // BPE trained on the query's own corpus (bounded content-hash
    // sample, driver-side — the one intentional collect; apply stays
    // distributed). Merges are data-dependent so the oracle can't
    // replay them; it checks the model-free invariants instead —
    // tokens exactly tile each word's chars (sum_chars == non-ws
    // length) and pretokenizer parity (n_words). Exact merge
    // semantics are pinned by q_bpe_tokenize + BpeSpec.
    // tokenizer-eval report: per-source fertility (BPE tokens per
    // pretokenizer word) and compression (chars per BPE token) in
    // exact ppm — the "which sources tokenize badly" budgeting signal
    "q_bpe_fertility" -> ((s, dir) => {
      import org.apache.spark.sql.graftbridge.Bridge
      val docs = t(s, dir, "documents")
      val words = filter(
        split(regexp_replace(col("text"), "[\\x00-\\x08\\x0E-\\x1F]+", ""),
          "[\\x09-\\x0D ]+"),
        w => length(w) > 0)
      docs.select(col("source"),
          size(words).cast("long").as("__w"),
          Bridge.column(graft.functions.BpeStatsExpr(
            Bridge.expression(col("text")), graft.functions.Bpe.default))
            .as("__st"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("__w")).as("n_words"),
          sum(col("__st.n_tokens")).as("n_tokens"),
          sum(col("__st.sum_chars")).as("n_chars"))
        .withColumn("fertility_ppm",
          expr("CASE WHEN n_words > 0 THEN n_tokens * 1000000 div n_words END"))
        .withColumn("chars_per_token_ppm",
          expr("CASE WHEN n_tokens > 0 THEN n_chars * 1000000 div n_tokens END"))
    }),
    "q_bpe_train_apply" -> ((s, dir) => {
      import org.apache.spark.sql.graftbridge.Bridge
      val docs = t(s, dir, "documents")
      val model = graft.functions.Bpe.trainOnSample(docs, "text", 48, 256)
      // n_words = Bpe.pretokenize's word count (strip non-ws controls,
      // split on the explicit Java-\s class) — spelled as the same
      // expression shape the oracle uses so parity holds on ANY input
      // (text.tokenCount would diverge on isolated control chars)
      val words = filter(
        split(regexp_replace(col("text"), "[\\x00-\\x08\\x0E-\\x1F]+", ""),
          "[\\x09-\\x0D ]+"),
        w => length(w) > 0)
      docs.select(col("doc_id"),
        size(words).as("n_words"),
        Bridge.column(graft.functions.BpeStatsExpr(
          Bridge.expression(col("text")), model)).as("st"))
        .select(col("doc_id"), col("n_words"),
          col("st.sum_chars").as("sum_chars"))
    }),
    "q_text_quality" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        round(text.alphaRatio(col("text")), 6).as("alpha_ratio"),
        round(text.punctRatio(col("text")), 6).as("punct_ratio"),
        round(text.stopwordRatio(col("text")), 6).as("stopword_ratio"),
        text.qualityScore(col("text")).as("quality"))),
    // Unicode ingest cleanup through the oracle gate: a decomposed
    // suffix (combining acute, combining ring, Angstrom sign) is
    // planted IN THE QUERY so NFC composition is exercised on this
    // ASCII corpus — both engines must compose cafe+U+0301 -> café,
    // A+U+030A -> Å, U+212B -> Å, strip the same C0/DEL controls, and
    // collapse the same EXPLICIT [ \t\n\r] class (chosen over \s to
    // sidestep the Java-vs-RE2 vertical-tab divergence; \x0B/\x0C are
    // stripped as controls instead).
    "q_text_normalize" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        text.normalizeUnicode(concat(col("text"),
          lit(" cafe\u0301 A\u030A \u212B"))).as("text_norm"))),
    "q_lang_id" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"), col("lang").as("labeled"),
        text.langId(col("text")).as("predicted"))),
    "q_fingerprint_md5" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        text.fingerprintMd5(col("text")).as("fp"))),
    "q_fingerprint_rolling" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        text.rollingFingerprint(col("text")).as("fp"))),

    // ---- training-data pipeline: dedup family -------------------------
    "q_dedup_exact" -> ((s, dir) =>
      Dedup.exact(t(s, dir, "documents"), "doc_id", Seq("text"))),
    "q_dedup_fingerprint" -> ((s, dir) =>
      Dedup.byFingerprint(t(s, dir, "documents"), "doc_id", "text")),
    "q_dedup_ngram_jaccard" -> ((s, dir) =>
      Dedup.ngramJaccardPairs(docsSplit(s, dir), "doc_id", "text",
        n = 3, threshold = 0.5)),
    // the knob-tuning report for the dedup tier: pairs and docs
    // flagged at each Jaccard threshold — pick the threshold from the
    // yield curve, not by folklore. One exact-pair computation
    // (materialized, freed by the candidate scope), 4 tiny aggs.
    "q_dedup_yield_curve" -> ((s, dir) => {
      val pairs = Dedup.materializeShared(
        Dedup.ngramJaccardPairs(docsSplit(s, dir), "doc_id", "text",
          n = 3, threshold = 0.3))
      Seq(0.3, 0.5, 0.7, 0.9).map { t =>
        val p = pairs.filter(col("jaccard") >= t)
        val np = p.agg(count(lit(1)).as("n_pairs"))
        val nd = p.select(explode(array(col("id_a"), col("id_b")))
            .as("id"))
          .agg(countDistinct(col("id")).as("n_docs"))
        np.crossJoin(broadcast(nd))
          .select(lit((t * 1e6).toLong).as("threshold_ppm"),
            col("n_pairs"), col("n_docs"))
      }.reduce(_ unionByName _)
    }),
    // prune-then-verify: minhash-LSH candidates (loose 0.35 prune on the
    // signature estimate) verified by EXACT n-gram jaccard — so the
    // exact-jaccard SQL IS the oracle, and an LSH recall shortfall on
    // the planted near-dups fails the hash check. The raw estimate tier
    // stays spec-tested (TextDedupSpec).
    "q_dedup_minhash" -> ((s, dir) =>
      Dedup.minhashVerifiedPairs(docsSplit(s, dir), "doc_id", "text",
        shingleWidth = 3, numHashes = 128, bands = 32,
        candThreshold = 0.35, threshold = 0.5)),
    "q_dedup_corpus" -> ((s, dir) =>
      Dedup.dedupCorpus(docsSplit(s, dir), "doc_id", "text",
        shingleWidth = 3, numHashes = 128, bands = 32, threshold = 0.5)),
    // governance explain row per verified pair: jaccard / containment /
    // length-ratio facets in exact ppm (excerpt vs duplicate triage)
    "q_neardup_explain" -> ((s, dir) =>
      Dedup.nearDupExplain(docsSplit(s, dir), "doc_id", "text",
        lenCol = "n_chars", shingleWidth = 3, numHashes = 128,
        bands = 32, candThreshold = 0.35, threshold = 0.5)),
    // cluster-quality audit: wedge closure share of the verified pair
    // set — low closure = transitive-closure merges grow by CHAINING
    "q_dedup_transitivity" -> ((s, dir) =>
      Dedup.transitivityAudit(
        Dedup.minhashVerifiedPairs(docsSplit(s, dir), "doc_id", "text",
          shingleWidth = 3, numHashes = 128, bands = 32,
          candThreshold = 0.35, threshold = 0.5))),
    // quality-aware variant: each cluster keeps its LONGEST member
    // (n_chars desc, id asc) — the RefinedWeb/Dolma curation rule —
    // instead of the minimum id; cluster structure identical
    "q_dedup_keep_best" -> ((s, dir) =>
      Dedup.dedupCorpusKeepBest(docsSplit(s, dir), "doc_id", "text",
        qualityCol = "n_chars", shingleWidth = 3, numHashes = 128,
        bands = 32, threshold = 0.5)),
    // same prune-then-verify shape with the simhash hamming pruner.
    // maxHamming 6: the planted near-dups (jaccard 0.95-0.99) sit at
    // simhash hamming up to 6 on this corpus, so 7-band pigeonhole
    // GUARANTEES them as candidates; background pairs entering at
    // hamming 4-6 are dropped by the exact-jaccard verify.
    "q_dedup_simhash" -> ((s, dir) =>
      Dedup.simhashVerifiedPairs(docsSplit(s, dir), "doc_id", "text",
        maxHamming = 6, n = 3, threshold = 0.5)),
    "q_dedup_embedding" -> ((s, dir) =>
      Dedup.embeddingNearDupPairs(t(s, dir, "embeddings"), "vec_id",
        "embedding", threshold = 0.45)),
    // the subquadratic LSH tier, exercised in its actual regime: plant
    // 25 deterministic near-copies (coord 0 nudged by +0.05f => cos ~
    // 0.9988 vs a 0.51 background max), find them via bucket join +
    // exact-cosine verify. Oracle = exact all-pairs SQL on the same
    // augmented table, so recall shortfalls fail the hash check.
    // the LSH tier in its DESIGNED regime (near-dup threshold, bucket
    // space derived from corpus size): the r16 10x probe caught the
    // fixed-8-bit similarity-regime registration at 44x wall for 10x
    // data (n^2 * collision-tail); auto-bits holds bucket occupancy
    // constant so candidates stay ~linear, and at threshold 0.95 the
    // per-bit flip probability of a true pair is small enough that
    // probe-2 recall survives the growing bit count
    "q_dedup_embedding_lsh" -> ((s, dir) =>
      Dedup.embeddingNearDupPairsLshAuto(plantedEmbeddings(s, dir), "vec_id",
        "embedding", threshold = 0.95, probeHamming = 2)),

    // decontamination: docs 0..19 play the eval set; every other doc
    // near-duplicating one of them (planted pairs straddling the split)
    // is dropped. Reference side broadcasts; corpus never shuffles until
    // the candidate verify.
    // NO docsSplit here: decontaminate's whole design is zero corpus
    // shuffle (reference side broadcasts) — a repartition would add the
    // exact exchange the operator exists to avoid (measured 1.7x worse)
    "q_decontaminate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      // id spaces are disjoint BY CONSTRUCTION (>= 20 vs < 20), so the
      // eager guard scan is skipped — the intended library-caller shape
      Dedup.decontaminate(
        docs.filter(col("doc_id") >= 20), docs.filter(col("doc_id") < 20),
        "doc_id", "text", checkDisjoint = false)
    }),
    // the strict (any-shared-8-gram) decontamination tier on the same
    // eval split — broadcast semi-join, no verify stage
    "q_decontaminate_exact" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.decontaminateExactNgram(
        docs.filter(col("doc_id") >= 20), docs.filter(col("doc_id") < 20),
        "doc_id", "text", n = 8)
    }),
    // the pre-decontamination audit: per-source flagged-doc and match
    // counts against the same eval split as q_decontaminate
    "q_contamination_report" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.contaminationReport(
        docs.filter(col("doc_id") >= 20), docs.filter(col("doc_id") < 20),
        "doc_id", "text", groupCol = "source", checkDisjoint = false)
    }),

    // end-to-end embedding dedup: LSH pairs -> components -> keep the
    // min-id member; survivors = the original corpus (planted copies
    // have larger ids). vec_id-only output: the driver harness can't
    // hash float-array cells.
    "q_dedup_embedding_corpus" -> ((s, dir) =>
      Dedup.dedupCorpusEmbedding(plantedEmbeddings(s, dir), "vec_id",
        "embedding", threshold = 0.7, nBits = 8, probeHamming = 2)
        .select(col("vec_id"))),

    // ---- training-data pipeline: similarity search --------------------
    "q_ann_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 5),
        "vec_id", "embedding", k = 10)
    }),
    // hard-negative mining: per query, the 5 nearest vectors of a
    // DIFFERENT label — the contrastive-training negative set
    "q_hard_negatives" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.hardNegatives(emb, emb.filter(col("vec_id") % 100 === 0),
        "vec_id", "embedding", "label", k = 5)
    }),
    // retrieval eval, recall side: how much ranking quality int4-style
    // quantization costs — recall@10 of the integer-dot ranking against
    // the exact float-cosine ranking, per planted query. scale=7 is
    // deliberately coarse so the curve is informative (int8 preserves
    // the top-10 exactly on this corpus)
    "q_recall_at_k" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = annQueries(emb)
      graft.operators.Eval.recallAtK(
        Similarity.quantizedTopK(emb, q, "vec_id", "embedding", k = 10,
          scale = 7),
        Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", k = 10),
        k = 10)
    }),
    // accuracy-vs-cost curve for the quantized serving path: recall@10
    // against the exact ranking at int quantization scales 1/3/7 — the
    // report that picks the cheapest scale meeting the recall target
    "q_recall_curve" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = annQueries(emb)
      val exact = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding",
        k = 10)
      Seq(1, 3, 7).map { sc =>
        graft.operators.Eval.recallAtK(
          Similarity.quantizedTopK(emb, q, "vec_id", "embedding", k = 10,
            scale = sc),
          exact, k = 10).withColumn("q_scale", lit(sc))
      }.reduce(_ unionByName _)
    }),
    // hybrid-retrieval merge: RRF fusion of the exact-cosine and
    // quantized-dot rankings (rank-only, no score calibration needed)
    "q_rrf_fusion" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = annQueries(emb)
      graft.operators.Eval.rrfFuse(Seq(
        Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", k = 20),
        Similarity.quantizedTopK(emb, q, "vec_id", "embedding", k = 20,
          scale = 7)), k = 60, topK = 10)
    }),
    // Kendall rank correlation of the quantized serving ranking against
    // the exact one — do the two lists ORDER the shared items the same
    // way (finer than q_recall_at_k's set overlap: equal sets can still
    // invert every pair); C−D sign sums over the per-query pair frame,
    // magnitude-divided ppm so both engines truncate identically
    "q_kendall_tau" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = annQueries(emb)
      graft.operators.Eval.kendallTau(
        Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", k = 20),
        Similarity.quantizedTopK(emb, q, "vec_id", "embedding", k = 20,
          scale = 7), k = 20)
    }),
    // deterministic per-epoch training order: dense global positions
    // from the content-keyed hash rank, different permutation per epoch
    "q_epoch_order" -> ((s, dir) =>
      graft.operators.Sampling.epochOrder(
        t(s, dir, "documents").select(col("doc_id")), "doc_id",
        epoch = 1)),
    // retrieval eval, relevance side: MRR + precision@20 of the exact
    // ranking against label relevance, EXCLUDING each query's planted
    // near-copy (which is always rank 1 and would make MRR degenerate)
    // — "past the known duplicate, how soon does the ranking reach the
    // right class?"
    "q_retrieval_mrr" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val ranked = Similarity.bruteForceTopK(emb, annQueries(emb),
        "vec_id", "embedding", k = 20)
      val ql = emb.filter(col("vec_id") < 5)
        .select((col("vec_id") + 200000).as("query_id"),
          col("label").as("__qlabel"))
      val cl = emb.select(col("vec_id").as("corpus_id"),
        col("label").as("__clabel"))
      val rel = ranked.join(broadcast(ql), Seq("query_id"))
        .join(cl, Seq("corpus_id"))
        .withColumn("__is_rel", col("__clabel") === col("__qlabel") &&
          col("corpus_id") =!= col("query_id") - 200000)
      graft.operators.Eval.rankingQuality(rel, "__is_rel", k = 20)
    }),
    // graded-relevance ranking quality: nDCG@20 of the exact ranking
    // with grade 3 for the planted near-copy, 1 for same-label, 0 else
    // — the log2 discounts are BAKED integer literals shared with the
    // oracle (Eval.ndcgWeights), so the metric replays bit-for-bit
    "q_ndcg" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val ranked = Similarity.bruteForceTopK(emb, annQueries(emb),
        "vec_id", "embedding", k = 20)
      val ql = emb.filter(col("vec_id") < 5)
        .select((col("vec_id") + 200000).as("query_id"),
          col("label").as("__qlabel"))
      val cl = emb.select(col("vec_id").as("corpus_id"),
        col("label").as("__clabel"))
      val rel = ranked.join(broadcast(ql), Seq("query_id"))
        .join(cl, Seq("corpus_id"))
        .withColumn("rel",
          when(col("corpus_id") === col("query_id") - 200000, 3L)
            .when(col("__clabel") === col("__qlabel"), 1L).otherwise(0L))
      graft.operators.Eval.ndcgAtK(rel, "rel", k = 20)
    }),
    // average precision @20 (the per-query half of MAP) over the SAME
    // relevance frame as q_retrieval_mrr: AP = Σ_hits precision@hit /
    // n_rel in exact all-integer ppm — no transcendental, so no
    // baked-literal machinery; mean over queries = MAP downstream
    "q_map" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val ranked = Similarity.bruteForceTopK(emb, annQueries(emb),
        "vec_id", "embedding", k = 20)
      val ql = emb.filter(col("vec_id") < 5)
        .select((col("vec_id") + 200000).as("query_id"),
          col("label").as("__qlabel"))
      val cl = emb.select(col("vec_id").as("corpus_id"),
        col("label").as("__clabel"))
      val rel = ranked.join(broadcast(ql), Seq("query_id"))
        .join(cl, Seq("corpus_id"))
        .withColumn("__is_rel", col("__clabel") === col("__qlabel") &&
          col("corpus_id") =!= col("query_id") - 200000)
      graft.operators.Eval.averagePrecisionAtK(rel, "__is_rel", k = 20)
    }),
    // class-balanced downsample: every label keeps min-class-count
    // rows by content-keyed hash order
    "q_balance_labels" -> ((s, dir) =>
      graft.operators.Sampling.balanceClasses(
        t(s, dir, "embeddings").select(col("vec_id"), col("label")),
        keyCol = "vec_id", labelCol = "label")),
    // ANN exercised in its honest regime — retrieving a planted
    // near-copy (cos ~0.9998) from the corpus, where bucketing is
    // expected to have recall 1 (pinned in TextDedupSpec for the dedup
    // twin of this config); the exact brute-force SQL is then a true
    // oracle. Top-10-over-random-vectors recall (the regime where ANN
    // is inherently approximate) is measured by specs, not
    // hash-compared.
    "q_ann_lsh" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.lshTopK(emb, annQueries(emb), "vec_id", "embedding",
        k = 1, nBits = 8)
    }),
    "q_ann_ivf" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      graft.operators.Ivf.topK(emb, annQueries(emb),
        "vec_id", "embedding", k = 1, ivfCentroidsFor(s, dir), nprobe = 2)
    }),
    // compressed-domain ANN: PQ codebook trained on the corpus (4
    // subspaces x 8 codes, deterministic Lloyd), ADC scan over (id,
    // codes) only, exact-cosine re-rank of the top-32 — the planted
    // near-copy must surface as top-1 through quantized distances,
    // so the brute-force oracle applies
    "q_ann_pq" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      graft.operators.Pq.adcTopK(emb, annQueries(emb), "vec_id", "embedding",
        k = 1, pqCodebookFor(s, dir), rerank = 32)
    }),

    // the composed index: coarse-quantizer list pruning + compressed
    // ADC scan within probed lists + exact re-rank (cluster equi-join,
    // no linear scan at all) — both approximations under one oracle
    "q_ann_ivf_pq" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      graft.operators.Pq.ivfAdcTopK(emb, annQueries(emb), "vec_id",
        "embedding", k = 1, ivfCentroidsFor(s, dir), pqCodebookFor(s, dir),
        nprobe = 2, rerank = 32)
    }),

    // the refine stage under a FULL-FIDELITY oracle: the same IVF-PQ
    // probe/ADC/re-rank pipeline, but on the fixed sign-grid quantizers
    // (4 sign centroids over dims 1-2; 16x16 ±0.5 codebook) whose
    // assignment, probing, and ADC distances are closed-form — so the
    // DuckDB oracle replicates the ENTIRE composition at k=10, not just
    // a planted top-1. nprobe=2 of 4 prunes half the corpus; the
    // rerank=64 ADC window then feeds the exact-cosine refine.
    "q_ann_ivfpq_refine" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      graft.operators.Pq.ivfAdcTopK(emb, annQueries(emb), "vec_id",
        "embedding", k = 10, graft.operators.Ivf.signCentroids(64),
        graft.operators.Pq.signCodebook(64, 16, 0.5f),
        nprobe = 2, rerank = 64, refine = true)
    }),

    // the PERSISTED-index serving path: build+write the inverted lists,
    // load them back, query with partition-pruned probing — the whole
    // save/load/query cycle under the driver's oracle (results must
    // equal the retrain path, so the brute-force oracle applies)
    "q_ann_ivf_index" -> ((s, dir) => {
      val idx = graft.operators.IvfIndex.load(s, ivfIndexDir(s, dir))
      graft.operators.IvfIndex.topK(idx, annQueries(t(s, dir, "embeddings")),
        "vec_id", "embedding", k = 1, nprobe = 2)
    }),
    // the MAINTAINED-index path: tombstoned deletes honored at load
    // (O(deletes) side file, lists never rewritten); deleted ids are
    // not the planted answers, so the brute oracle still applies
    "q_ann_ivf_delete" -> ((s, dir) => {
      val idx = graft.operators.IvfIndex.load(s, ivfDeleteIndexDir(s, dir))
      graft.operators.IvfIndex.topK(idx, annQueries(t(s, dir, "embeddings")),
        "vec_id", "embedding", k = 1, nprobe = 2)
    }),

    // the SERVING composition: persisted inverted lists carrying PQ
    // codes, both quantizers loaded from index metadata — probe prunes
    // directories, ADC scans stored codes (vec pages unread), exact
    // re-rank from the same pruned lists. Build+write+load+query all
    // under the brute-force oracle.
    "q_ann_ivfpq_index" -> ((s, dir) => {
      val idx = graft.operators.IvfPqIndex.load(s, ivfPqIndexDir(s, dir))
      graft.operators.IvfPqIndex.topK(idx, annQueries(t(s, dir, "embeddings")),
        "vec_id", "embedding", k = 1, nprobe = 2, rerank = 32)
    }),
    // the same serving query against an index built in TWO ingest
    // batches (build evens, append odds under frozen quantizers) — the
    // incremental-ingest cycle end to end
    "q_ann_ivfpq_append" -> ((s, dir) => {
      val idx = graft.operators.IvfPqIndex.load(s, ivfPqAppendDir(s, dir))
      graft.operators.IvfPqIndex.topK(idx, annQueries(t(s, dir, "embeddings")),
        "vec_id", "embedding", k = 1, nprobe = 2, rerank = 32)
    }),

    // the SQL-ONLY serving path: the same IVF top-k as q_ann_ivf
    // expressed entirely through the registered SQL surface
    // (registry.registerAll) — corpus/queries/centroids reach the query
    // as temp views, the centroid table as a scalar subquery assembled
    // DETERMINISTICALLY (array_sort over (cluster, vec) structs: the
    // corpus-assign and query-probe subqueries evaluate independently
    // and must agree on cluster numbering). Pinned equal to Ivf.topK in
    // SqlAndDmsSpec, so the same brute-force oracle applies.
    "q_ann_sql" -> ((s, dir) => {
      import s.implicits._
      graft.functions.registry.registerAll(s)
      t(s, dir, "embeddings").createOrReplaceTempView("graft_ann_corpus")
      annQueries(t(s, dir, "embeddings"))
        .createOrReplaceTempView("graft_ann_queries")
      ivfCentroidsFor(s, dir).zipWithIndex
        .map { case (v, i) => (i, v.toSeq) }.toSeq
        .toDF("cluster", "vec").createOrReplaceTempView("graft_ann_centroids")
      s.sql("""
        WITH cent AS (
          SELECT transform(array_sort(collect_list(struct(cluster, vec))),
                           x -> x.vec) AS tab
          FROM graft_ann_centroids),
        assigned AS (
          SELECT vec_id, embedding,
                 nearest_centroid(embedding, (SELECT tab FROM cent)) AS cluster
          FROM graft_ann_corpus),
        probes AS (
          SELECT vec_id, embedding,
                 explode(nearest_centroids(embedding, (SELECT tab FROM cent), 2))
                   AS cluster
          FROM graft_ann_queries),
        scored AS (
          SELECT p.vec_id AS query_id, c.vec_id AS corpus_id,
                 cosine_sim(p.embedding, c.embedding) AS cos
          FROM probes p JOIN assigned c USING (cluster)
          WHERE p.vec_id != c.vec_id)
        SELECT query_id, corpus_id, cos, rank FROM (
          SELECT query_id, corpus_id, cos,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY cos DESC, corpus_id) AS rank
          FROM scored)
        WHERE rank <= 1""")
    }),

    // ---- training-data pipeline: multimodal plumbing ------------------
    "q_multimodal_bytes" -> ((s, dir) =>
      Multimodal.withFeatures(
        Multimodal.asAssets(t(s, dir, "documents"), "doc_id", col("text"),
          "text/plain"))
        .select(col("asset_id"), col("n_bytes"))),
    // posexplode to scalar rows (driver harness can't sort array cells);
    // recover integer bin counts from the normalized float32 histogram
    // (round is exact: counts <= doc length << 2^24) so the DuckDB
    // char-code oracle matches bit-for-bit on this ASCII corpus.
    "q_multimodal_features" -> ((s, dir) =>
      Multimodal.withFeatures(
        Multimodal.asAssets(t(s, dir, "documents"), "doc_id", col("text"),
          "text/plain"))
        .select(col("asset_id"), col("n_bytes"),
          posexplode(col("features")).as(Seq("bin", "share")))
        .select(col("asset_id"), col("bin"),
          round(col("share") * col("n_bytes")).cast("long").as("cnt"))),

    // REAL image decode through the oracle gate: deterministic test
    // images (even doc_id => PPM, odd => BMP; dims and pixels pure
    // functions of doc_id) decoded by the actual raster codec, stats
    // emitted as integers. The oracle recomputes width/height/channel
    // sums from doc_id alone — a bug in either decoder (BGR order,
    // bottom-up rows, row padding, netpbm header scan) flips the row.
    "q_multimodal_decode" -> ((s, dir) => {
      import org.apache.spark.sql.graftbridge.Bridge
      t(s, dir, "documents")
        .select(col("doc_id"),
          Bridge.column(graft.operators.ImageStatsExpr(
            Bridge.expression(Bridge.column(graft.operators.TestImageExpr(
              Bridge.expression(col("doc_id"))))))).as("st"))
        .select(col("doc_id"), col("st.width").as("width"),
          col("st.height").as("height"), col("st.channels").as("channels"),
          col("st.sum_r").as("sum_r"), col("st.sum_g").as("sum_g"),
          col("st.sum_b").as("sum_b"))
    }),

    // the COMPRESSED decode path (PNG via the JDK's javax.imageio;
    // lossless => decoded samples exact by spec): the SAME deterministic
    // pixels as q_multimodal_decode, DEFLATE-encoded — so the identical
    // closed-form oracle gates the PNG reader end to end. JPEG stays
    // outside the gate on purpose: lossy decode is not bit-deterministic
    // across decoder implementations (Multimodal.mapBatchesStub seam).
    "q_multimodal_decode_png" -> ((s, dir) => {
      import org.apache.spark.sql.graftbridge.Bridge
      t(s, dir, "documents")
        .select(col("doc_id"),
          Bridge.column(graft.operators.ImageStatsExpr(
            Bridge.expression(Bridge.column(graft.operators.TestImageExpr(
              Bridge.expression(col("doc_id")), png = true))))).as("st"))
        .select(col("doc_id"), col("st.width").as("width"),
          col("st.height").as("height"), col("st.channels").as("channels"),
          col("st.sum_r").as("sum_r"), col("st.sum_g").as("sum_g"),
          col("st.sum_b").as("sum_b"))
    }),

    // REAL resize through the oracle gate: decode -> nearest-neighbor
    // to 4x3 -> re-encode -> decode stats; the oracle recomputes the
    // resized per-channel sums from doc_id via the same integer NN
    // source-index math ((x*w)//4, (y*h)//3)
    "q_multimodal_resize" -> ((s, dir) => {
      import org.apache.spark.sql.graftbridge.Bridge
      val img = Bridge.column(graft.operators.TestImageExpr(
        Bridge.expression(col("doc_id"))))
      val rz = Bridge.column(graft.operators.ImageResizeExpr(
        Bridge.expression(img), 4, 3))
      t(s, dir, "documents")
        .select(col("doc_id"),
          Bridge.column(graft.operators.ImageStatsExpr(
            Bridge.expression(rz))).as("st"))
        .select(col("doc_id"), col("st.width").as("width"),
          col("st.height").as("height"), col("st.channels").as("channels"),
          col("st.sum_r").as("sum_r"), col("st.sum_g").as("sum_g"),
          col("st.sum_b").as("sum_b"))
    }),

    // perceptual dHash through the oracle gate: decode -> 9x8 NN gray
    // grid -> 64 horizontal-gradient bits as (hi, lo) 32-bit halves;
    // the oracle recomputes every gradient bit from doc_id's pixel
    // formula — an index-math or bit-packing bug flips rows
    "q_multimodal_dhash" -> ((s, dir) => {
      import org.apache.spark.sql.graftbridge.Bridge
      t(s, dir, "documents")
        .select(col("doc_id"),
          Bridge.column(graft.operators.ImageDHashExpr(
            Bridge.expression(Bridge.column(graft.operators.TestImageExpr(
              Bridge.expression(col("doc_id"))))))).as("ph"))
        .select(col("doc_id"), col("ph.hi").as("dhash_hi"),
          col("ph.lo").as("dhash_lo"))
    }),

    // image RETRIEVAL: top-10 nearest images to doc 7's image by dHash
    // hamming — the perceptual-search serving query. The query hash
    // rides a single-row broadcast; ranking is a TakeOrdered under the
    // (hamming, id) total order, never a full sort
    "q_image_search" -> ((s, dir) => {
      import org.apache.spark.sql.graftbridge.Bridge
      val all = t(s, dir, "documents").select(col("doc_id"),
        Bridge.column(graft.operators.ImageDHashExpr(
          Bridge.expression(Bridge.column(graft.operators.TestImageExpr(
            Bridge.expression(col("doc_id"))))))).as("ph"))
      val q = all.filter(col("doc_id") === 7)
        .select(col("ph.hi").as("qhi"), col("ph.lo").as("qlo"))
      all.filter(col("doc_id") =!= 7).crossJoin(broadcast(q))
        .select(col("doc_id"),
          (expr("bit_count(ph.hi ^ qhi)") + expr("bit_count(ph.lo ^ qlo)"))
            .cast("int").as("hamming"))
        .orderBy(col("hamming").asc, col("doc_id").asc)
        .limit(10)
    }),
    // image NEAR-DUP through the oracle gate: population = every test
    // image plus a PNG-recompressed copy of each %10 image under a
    // shifted id — lossless recompression preserves pixels, so each
    // copy pairs with its original at hamming 0; incidental near-dups
    // among the synthetic images replay identically on both sides
    "q_image_neardup" -> ((s, dir) => {
      import org.apache.spark.sql.graftbridge.Bridge
      val docs = t(s, dir, "documents").select(col("doc_id"))
      val originals = docs.select(col("doc_id"),
        Bridge.column(graft.operators.TestImageExpr(
          Bridge.expression(col("doc_id")))).as("img"))
      val copies = docs.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          Bridge.column(graft.operators.TestImageExpr(
            Bridge.expression(col("doc_id")), png = true)).as("img"))
      graft.operators.Multimodal.imageNearDupPairs(
        originals.unionByName(copies), "doc_id", "img", maxHamming = 3)
    }),

    // REAL audio decode through the oracle gate: deterministic WAV
    // clips (channels/bits/frames and every PCM sample pure functions
    // of doc_id; the id sweep covers all four channels x bit-depth
    // shapes) decoded by the actual RIFF/PCM codec, stats emitted as
    // integers. The oracle recomputes rate/shape/per-channel sums from
    // doc_id alone — an endianness, sign-extension, 8-bit-centering,
    // interleave, or chunk-scan bug flips the row.
    "q_multimodal_audio_decode" -> ((s, dir) => {
      import org.apache.spark.sql.graftbridge.Bridge
      t(s, dir, "documents")
        .select(col("doc_id"),
          Bridge.column(graft.operators.AudioStatsExpr(
            Bridge.expression(Bridge.column(graft.operators.TestWavExpr(
              Bridge.expression(col("doc_id"))))))).as("st"))
        .select(col("doc_id"),
          col("st.sample_rate").as("sample_rate"),
          col("st.channels").as("channels"), col("st.bits").as("bits"),
          col("st.n_frames").as("n_frames"),
          col("st.sum_ch0").as("sum_ch0"),
          col("st.sum_ch1").as("sum_ch1"),
          col("st.sum_abs").as("sum_abs"))
    }),

    // REAL audio resample through the oracle gate: decode -> nearest-
    // neighbor to 4 frames -> re-encode as WAV -> decode stats; the
    // oracle recomputes the resampled sums via the same integer
    // source-frame math ((k*n_frames)//4)
    "q_multimodal_audio_resample" -> ((s, dir) => {
      import org.apache.spark.sql.graftbridge.Bridge
      val wav = Bridge.column(graft.operators.TestWavExpr(
        Bridge.expression(col("doc_id"))))
      val rs = Bridge.column(graft.operators.AudioResampleExpr(
        Bridge.expression(wav), 4))
      t(s, dir, "documents")
        .select(col("doc_id"),
          Bridge.column(graft.operators.AudioStatsExpr(
            Bridge.expression(rs))).as("st"))
        .select(col("doc_id"),
          col("st.sample_rate").as("sample_rate"),
          col("st.channels").as("channels"), col("st.bits").as("bits"),
          col("st.n_frames").as("n_frames"),
          col("st.sum_ch0").as("sum_ch0"),
          col("st.sum_ch1").as("sum_ch1"),
          col("st.sum_abs").as("sum_abs"))
    }),

    // windowed audio FEATURE EXTRACTION through the oracle gate:
    // decode -> per-window |sample| sums (3-frame windows, full
    // windows only — the VAD-style energy contour) -> posexplode to
    // (window, energy) rows. Clips shorter than one window drop out
    // on both sides.
    "q_multimodal_audio_energy" -> ((s, dir) => {
      import org.apache.spark.sql.graftbridge.Bridge
      t(s, dir, "documents")
        .select(col("doc_id"),
          posexplode(Bridge.column(graft.operators.AudioEnergyExpr(
            Bridge.expression(Bridge.column(graft.operators.TestWavExpr(
              Bridge.expression(col("doc_id"))))), 3)))
            .as(Seq("win", "energy")))
    }),

    // JSONL source through the oracle gate: a deterministic delivery
    // (JSON lines derived from documents, ~1% malformed) read via the
    // schema'd PERMISSIVE path — clean rows must round-trip every
    // field exactly (an escaping or schema bug flips the row) and
    // malformed lines must quarantine as all-null payload + raw line,
    // never fail the scan. The oracle rebuilds both populations from
    // `documents` alone.
    "q_jsonl_scan" -> ((s, dir) => {
      val path = jsonlFixture(s, dir)
      graft.sources.Jsonl.read(s, path, StructType(Seq(
          StructField("doc_id", LongType), StructField("source", StringType),
          StructField("text", StringType))))
        .select(col("doc_id"), col("source"), col("text"),
          col(graft.sources.Jsonl.CorruptColumn).as("quarantined"))
    }),

    // write -> read round-trip of the JSONL delivery contract: export
    // the documents payload with Jsonl.write, re-ingest with
    // Jsonl.read, and reproduce the source table exactly (the oracle
    // replays content from `documents` alone — see jsonlExportFixture)
    "q_jsonl_roundtrip" -> ((s, dir) => {
      val path = jsonlExportFixture(s, dir)
      graft.sources.Jsonl.read(s, path, StructType(Seq(
          StructField("doc_id", LongType), StructField("source", StringType),
          StructField("text", StringType))))
        .select(col("doc_id"), col("source"), col("text"))
    }),

    // CSV twin of q_jsonl_scan: same explicit-schema PERMISSIVE
    // quarantine contract, same deterministic malformed population —
    // the oracle rebuilds both populations from `documents` alone
    "q_csv_scan" -> ((s, dir) => {
      val path = csvFixture(s, dir)
      graft.sources.Csv.read(s, path, StructType(Seq(
          StructField("doc_id", LongType), StructField("source", StringType),
          StructField("text", StringType))))
        .select(col("doc_id"), col("source"), col("text"),
          col(graft.sources.Csv.CorruptColumn).as("quarantined"))
    }),
    // CSV write -> read round-trip (quoting/escaping/null fidelity)
    "q_csv_roundtrip" -> ((s, dir) => {
      val path = csvExportFixture(s, dir)
      graft.sources.Csv.read(s, path, StructType(Seq(
          StructField("doc_id", LongType), StructField("source", StringType),
          StructField("text", StringType))))
        .select(col("doc_id"), col("source"), col("text"))
    }),
    // ORC write -> read round-trip: the Spark-native columnar
    // interchange format beside parquet
    // hive-layout partitioned export read back whole: content must
    // be byte-identical to the source (partition values round-trip
    // through directory names)
    "q_partitioned_write" -> ((s, dir) =>
      s.read.parquet(partitionedExportFixture(s, dir))
        .select(col("doc_id"), col("source"), col("text"))),
    "q_orc_roundtrip" -> ((s, dir) =>
      s.read.orc(orcExportFixture(s, dir))
        .select(col("doc_id"), col("source"), col("text"))),
    // co-located join over same-bucketed tables: the write pays the
    // shuffle once; the repeated daily join then plans exchange-free
    // (pinned with broadcast disabled in BucketingStreamSpec)
    "q_bucketed_join" -> ((s, dir) => {
      val (bo, bl) = bucketedJoinTables(s, dir)
      graft.operators.Bucketing.coLocatedJoin(s, bo, bl, "o_orderkey")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_items"),
          sum(round(col("l_extendedprice") * 100).cast("long")).as("cents"))
    }),
    // small-file compaction round-trip: 64 fragments merged to 4 with
    // no shuffle; content must replay from the source table exactly
    "q_compact_roundtrip" -> ((s, dir) =>
      s.read.parquet(s"${compactFixture(s, dir)}/compacted")
        .select(col("doc_id"), col("source"), col("text"))),

    // REAL video decode through the oracle gate: deterministic Y4M
    // clips (geometry/colorspace/frame count and every plane byte pure
    // functions of doc_id; the id sweep covers C444 and C420 layouts)
    // decoded by the actual YUV4MPEG2 codec, stats emitted as
    // integers. The oracle recomputes geometry/per-plane sums from
    // doc_id alone — a header-token, plane-order, subsampled-size, or
    // FRAME-scan bug flips the row.
    "q_multimodal_video_decode" -> ((s, dir) => {
      import org.apache.spark.sql.graftbridge.Bridge
      t(s, dir, "documents")
        .select(col("doc_id"),
          Bridge.column(graft.operators.VideoStatsExpr(
            Bridge.expression(Bridge.column(graft.operators.TestY4mExpr(
              Bridge.expression(col("doc_id"))))))).as("st"))
        .select(col("doc_id"),
          col("st.width").as("width"), col("st.height").as("height"),
          col("st.colorspace").as("colorspace"),
          col("st.n_frames").as("n_frames"),
          col("st.sum_y").as("sum_y"), col("st.sum_u").as("sum_u"),
          col("st.sum_v").as("sum_v"))
    }),

    // REAL video frame sampling through the oracle gate: decode ->
    // nearest-neighbor selection to 3 frames -> re-encode as Y4M ->
    // per-frame luma contour -> posexplode to (frame, luma) rows; the
    // oracle replays the same integer source-frame math
    // ((k*n_frames)//3)
    "q_multimodal_video_frames_real" -> ((s, dir) => {
      import org.apache.spark.sql.graftbridge.Bridge
      val clip = Bridge.column(graft.operators.TestY4mExpr(
        Bridge.expression(col("doc_id"))))
      val sampled = Bridge.column(graft.operators.VideoFrameSampleExpr(
        Bridge.expression(clip), 3))
      t(s, dir, "documents")
        .select(col("doc_id"),
          posexplode(Bridge.column(graft.operators.VideoLumaExpr(
            Bridge.expression(sampled)))).as(Seq("frame_idx", "luma")))
    }),

    // contiguous sequence packing: per-lang shards, 512-token budget,
    // deterministic doc order — the LLM-batch pre-packing shape
    "q_pack_sequences" -> ((s, dir) =>
      graft.operators.Packing.contiguous(
        t(s, dir, "documents")
          .select(col("doc_id"), col("lang"),
            graft.functions.text.tokenCount(col("text")).as("n_tokens")),
        shardCol = "lang", idCol = "doc_id", tokenCol = "n_tokens",
        budgetTokens = 512)),

    // overlapping token-window chunking (RAG / context-window prep):
    // 32-token windows at stride 24 -> 8 tokens of overlap between
    // consecutive chunks, final short window kept
    "q_chunk_windows" -> ((s, dir) =>
      graft.operators.Chunking.tokenWindows(
        t(s, dir, "documents"), "doc_id", col("text"),
        windowTokens = 32, strideTokens = 24)),

    // content-defined chunking: rolling-hash boundaries (width-16
    // window, divisor 64 -> ~64-char expected chunks); the oracle
    // recomputes the identical polynomial hash per position with
    // exact BIGINT arithmetic
    "q_chunk_content" -> ((s, dir) =>
      graft.operators.Chunking.contentDefined(
        t(s, dir, "documents"), "doc_id", col("text"),
        width = 16, divisor = 64)),

    // frame sampling (video/audio window shape) over text-as-bytes:
    // overlapping 64-byte windows at stride 48. Frames surface as
    // STRING (ASCII corpus: chars == bytes) because DuckDB 1.0 has no
    // blob substring for the oracle.
    "q_multimodal_frames" -> ((s, dir) =>
      Multimodal.sampleFrames(
        Multimodal.asAssets(t(s, dir, "documents"), "doc_id", col("text"),
          "text/plain"),
        frameBytes = 64, strideBytes = 48)
        .select(col("asset_id"), col("frame_idx"),
          col("frame").cast("string").as("frame"))),

    // the full pipeline spine (limit -> sanitize -> filter -> transforms)
    // with SQL-expressible transforms (Replace + Nullify), so the whole
    // composition is oracle-checked end to end. The faker-bearing
    // pipeline runs in entry() and the CLI e2e spec; fakers themselves
    // are pinned by the q_fake_* shape-invariant oracles + ScalaTest.
    "q_anonymize_pipeline" -> ((s, dir) => {
      val cfg = TableConfig(
        tableName = "customer",
        anonymizationType = AnonymizationType.Multi(Seq(
          ColumnTransformation("c_name", TransformationType.Replace("ANONYMIZED")),
          ColumnTransformation("c_acctbal", TransformationType.Nullify))),
        keepNumOfRecords = Some(1000),
        filterType = FilterType.AnyOfInt("c_nationkey", Seq(3, 4)),
        sanitizeNullBytes = true)
      TablePipeline.build(t(s, dir, "customer"), cfg, orderForLimit = Seq("c_custkey"))
    }),

    // ---- corpus analysis / sessionization (round 4) --------------------
    // gap sessions over the event stream: 30-minute gap, µs timestamps
    "q_sessionize" -> ((s, dir) =>
      graft.operators.Temporal.sessionize(
        events(s, dir).select(col("user_id"), col("ts"), col("event_id")),
        keyCol = "user_id", tsCol = "ts", gap = 1800000000L,
        tieCol = "event_id")),
    // Gopher-style repetition signals: raw integers (exact) + the two
    // derived ratios (round(6), same double formulation as the oracle)
    "q_quality_repetition" -> ((s, dir) => {
      val st = text.repetitionStats(col("text"))
      t(s, dir, "documents").select(col("doc_id"),
        element_at(st, 1).as("n_tokens"),
        element_at(st, 2).as("n_distinct"),
        text.dupWordRatio(col("text")).as("dup_word_ratio"),
        text.topBigramRatio(col("text")).as("top_bigram_ratio"))
    }),
    "q_vocab_topk" -> ((s, dir) =>
      graft.operators.Corpus.vocabTopK(t(s, dir, "documents"), "text", 50)),
    "q_corpus_stats" -> ((s, dir) =>
      graft.operators.Corpus.lengthStats(t(s, dir, "documents"),
        groupCol = "source", lenCol = "n_chars")),
    "q_pii_redact" -> ((s, dir) =>
      Transformators.redactPii(t(s, dir, "customer"), Seq("c_name"))),
    "q_dedup_chunks" -> ((s, dir) =>
      Dedup.dedupChunks(t(s, dir, "documents"), "doc_id", "text",
        chunkWords = 10)),
    // exact substring-level dedup (Lee et al. 2021) at word-5-gram
    // granularity: per-doc duplicated-gram / covered-token counts —
    // the detection half of suffix-array substring dedup, distributed
    // as a gram-keyed groupBy (shuffle ∝ distinct grams, never pairs)
    "q_dedup_substring" -> ((s, dir) =>
      Dedup.duplicatedNgramStats(docsSplit(s, dir), "doc_id", "text",
        n = 5, minDocs = 2)),
    // the removal half: tokens covered by any cross-doc duplicated
    // 5-gram deleted, survivors re-joined in order — output in the
    // tier's normalized token space, like q_dedup_chunks
    "q_dedup_substring_clean" -> ((s, dir) =>
      Dedup.removeDuplicatedNgrams(docsSplit(s, dir), "doc_id", "text",
        n = 5, minDocs = 2)),
    // the SAME clean, expressed entirely through the registered SQL
    // surface: the dup-set aggregate is plain SQL; the removal half is
    // `remove_dup_grams` under the dup set as a scalar-subquery runtime
    // table (the ANN tier's nearest_centroid pattern). Broadcast-sized
    // dup sets only — the shuffle-join removal is the programmatic
    // tier's scale path. Pinned equal to removeDuplicatedNgrams in
    // SqlAndDmsSpec; same oracle as q_dedup_substring_clean.
    "q_substring_clean_sql" -> ((s, dir) => {
      graft.functions.registry.registerAll(s)
      // the gated parallelism repair applies to the SQL surface too:
      // the view is the (possibly repaired) scan, so the tokenize +
      // gram explode below runs 32-way instead of on the single split
      docsSplit(s, dir).createOrReplaceTempView("graft_substr_docs")
      s.sql("""
        WITH tk AS (
          SELECT doc_id, filter(split(lower(trim(text)), '\\s+'),
                                t -> t != '') AS toks
          FROM graft_substr_docs),
        g AS (
          SELECT doc_id, explode(CASE WHEN size(toks) >= 5
            THEN transform(sequence(0, size(toks) - 5),
                           i -> concat_ws(' ', slice(toks, i + 1, 5)))
            ELSE CAST(array() AS array<string>) END) AS gram
          FROM tk),
        dup AS (
          SELECT collect_list(gram) AS tab FROM (
            SELECT gram FROM g GROUP BY gram
            HAVING count(DISTINCT doc_id) >= 2))
        SELECT doc_id,
               remove_dup_grams(text, (SELECT tab FROM dup), 5) AS text_clean
        FROM graft_substr_docs
      """)
    }),
    // incremental ingest: docs >= 400 arrive as the new batch and dedup
    // against the fingerprint index of the already-accepted corpus
    "q_dedup_incremental" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val existingFps = docs.filter(col("doc_id") < 400)
        .select(text.fingerprintMd5(col("text")).as("fp")).distinct()
      Dedup.incrementalByFingerprint(
        docs.filter(col("doc_id") >= 400), "doc_id", "text", existingFps)
    }),
    // incremental NEAR-dup ingest: the new batch probes the accepted
    // corpus' persisted minhash band index — corpus text is touched
    // only for band-collision candidates, never re-signatured. Oracle
    // is the exact all-pairs jaccard across the 400 boundary (banding
    // recall is 1 on this corpus, the q_dedup_minhash property)
    "q_neardup_incremental" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val accepted = docs.filter(col("doc_id") < 400)
      val index = Dedup.minhashBandIndex(accepted, "doc_id", "text")
      Dedup.incrementalNearDup(accepted, index,
        docs.filter(col("doc_id") >= 400), "doc_id", "text")
    }),
    // the bloom-join tier of the same operation: result-identical by
    // construction (no false negatives; false positives verified by the
    // exact join), so the SAME oracle checks it
    "q_dedup_incremental_bloom" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val existingFps = docs.filter(col("doc_id") < 400)
        .select(text.fingerprintMd5(col("text")).as("fp")).distinct()
      Dedup.incrementalByFingerprintBloom(
        docs.filter(col("doc_id") >= 400), "doc_id", "text", existingFps,
        expectedItems = 1000L, fpp = 0.01)
    }),
    // self-trained unigram LM scoring; vocabSize 20 < the corpus's ~31
    // distinct tokens, so the OOV floor path is genuinely exercised
    "q_lm_score" -> ((s, dir) =>
      graft.operators.Corpus.unigramScore(t(s, dir, "documents"),
        idCol = "doc_id", textCol = "text", vocabSize = 20)),
    // SymSpell fuzzy join: edit-distance-1 customer-name pairs via
    // symmetric-delete blocking + exact levenshtein verify; the
    // oracle is the all-pairs form the blocking avoids
    "q_fuzzy_pairs" -> ((s, dir) =>
      Dedup.fuzzyPairs(
        t(s, dir, "customer").filter(col("c_custkey") % 10 === 0),
        "c_custkey", "c_name")),
    // TF-IDF cosine top-20 pairs: lexical document similarity with
    // integer-exact weights, df-capped postings, TakeOrdered top-k
    "q_tfidf_sim" -> ((s, dir) =>
      graft.operators.Corpus.tfidfSimilarPairs(t(s, dir, "documents"),
        idCol = "doc_id", textCol = "text", minDf = 2, maxDf = 50,
        topK = 20)),
    // bigram LM with stupid backoff: catches real-words-impossible-
    // order docs the unigram tier scores as fine; both models trained
    // on the corpus, scoring a pure projection
    "q_lm_bigram" -> ((s, dir) =>
      graft.operators.Corpus.bigramScore(docsSplit(s, dir),
        idCol = "doc_id", textCol = "text", vocabSize = 20, bigramSize = 30)),
    // calendar dimension build: one row per day of the order span with
    // the usual attributes — ISO day-of-week via weekday+1 (Spark's
    // dayofweek is Sunday-1, DuckDB's dow is Sunday-0; the ISO form is
    // the one both engines agree on)
    "q_date_dim" -> ((s, dir) => dateDim(s, dir)),
    // star join: the fact table against the conformed calendar dim
    // (broadcast — a date spine is always dimension-sized); weekly
    // revenue rollup on (ISO year, ISO week) so a week spanning a
    // year boundary lands in ONE bucket (grouping by calendar year
    // would split ISO week 1 across two rows every late December)
    "q_star_join" -> ((s, dir) =>
      t(s, dir, "orders")
        .select(col("o_orderdate").cast("date").as("d"),
          round(col("o_totalprice") * 100).cast("long").as("c"))
        .join(broadcast(dateDim(s, dir).select(col("d"), col("iso_yr"),
          col("iso_week"))), "d")
        .groupBy(col("iso_yr"), col("iso_week"))
        .agg(count(lit(1)).as("n_orders"), sum(col("c")).as("cents"))),
    // per-source term signatures (c-TF-IDF lift): the 5 most over-
    // represented terms per source vs the whole corpus
    "q_class_terms" -> ((s, dir) =>
      graft.operators.Corpus.classTerms(t(s, dir, "documents"),
        classCol = "source", textCol = "text", minTf = 5, k = 5)),
    // per-type winsorization at exact order-statistic bounds — the
    // clipped column holds only values that exist in the input, so
    // nothing interpolated can diverge across engines
    "q_winsorize" -> ((s, dir) =>
      graft.operators.Stats.winsorize(
        events(s, dir).filter(col("user_id") % 11 === 0)
          .select(col("event_type"), col("event_id"), col("value")),
        groupCol = "event_type", valueCol = "value", tieCol = "event_id",
        pLo = 0.05, pHi = 0.95)),
    // PMI collocation mining (Church & Hanks 1990): top-40 adjacent
    // pairs by integer ppm lift (monotone in PMI — no float log);
    // minCount=3 prunes the PMI-unstable hapax tail before any join
    "q_pmi_collocations" -> ((s, dir) =>
      graft.operators.Corpus.pmiCollocations(t(s, dir, "documents"),
        textCol = "text", minCount = 3, k = 40)),
    // first-order Markov transition matrix of per-user event flows,
    // ppm-scaled integer probabilities; ts is the µs-contract read
    "q_transitions" -> ((s, dir) =>
      graft.operators.Temporal.transitions(events(s, dir), "user_id",
        "ts", "event_type", tieCol = "event_id")),
    // flow mining one step richer than the pair matrix: the top-20
    // event-type trigrams across all user streams with ppm shares
    "q_top_paths" -> ((s, dir) =>
      graft.operators.Temporal.topPaths(events(s, dir), "user_id",
        "ts", "event_type", tieCol = "event_id", topK = 20)),
    // sampling-uncertainty read on the corpus mean: 32 deterministic
    // half-sample resamples, exact integer sums and ppm means
    "q_bootstrap_ci" -> ((s, dir) =>
      graft.operators.Stats.bootstrapMeans(
        events(s, dir).withColumn("cents",
          floor(col("value") * 100).cast("long")),
        "event_id", "cents", b = 32)),
    // storage-encoding advisor: per-column cardinality/null/width
    // profile and the dict/plain/constant/sparse suggestion, one scan
    "q_encoding_advisor" -> ((s, dir) =>
      graft.operators.Layout.encodingAdvisor(t(s, dir, "customer"),
        Seq("c_custkey", "c_name", "c_nationkey", "c_mktsegment",
          "c_acctbal"))),
    // is language independent of source? Pearson chi-square over the
    // densified lang x source grid in exact ppm integers; the sampled
    // wrapper enforces the N<=4e4 exactness bound (self-disabling
    // content-hash sample, identical arithmetic in the oracle)
    "q_chi_square" -> ((s, dir) =>
      graft.operators.Stats.chiSquareSampled(t(s, dir, "documents"),
        "doc_id", "lang", "source")),
    // learning-curve levels: nested 1%/10%/50% samples (each a strict
    // subset of the next) with per-level n / sum / ppm mean
    "q_nested_samples" -> ((s, dir) =>
      graft.operators.Sampling.nestedSamples(
        events(s, dir).withColumn("cents",
          floor(col("value") * 100).cast("long")),
        "event_id", "cents", fractions = Seq(0.01, 0.1, 0.5))),
    // gap-filled daily resample with LOCF: one row per (user, day) of
    // the user's span, empty days carry the last value forward
    "q_resample_locf" -> ((s, dir) =>
      graft.operators.Temporal.resampleLocf(events(s, dir), "user_id",
        "ts", "value", tieCol = "event_id", step = 86400000000L)),
    // gap days linearly blended between neighbors in exact integer
    // cents (LOCF's interpolating sibling)
    "q_interp_resample" -> ((s, dir) =>
      graft.operators.Temporal.resampleInterpolate(
        events(s, dir).withColumn("cents",
          round(col("value") * 100).cast("long")),
        "user_id", "ts", "cents", tieCol = "event_id",
        step = 86400000000L)),
    // peak concurrent sessions per day: +1/-1 boundary sweep whose
    // prefix sum rides the distributed cumsum path
    "q_concurrency" -> ((s, dir) =>
      // sessions are eagerly materialized: the cumsum consumes the
      // frame in three subplan branches (bounds agg, bucketing, local
      // window) and only two share an exchange — measured idle A/B
      // min-of-3 at sf0.1: 1.50s checkpointed vs 2.14s recomputed
      graft.operators.Temporal.concurrencyCurve(
        graft.operators.Dedup.materializeShared(graft.operators.Temporal.sessionize(
          events(s, dir).select(col("user_id"), col("ts"), col("event_id")),
          keyCol = "user_id", tsCol = "ts", gap = 1800000000L,
          tieCol = "event_id")),
        startCol = "session_start", endCol = "session_end",
        tieCols = Seq("user_id", "session_idx"),
        bucketUs = 86400000000L)),
    // detector-vs-label agreement: lang-id confusion matrix with
    // per-label shares (the diagonal is the detector's recall)
    "q_langid_confusion" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      t(s, dir, "documents")
        .select(col("lang").as("labeled"),
          text.langId(col("text")).as("predicted"))
        .groupBy(col("labeled"), col("predicted"))
        .agg(count(lit(1)).as("n"))
        .withColumn("label_total",
          sum(col("n")).over(Window.partitionBy(col("labeled"))))
        .withColumn("share_ppm", expr("n * 1000000L div label_total"))
    }),
    // chance-corrected detector-vs-label agreement on the same pairs:
    // Cohen's kappa in exact ppm (the one-number summary of the
    // confusion matrix above)
    "q_cohens_kappa" -> ((s, dir) =>
      graft.operators.Eval.cohensKappa(
        t(s, dir, "documents")
          .select(col("lang").as("labeled"),
            text.langId(col("text")).as("predicted")),
        "labeled", "predicted")),
    // truncated EWMA (α=1/2): power-of-two weights shift exponents
    // without rounding, so the smoothed doubles are engine-bit-exact
    "q_ewma" -> ((s, dir) =>
      graft.operators.Temporal.ewmaHalfLife(
        events(s, dir).filter(col("user_id") % 7 === 0),
        "user_id", "ts", "event_id", "value")),
    // data-derived equi-width histogram: bin bounds from one min/max
    // pass, assignment in exact cents arithmetic — no float edges
    "q_histogram" -> ((s, dir) =>
      graft.operators.Stats.histogram(t(s, dir, "lineitem"),
        "l_extendedprice", nBins = 20)),
    // Hampel median/MAD robust outlier summary per event type
    "q_mad_outliers" -> ((s, dir) =>
      graft.operators.Stats.madOutliers(events(s, dir), "event_type",
        "value")),
    // general connected components (Dedup.components, the min-label
    // BSP iteration) over a fixture-derived sparse bipartite graph:
    // odd ids = suppliers, even ids = customers, edges = rare
    // quantity-50/line-7 shipments; oracle = the exact reachability
    // closure the iteration converges to
    "q_graph_components" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      val edges = li.join(o, li("l_orderkey") === o("o_orderkey"))
        .filter(col("l_quantity") === 50 && col("l_linenumber") === 7)
        .select((col("l_suppkey") * 2 + 1).cast("long").as("id_a"),
          (col("o_custkey") * 2).cast("long").as("id_b"))
        .distinct()
      Dedup.componentsAuto(edges)
    }),
    // nucleus (top-p) quality cut: keep the best-scored docs until 60%
    // of corpus tokens; two-phase bucketed cumsum — never a global
    // single-partition window
    "q_mix_top_p" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("n_chars"),
        size(filter(split(lower(trim(coalesce(col("text"), lit("")))),
          "\\s+"), w => length(w) > 0)).cast("long").as("tok"))
      graft.operators.Sampling.nucleusTopP(d, "n_chars", "doc_id", "tok",
        pPpm = 600000L)
        .select(col("doc_id"), col("n_chars"), col("tok"),
          col("__cum").as("cum_tokens"))
    }),
    // null-safe equi-join (<=>): NULL keys meet NULL keys, the MERGE/
    // dimension-conform semantics a plain = join silently drops
    "q_join_nullsafe" -> ((s, dir) => {
      val a = t(s, dir, "orders")
        .select(expr("nullif(o_orderpriority, '1-URGENT')").as("p"))
      val b = t(s, dir, "orders")
        .select(expr("nullif(o_orderpriority, '1-URGENT')").as("pb"))
        .distinct()
      a.join(b, a("p") <=> b("pb"))
        .groupBy(col("p")).agg(count(lit(1)).as("n"))
    }),
    // quartile bucketing (the curriculum/percentile-band primitive);
    // deterministic under the (balance, key) total order
    // global quartiles WITHOUT the single-partition ntile window: the
    // two-phase global-rank form (range buckets + prefix offsets +
    // parallel per-bucket rank) produces the identical labels and
    // survives a 100x scale-up — the built-in
    // ntile().over(Window.orderBy) serializes the whole table into one
    // task
    "q_ntile" -> ((s, dir) =>
      graft.operators.Analytics.ntileDistributed(
        t(s, dir, "customer").select(col("c_custkey"), col("c_acctbal")),
        k = 4, valCol = "c_acctbal", tieCols = Seq("c_custkey"),
        outCol = "quartile")),
    // rank-distribution window functions (percent_rank / cume_dist /
    // dense_rank) partitioned per nation — the analytics-window sweep.
    // Reported as FLOOR-scaled ppm ints: round(,6) is a midpoint trap
    // (333/640 = .5203125 — Spark rounds the decimal string half-up,
    // DuckDB rounds the binary double down); floor of the same double
    // is engine-exact.
    "q_window_distribution" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("c_nationkey"))
        .orderBy(col("c_acctbal").asc, col("c_custkey").asc)
      t(s, dir, "customer").select(col("c_custkey"), col("c_nationkey"),
        floor(percent_rank().over(w) * 1000000).cast("long").as("pr_ppm"),
        floor(cume_dist().over(w) * 1000000).cast("long").as("cd_ppm"),
        dense_rank().over(w).cast("long").as("dr"))
    }),
    // inverted-index build over documents: term -> df/cf + a BOUNDED
    // sorted posting sample (row_number caps the per-term buffer
    // BEFORE collect_list — the stopword-posting OOM guard)
    "q_inverted_index" -> ((s, dir) =>
      graft.operators.Corpus.invertedIndex(t(s, dir, "documents"),
        idCol = "doc_id", textCol = "text", maxPostings = 8)),
    // exact phrase search through the index-shaped token probe:
    // all-tokens candidates, substring verify on candidates only
    "q_phrase_search" -> ((s, dir) =>
      graft.operators.Corpus.phraseSearch(t(s, dir, "documents"),
        "doc_id", "text", phrase = "window stream")),
    // deterministic k-per-group review sample (3 docs per source by
    // content-keyed hash, bounded-heap selection)
    "q_sample_per_group" -> ((s, dir) =>
      graft.operators.Sampling.samplePerGroup(
        t(s, dir, "documents").select(col("source"), col("doc_id")),
        groupCol = "source", keyCol = "doc_id", k = 3)),
    // 2-D skyline of orders (maximize price AND recency): distributive
    // bucket-frontier plan, never a whole-corpus single-partition sort
    "q_skyline" -> ((s, dir) =>
      graft.operators.Stats.skyline(
        t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_totalprice"), col("o_orderdate")),
        "o_totalprice", "o_orderdate")),
    // pg_trgm-style trigram similarity join on part names: blocked on
    // shared trigram (quadratic only within a posting list), exact
    // integer Jaccard; oracle is the all-pairs form the blocking avoids
    "q_trigram_join" -> ((s, dir) =>
      Dedup.trigramJoin(t(s, dir, "part").filter(col("p_partkey") % 20 === 0),
        "p_partkey", "p_name", thresholdPpm = 450000L)),
    // exact triangle count over the part co-purchase graph (parts
    // sharing an order), degree-oriented so no hub blows up the wedge
    // join; the co-purchase graph is non-bipartite, unlike the
    // supplier→customer shipment graph (which has zero triangles)
    "q_triangle_count" -> ((s, dir) =>
      graft.operators.Graph.triangleCount(coPartEdges(s, dir))),
    // per-vertex cohesion profile on the same graph: local clustering
    // coefficient in exact ppm (degree-oriented wedge closure, each
    // triangle attributed to its three corners)
    "q_clustering_coeff" -> ((s, dir) =>
      graft.operators.Graph.clusteringCoefficient(coPartEdges(s, dir))),
    // reciprocal best match over the bucketed embedding candidates:
    // pairs where each side is the other's top-scoring neighbor — the
    // high-precision alignment filter (one-way top-1 keeps hubs)
    "q_mutual_nn" -> ((s, dir) =>
      Similarity.mutualTopMatches(
        Dedup.embeddingNearDupPairs(t(s, dir, "embeddings"), "vec_id",
          "embedding", threshold = 0.45))),
    // degree distribution of the same graph — the shape check run
    // before any heavier graph job
    "q_degree_dist" -> ((s, dir) =>
      graft.operators.Graph.degreeDistribution(coPartEdges(s, dir))),
    // dense-community extraction: 4 peel rounds toward the 16-core of
    // the co-purchase graph (fixed-round contract, like q_graph_bfs)
    "q_kcore" -> ((s, dir) =>
      graft.operators.Graph.kCore(coPartEdges(s, dir), k = 16, rounds = 4)),
    // edge-cohesion strengthening of the core: 3 peel rounds toward
    // the 5-truss (every surviving edge in >= 3 triangles of the
    // subgraph), same fixed-round contract; output keeps each
    // surviving edge's final triangle support
    "q_ktruss" -> ((s, dir) =>
      graft.operators.Graph.kTruss(coPartEdges(s, dir), k = 5, rounds = 3)
        .select(col("a").as("id_a"), col("b").as("id_b"), col("support"))),
    // deterministic synchronous label propagation (3 rounds, min-label
    // ties) on the same co-purchase graph as q_graph_components — the
    // local-community view between connectivity and k-core density
    "q_label_prop" -> ((s, dir) =>
      // single consumer: the lazy frame flows straight into the sweep
      graft.operators.Graph.labelPropagation(lpaEdges(s, dir), "id_a",
        "id_b", rounds = 3)),
    // community-quality audit over the SAME LPA assignment: per
    // community, conductance (cut over min-side volume — the
    // separation read) and the Newman modularity term (intra share
    // minus the degree-null square, overflow-free at any edge count
    // via the (vol·1e6 div 2m)² div 1e6 form); Σ terms = Q downstream
    "q_community_quality" -> ((s, dir) => {
      // the edge frame feeds TWO consumers (the LPA seeding and the
      // audit) — cut it once so the lineitem⋈orders join runs once,
      // not once per consumer (guide §2.4 / §5 caching-for-reuse)
      val edges = graft.operators.LineageCut.cut(lpaEdges(s, dir))
      val lpa = graft.operators.Graph.labelPropagation(edges, "id_a",
        "id_b", rounds = 3)
        .select(col("id"), col("community"))
      graft.operators.Graph.communityQuality(edges, lpa)
    }),
    // Newman modularity Q of the same LPA partition: the one-number
    // partition grade (Σ per-community terms — a pure signed sum, no
    // division after the per-community exactness)
    "q_modularity" -> ((s, dir) => {
      // two consumers (LPA + the audit roll-up): cut once, scan once
      val edges = graft.operators.LineageCut.cut(lpaEdges(s, dir))
      val lpa = graft.operators.Graph.labelPropagation(edges, "id_a",
        "id_b", rounds = 3)
        .select(col("id"), col("community"))
      graft.operators.Graph.modularity(edges, lpa)
    }),
    // edge-WEIGHTED label propagation on the supplier-customer graph
    // with line quantity as the edge weight: votes are weight SUMS
    // (max weight, min-label ties), parallel supplier-customer edges
    // coalesce by summed weight before round 1 — the community half of
    // the weighted-graph story next to q_pagerank_weighted
    "q_label_prop_weighted" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      val edges = li.join(o, li("l_orderkey") === o("o_orderkey"))
        .filter(col("l_quantity") >= 49 && col("l_linenumber") === 7)
        .select((col("l_suppkey") * 2 + 1).cast("long").as("id_a"),
          (col("o_custkey") * 2).cast("long").as("id_b"),
          col("l_quantity").cast("long").as("w"))
      graft.operators.Graph.labelPropagationWeighted(edges, "id_a",
        "id_b", "w", rounds = 3)
    }),
    // one-level Louvain local-move refinement (2 synchronous rounds,
    // exact division-free integer ΔQ, ties to the lowest community id)
    // over the SAME LPA seeding as q_modularity — the greedy capstone
    // of the community tier; q_louvain_gain reads the before/after Q
    "q_louvain" -> ((s, dir) => {
      // two consumers (LPA seeding + the refinement sweep): cut once
      val edges = graft.operators.LineageCut.cut(lpaEdges(s, dir))
      val lpa = graft.operators.Graph.labelPropagation(edges, "id_a",
        "id_b", rounds = 3)
        .select(col("id"), col("community"))
      graft.operators.Graph.louvainRefine(edges, lpa, rounds = 2)
    }),
    // the refinement's report card: Q of the LPA seeding vs Q after
    // the Louvain rounds, side by side in one row (synchronous rounds
    // are not monotone in general — the honest read is measured, not
    // assumed; on this graph the sweep must not LOSE quality, which
    // the oracle pins by replaying both numbers)
    "q_louvain_gain" -> ((s, dir) => {
      // FOUR consumers of the edge frame (LPA, the refinement, and the
      // before/after modularity audits): cut once — the old shape
      // re-ran the lineitem⋈orders join + distinct four times
      val edges = graft.operators.LineageCut.cut(lpaEdges(s, dir))
      // the LPA seeding likewise feeds the refinement AND the before-Q
      // audit; labelPropagation's tail is already a checkpoint, so no
      // extra cut is needed
      val lpa = graft.operators.Graph.labelPropagation(edges, "id_a",
        "id_b", rounds = 3)
        .select(col("id"), col("community"))
      val refined = graft.operators.Graph.louvainRefine(edges, lpa,
        rounds = 2)
      val before = graft.operators.Graph.modularity(edges, lpa)
        .select(col("n_communities").as("n_communities_before"),
          col("q_ppm").as("q_before_ppm"))
      val after = graft.operators.Graph.modularity(edges, refined)
        .select(col("n_communities").as("n_communities_after"),
          col("q_ppm").as("q_after_ppm"))
      before.crossJoin(after)
    }),
    // weighted quartiles of extended price, weighted by quantity — the
    // revenue-weighted distribution read; prefix weights ride the
    // distributed cumsum (no global-sort window at any scale)
    "q_weighted_quartiles" -> ((s, dir) =>
      graft.operators.Stats.weightedQuartiles(
        t(s, dir, "lineitem")
          .withColumn("cents",
            round(col("l_extendedprice") * 100).cast("long"))
          .withColumn("w", col("l_quantity").cast("long")),
        "cents", "w", tieCols = Seq("l_orderkey", "l_linenumber"))),
    // functional-dependency audit (RI's sibling): does l_partkey
    // determine l_suppkey? The report lists determinant values mapped
    // to more than one dependent — real TPC-H violates this FD (a part
    // has several suppliers), so the report is non-trivially populated
    "q_fd_violations" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_partkey"))
        .agg(countDistinct(col("l_suppkey")).as("n_distinct"),
          count(lit(1)).as("n_rows"))
        .filter(col("n_distinct") > 1)),
    // accumulating-snapshot fact: per-order lifecycle spans derived
    // from its line items (order → first ship, last receipt) — the
    // Kimball milestone-duration pattern, one join + one aggregation
    "q_order_lifecycle" -> ((s, dir) => {
      val o = t(s, dir, "orders").filter(col("o_orderkey") % 9 === 0)
        .select(col("o_orderkey"), col("o_orderdate").cast("date").as("od"))
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_shipdate").cast("date").as("sd"))
      o.join(li, o("o_orderkey") === li("l_orderkey"))
        .groupBy(col("o_orderkey"))
        .agg(datediff(min(col("sd")), min(col("od"))).cast("long")
          .as("days_to_first_ship"),
          datediff(max(col("sd")), min(col("od"))).cast("long")
            .as("days_to_last_ship"),
          count(lit(1)).as("n_lines"))
    }),
    // referential-integrity audit: orphan counts per FK relation; the
    // doctored custkey block proves detection, the clean lineitem
    // relation pins the zero row
    "q_ri_audit" -> ((s, dir) => {
      val o = t(s, dir, "orders").withColumn("o_custkey",
        when(col("o_orderkey") % 97 === 0, col("o_custkey") + lit(5000000L))
          .otherwise(col("o_custkey")))
      graft.pipeline.Validator.referentialAudit(Seq(
        ("orders->customer", o, Seq("o_custkey"),
          t(s, dir, "customer"), Seq("c_custkey")),
        ("lineitem->orders", t(s, dir, "lineitem"), Seq("l_orderkey"),
          t(s, dir, "orders"), Seq("o_orderkey"))))
    }),
    // integer-scaled PageRank (5 power steps) over the supplier→
    // customer shipment graph; customers offset by 100000 to disjoint
    // the id spaces. All-integer damping keeps it engine-exact.
    "q_pagerank" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      val edges = li.join(o, li("l_orderkey") === o("o_orderkey"))
        .filter(col("l_quantity") >= 48)
        .select(col("l_suppkey").cast("long").as("src"),
          (col("o_custkey") + 100000).cast("long").as("dst"))
      graft.operators.Graph.pageRankScaled(edges, "src", "dst", iters = 5)
    }),
    // edge-weighted PageRank on the same shipment graph, weights =
    // summed shipped quantity per (supplier, customer) pair — mass
    // follows volume, not edge count
    "q_pagerank_weighted" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      val edges = li.join(o, li("l_orderkey") === o("o_orderkey"))
        .filter(col("l_quantity") >= 48)
        .select(col("l_suppkey").cast("long").as("src"),
          (col("o_custkey") + 100000).cast("long").as("dst"),
          col("l_quantity").cast("long").as("w"))
      graft.operators.Graph.pageRankWeightedScaled(edges, "src", "dst",
        "w", iters = 5)
    }),
    // HITS hubs/authorities on the same directed shipment graph:
    // suppliers are the hubs, customers the authorities; 4 full rounds
    // of the L1-ppm-normalized recurrence (engine-exact, unlike the
    // paper's float L2)
    "q_hits" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      val edges = li.join(o, li("l_orderkey") === o("o_orderkey"))
        .filter(col("l_quantity") >= 48)
        .select(col("l_suppkey").cast("long").as("src"),
          (col("o_custkey") + 100000).cast("long").as("dst"))
      graft.operators.Graph.hitsScaled(edges, "src", "dst", iters = 4)
    }),
    // personalized PageRank from a trusted supplier seed set: proximity
    // to the seeds over the same supplier->customer graph — the
    // graph-curation primitive ("expand from what we trust")
    "q_pagerank_personalized" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      // the edge frame feeds the PPR loop AND the seed derivation: cut
      // once so the lineitem⋈orders join runs once, not twice
      val edges = graft.operators.LineageCut.cut(
        li.join(o, li("l_orderkey") === o("o_orderkey"))
          .filter(col("l_quantity") >= 48)
          .select(col("l_suppkey").cast("long").as("src"),
            (col("o_custkey") + 100000).cast("long").as("dst")))
      val nodes = edges.select(col("src").as("id"))
        .unionByName(edges.select(col("dst").as("id"))).distinct()
      val seeds = nodes.filter(col("id") < 100000 && col("id") % 7 === 0)
      graft.operators.Graph.personalizedPageRankScaled(
        edges, "src", "dst", seeds, iters = 5)
    }),
    // BM25 relevance against a fixed topic query (3 corpus terms + one
    // guaranteed-absent term exercising the df=0 guard); per-term
    // contributions floored to 1e6-scaled longs and integer-summed —
    // the q_diversity cross-engine float pattern
    "q_bm25_score" -> ((s, dir) =>
      graft.operators.Corpus.bm25(t(s, dir, "documents"),
        idCol = "doc_id", textCol = "text", terms = Oracles.bm25Terms)),
    // per-column null/distinct profile (schema-drift sweep) — widened
    // beyond customer's string/int/decimal columns to a DATE column
    // (orders) and a TIMESTAMP column (events, surfaced at µs like the
    // CDC queries) so the pass-through temporal types get oracle
    // coverage on the profiling path too
    "q_profile" -> ((s, dir) =>
      graft.operators.Corpus.profile(t(s, dir, "customer"))
        .unionByName(graft.operators.Corpus.profile(
          t(s, dir, "orders").select(col("o_orderdate"))))
        .unionByName(graft.operators.Corpus.profile(
          events(s, dir).select(timestamp_micros(col("ts")).as("ts"))))),
    // per-source corpus health dashboard — the INTEGER-ONLY projection
    // (n_dups / sum_q_scaled BIGINTs instead of dup_rate / avg_quality
    // doubles): two rounds of full-precision-double rows hashed red in
    // the driver while the math was provably bit-identical, so the
    // oracle row now carries no double at all; CorpusOpsSpec pins the
    // ratio-emitting sourceReport API against this form row by row
    "q_source_report" -> ((s, dir) =>
      graft.operators.Corpus.sourceReportInts(t(s, dir, "documents"),
        groupCol = "source", textCol = "text")),
    // token-budget mixing: even docs capped at 5000 tokens (rate < 1),
    // odd docs under an ample budget (rate = 1 — the keep-all path)
    "q_mix_token_budget" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .withColumn("__tok", text.tokenCount(col("text")))
      graft.operators.Sampling.mixByTokenBudget(Seq(
          ("even", docs.filter(col("doc_id") % 2 === 0), 5000L),
          ("odd", docs.filter(col("doc_id") % 2 =!= 0), 1000000000L)),
        keyCol = "doc_id", tokenCol = "__tok")
        .select(col("doc_id"), col("__source"))
    }),
    // temperature-flattened mixture at tau=2 (the sqrt instance — the
    // correctly-rounded, oracle-exact power; see Sampling.temperatureMix)
    "q_mix_temperature" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .withColumn("__tok", text.tokenCount(col("text")))
      graft.operators.Sampling.temperatureMix(Seq(
          ("even", docs.filter(col("doc_id") % 2 === 0)),
          ("odd", docs.filter(col("doc_id") % 2 =!= 0))),
        keyCol = "doc_id", tokenCol = "__tok", totalBudget = 6000L)
        .select(col("doc_id"), col("__source"))
    }),
    // DSIR-style importance weights (integer variant): every document
    // scored by how English-target-like its hashed word-bigram profile
    // is — per-bucket add-one-smoothed count ratio, per-doc MEAN ratio
    // (the documented linear-ratio divergence from the paper's
    // log-likelihood ratio — ranking-equivalent use, no transcendental)
    // — the principled resampling signal above q_mix_weighted's dials
    "q_importance_weights" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.operators.Corpus.importanceWeights(
        docs.select(col("doc_id"), col("text")),
        docs.filter(col("lang") === "en")
          .select(col("doc_id"), col("text")),
        "doc_id", "text", buckets = 8192)
    }),
    // deterministic shard + position assignment (training-data export)
    "q_shard_assign" -> ((s, dir) =>
      graft.operators.Sampling.shardAssign(
        t(s, dir, "documents").select(col("doc_id")), "doc_id", nShards = 8)),
    // the LLM-side curation spine (the anonymize-pipeline twin):
    // Unicode-normalize -> exact dedup by normalized fingerprint ->
    // quality gate -> deterministic hash sample. Every stage is an
    // independently-oracle-checked tier; this row pins the COMPOSITION
    // — the plumbing between tiers is where pipelines rot.
    "q_curation_pipeline" -> ((s, dir) => {
      val normed = t(s, dir, "documents").select(col("doc_id"),
        col("source"), text.normalizeUnicode(col("text")).as("text"))
      val deduped = Dedup.byFingerprint(normed, "doc_id", "text")
      val gated = deduped.filter(
        text.tokenCount(col("text")).between(20, 1000) &&
        round(text.qualityScore(col("text")), 6) >= 0.55)
      graft.operators.Sampling.hashSample(gated, "doc_id", 0.5)
    }),
    // Gopher-style composed quality gate: token bounds + composite
    // quality + both repetition signals, as ONE codegen'd filter
    "q_quality_filter" -> ((s, dir) =>
      graft.operators.Corpus.qualityFilter(t(s, dir, "documents"), "text",
        graft.operators.Corpus.QualityGates(minTokens = 20, maxTokens = 1000,
          minQuality = 0.55, maxDupWordRatio = 0.6, maxTopBigramRatio = 0.1))),
    // SemDeDup: one k-means training run (the IVF quantizer) bounds the
    // pair search to clusters, with nprobe=2 soft assignment (a planted
    // pair straddled a hard-assignment Voronoi face at 2 of 3 SFs);
    // survivors = the original corpus (co-probing pinned per SF in
    // TextDedupSpec)
    "q_semantic_dedup" -> ((s, dir) => {
      val aug = plantedEmbeddings(s, dir)
      // distinct memo key: trained on the PLANTED corpus, not the raw
      // embeddings table the shared ANN quantizers are fit on
      val centroids = ModelMemo.getOrTrain(s, s"ivf_planted:16:2:$dir") {
        graft.operators.Ivf.train(aug, "vec_id", "embedding",
          nlist = 16, iters = 2)
      }
      Dedup.semanticDedup(aug, "vec_id", "embedding", centroids,
        threshold = 0.7).select(col("vec_id"))
    }),
    // deterministic content-keyed reservoir: global top-k under a
    // salted md5 rank — TakeOrderedAndProject (local k-heaps merge at
    // the driver), reproducible at any partitioning or scale
    "q_sample_reservoir" -> ((s, dir) =>
      graft.operators.Sampling.reservoirByHash(
        t(s, dir, "documents").select(col("doc_id"), col("lang"),
          col("source"), col("n_chars")),
        keyCol = "doc_id", salt = "rsv", k = 200)),
    // rolling 1-hour per-user activity window (RANGE frame on the µs
    // axis, inclusive lower bound): cents-exact value sums, one sorted
    // pass per user — never a time-window self-join
    "q_window_range_frame" -> ((s, dir) =>
      graft.operators.Temporal.slidingRangeAgg(
        events(s, dir).withColumn("cents",
          round(col("value") * 100).cast("long")),
        partCol = "user_id", tsCol = "ts", centsCol = "cents",
        rangeUs = 3600000000L)),
    // survival-style time-to-next-event per event type: per-user lead
    // gap, mean as integer division of integer sums
    "q_time_to_event" -> ((s, dir) =>
      graft.operators.Temporal.timeToNextEvent(events(s, dir),
        partCol = "user_id", tsCol = "ts", tieCol = "event_id",
        typeCol = "event_type")),
    // incremental view maintenance: base-partition aggregate + delta
    // aggregate merged by Ivm.mergeAdditive; the oracle is the full
    // recompute the merge must equal exactly
    "q_ivm_agg" -> ((s, dir) => {
      def aggOf(df: DataFrame) = df
        .withColumn("c", round(col("o_totalprice") * 100).cast("long"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"), sum(col("c")).as("cents"))
      val o = t(s, dir, "orders")
      val cut = to_date(lit("1998-01-01"))
      graft.operators.Ivm.mergeAdditive(
        aggOf(o.filter(col("o_orderdate").cast("date") < cut)),
        aggOf(o.filter(col("o_orderdate").cast("date") >= cut)),
        keys = Seq("o_orderpriority"))
    }),
    // CUSUM drift detection over the daily event-count series —
    // all-integer devs vs the series mean, running-summed in day order
    "q_cusum" -> ((s, dir) =>
      graft.operators.Stats.cusumDaily(
        events(s, dir).select(expr("ts div 86400000000").as("day_idx"))
          .groupBy(col("day_idx")).agg(count(lit(1)).as("n")),
        idxCol = "day_idx", nCol = "n")),
    // contribution / ratio-to-report: nation revenue share in ppm; the
    // share window runs over the ALREADY-AGGREGATED ≤25-row frame
    // (bounded by |nation|), not the input
    "q_contribution" -> ((s, dir) =>
      graft.operators.Analytics.shareOfTotal(
        t(s, dir, "customer")
          .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"))
          .withColumn("c", round(col("o_totalprice") * 100).cast("long"))
          .groupBy(col("c_nationkey")).agg(sum(col("c")).as("cents")),
        valCol = "cents", outCol = "share_ppm")),
    // int8 scalar quantization of the embedding column (the ANN
    // serving compression step); integer code summaries pin every
    // component's quantized value through position-weighted sums
    "q_embed_quantize" -> ((s, dir) =>
      t(s, dir, "embeddings")
        .withColumn("q", graft.functions.vectors.quantizeInt8("embedding"))
        .select(col("vec_id"), col("label"),
          expr("aggregate(q, CAST(0 AS BIGINT), (a, x) -> a + x)").as("q_sum"),
          expr("aggregate(q, CAST(0 AS BIGINT), (a, x) -> a + abs(x))")
            .as("q_l1"),
          expr("CAST(array_max(q) AS BIGINT)").as("q_max"))),
    // rank-percentile normalization per source: cross-source score
    // leveling before corpus mixing, ppm-exact
    "q_quantile_normalize" -> ((s, dir) =>
      graft.operators.Stats.quantileNormalize(t(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("n_chars")),
        groupCol = "source", valCol = "n_chars", tieCol = "doc_id")),
    // gaps-and-islands: per-user maximal runs of consecutive active
    // days via the day_idx − row_number() grouping key
    "q_gaps_islands" -> ((s, dir) =>
      graft.operators.Temporal.activityIslands(events(s, dir),
        partCol = "user_id", tsCol = "ts")),
    // last-touch attribution: each purchase stamped with the latest
    // strictly-prior click/view of the same user — one window pass,
    // no join against the touch stream
    "q_attribution" -> ((s, dir) =>
      graft.operators.Temporal.lastTouch(events(s, dir),
        partCol = "user_id", tsCol = "ts", tieCol = "event_id",
        typeCol = "event_type", touchTypes = Seq("click", "view"),
        convType = "purchase")),
    // semi-supervised label propagation: majority mktsegment vote per
    // connected component of the shipment graph (even ids = customers)
    "q_component_label" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      val edges = li.join(o, li("l_orderkey") === o("o_orderkey"))
        .filter(col("l_quantity") === 50 && col("l_linenumber") === 7)
        .select((col("l_suppkey") * 2 + 1).cast("long").as("id_a"),
          (col("o_custkey") * 2).cast("long").as("id_b"))
        .distinct()
      val labels = t(s, dir, "customer")
        .select((col("c_custkey") * 2).cast("long").as("id"),
          col("c_mktsegment").as("label"))
      graft.operators.Graph.majorityLabel(Dedup.componentsAuto(edges),
        labels)
    }),
    // market-basket pair mining: part-groups co-ordered in the same
    // order at least 8 times — pair blowup bounded by basket size
    "q_basket_pairs" -> ((s, dir) =>
      graft.operators.Association.frequentPairs(
        t(s, dir, "lineitem").select(col("l_orderkey"),
          (col("l_partkey") % 200).as("pg")),
        basketCol = "l_orderkey", itemCol = "pg", minSupport = 8)),
    // declarative data-quality rules: violation counts per rule, rules
    // over the same frame fused into one scan
    "q_dq_rules" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      graft.pipeline.Validator.ruleReport(Seq(
        ("c_acctbal_nonneg", c, col("c_acctbal") < 0),
        ("c_name_prefix", c, !col("c_name").startsWith("Customer#")),
        ("o_totalprice_pos", t(s, dir, "orders"), col("o_totalprice") <= 0),
        ("l_discount_range", t(s, dir, "lineitem"),
          col("l_discount") < 0 || col("l_discount") > 0.1)))
    }),
    // as-of join with a 4-hour tolerance: each purchase matched to the
    // latest click within the window, stale clicks never join
    "q_asof_tolerance" -> ((s, dir) => {
      val e = events(s, dir)
      val p = e.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val c = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("c_ts"),
          col("event_id").as("attr_id"))
      graft.operators.Temporal.asofJoinTolerance(p, c, Seq("user_id"),
        leftTs = "ts", leftTie = "event_id", rightTs = "c_ts",
        rightTie = "attr_id", tolUs = 14400000000L)
        .select(col("event_id"), col("user_id"), col("attr_id"),
          (col("ts") - col("c_ts")).as("gap_us"))
    }),
    // OHLC candlestick resample: per-user daily open/high/low/close of
    // the cents measure under the (ts, event_id) total order
    "q_ohlc_resample" -> ((s, dir) =>
      graft.operators.Temporal.ohlcResample(
        events(s, dir).withColumn("cents",
          round(col("value") * 100).cast("long")),
        keyCol = "user_id", tsCol = "ts", tieCol = "event_id",
        centsCol = "cents", stepUs = 86400000000L)),
    // leave-one-out target encoding of order priority by cents total —
    // the leakage-guarded categorical ML feature; output sampled by
    // orderkey but encoded against the FULL category stats
    "q_target_encode" -> ((s, dir) =>
      graft.operators.Stats.targetEncodeLoo(
        t(s, dir, "orders")
          .withColumn("c", round(col("o_totalprice") * 100).cast("long")),
        catCol = "o_orderpriority", targetCol = "c", keyCol = "o_orderkey")
        .filter(col("o_orderkey") % 13 === 0)),
    // label-error candidates: top-5 per label by exact integer distance
    // to the label centroid over int8-quantized codes
    "q_label_outliers" -> ((s, dir) =>
      graft.operators.Similarity.labelOutliers(t(s, dir, "embeddings"),
        idCol = "vec_id", labelCol = "label", vecCol = "embedding", k = 5)),
    // HLL register sketch of distinct user-days per event type: the
    // register TABLE is the engine-replayable artifact (md5-derived
    // buckets + trailing-zero ranks), summarized with the exact integer
    // harmonic denominator
    "q_sketch_hll" -> ((s, dir) =>
      graft.operators.Sketch.hllSummary(
        graft.operators.Sketch.hll(hllUserDays(s, dir),
          Seq("event_type"), "ud"), Seq("event_type"))),
    // per-shard registers merged by per-bucket max == whole-corpus
    // registers — the mergeability contract, same oracle as q_sketch_hll
    "q_sketch_hll_merge" -> ((s, dir) => {
      val v = hllUserDays(s, dir)
      val shards = Seq(0, 1).map(i =>
        graft.operators.Sketch.hll(v.filter(col("user_id") % 2 === i),
          Seq("event_type"), "ud"))
      graft.operators.Sketch.hllSummary(
        graft.operators.Sketch.hllMerge(shards.reduce(_ unionByName _),
          Seq("event_type")), Seq("event_type"))
    }),
    // distribution-drift monitor: TV distance ppm between the first
    // and second half of the month, per event type — the PSI use case
    // without its float log
    "q_dist_drift" -> ((s, dir) =>
      graft.operators.Stats.distributionDrift(
        events(s, dir).select(col("event_type"),
          round(col("value") * 100).cast("long").as("xc"),
          when(expr("ts div 86400000000") < 19738, 0).otherwise(1)
            .as("half")),
        groupCol = "event_type", centsCol = "xc", cohortCol = "half",
        nBins = 10)),
    // revenue concentration: how many top customers cover 50/80/90% of
    // order value — descending prefix totals on the distributed cumsum
    "q_pareto" -> ((s, dir) =>
      graft.operators.Stats.paretoCoverage(
        t(s, dir, "orders").withColumn("cents",
          round(col("o_totalprice") * 100).cast("long")),
        "o_custkey", "cents",
        thresholdsPpm = Seq(500000L, 800000L, 900000L))),
    // per-source language purity: majority-language share (ppm), the
    // pre-training mix-quality gate beside the chi-square audit
    "q_lang_purity" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val c = t(s, dir, "documents").groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy(col("source"))
      val wr = Window.partitionBy(col("source"))
        .orderBy(col("n").desc, col("lang").asc)
      c.withColumn("n_docs", sum(col("n")).over(w))
        .withColumn("n_langs", count(lit(1)).over(w))
        .withColumn("__rn", row_number().over(wr))
        .filter(col("__rn") === 1)
        .select(col("source"), col("n_docs"), col("n_langs"),
          col("lang").as("top_lang"),
          expr("n * 1000000L div n_docs").as("top_share_ppm"))
    }),
    // nonparametric location-shift test between the two time halves:
    // Mann-Whitney U in exact doubled-rank integers (no normal
    // approximation, no floats; u2_a vs u2_max/2 reads the direction)
    "q_mann_whitney" -> ((s, dir) =>
      graft.operators.Stats.mannWhitneyU(
        events(s, dir).select(
          round(col("value") * 100).cast("long").as("cents"),
          when(expr("ts div 86400000000") < 19738, 0).otherwise(1)
            .as("half")),
        "cents", "half")),
    // ROC AUC of "does the value score separate purchases from the
    // rest": exact-ppm U/(n0*n1) with standard half-credit ties
    "q_auc" -> ((s, dir) =>
      graft.operators.Stats.aucPpm(
        events(s, dir).select(
          round(col("value") * 100).cast("long").as("cents"),
          when(col("event_type") === "purchase", 1).otherwise(0)
            .as("label")),
        "cents", "label")),
    // Brier score of a deterministic ppm score against purchase-vs-
    // rest: the CALIBRATION grade AUC cannot see (AUC is invariant to
    // monotone rescaling; Brier is the mean squared probability error)
    // — exact ppm via the hi/lo sum split. The score is the cents value
    // hash-spread over [0, 1e6] ((cents·7919) mod 1000001 — the raw
    // cents occupy only the bottom decile at any SF), so the fixture
    // exercises the whole probability range; identical arithmetic in
    // the oracle
    "q_brier" -> ((s, dir) =>
      graft.operators.Stats.brierScore(
        events(s, dir).select(
          expr("(CAST(round(value * 100) AS BIGINT) * 7919L) % 1000001L")
            .as("score_ppm"),
          when(col("event_type") === "purchase", 1).otherwise(0)
            .as("label")),
        "score_ppm", "label")),
    // the binned reliability curve next to the single Brier number:
    // decile score bins, each with n / positives / mean score / actual
    // positive rate — a calibrated scorer has the last two ≈ equal
    "q_calibration_bins" -> ((s, dir) =>
      graft.operators.Stats.calibrationBins(
        events(s, dir).select(
          expr("(CAST(round(value * 100) AS BIGINT) * 7919L) % 1000001L")
            .as("score_ppm"),
          when(col("event_type") === "purchase", 1).otherwise(0)
            .as("label")),
        "score_ppm", "label", bins = 10)),
    // expected calibration error: the bin-weighted |confidence −
    // accuracy| roll-up of the reliability bins into ONE number — the
    // calibration summary Brier mixes with refinement
    "q_ece" -> ((s, dir) =>
      graft.operators.Stats.expectedCalibrationError(
        events(s, dir).select(
          expr("(CAST(round(value * 100) AS BIGINT) * 7919L) % 1000001L")
            .as("score_ppm"),
          when(col("event_type") === "purchase", 1).otherwise(0)
            .as("label")),
        "score_ppm", "label", bins = 10)),
    // isotonic recalibration over the same decile reliability bins:
    // PAV via the minimax closed form (fit_i = max_{j<=i} min_{k>=i}
    // pooled rate over bins j..k) — pure relational algebra on the
    // <= bins-row frame, one truncating division per interval, so the
    // monotone fit replays bit-for-bit in the oracle
    "q_isotonic" -> ((s, dir) =>
      graft.operators.Stats.isotonicCalibration(
        events(s, dir).select(
          expr("(CAST(round(value * 100) AS BIGINT) * 7919L) % 1000001L")
            .as("score_ppm"),
          when(col("event_type") === "purchase", 1).otherwise(0)
            .as("label")),
        "score_ppm", "label", bins = 10)),
    // group-fairness report: selection rate / TPR / FPR per synthetic
    // user cohort for the thresholded spread score against
    // purchase-vs-rest — demographic parity and equalized-odds
    // coordinates in exact ppm, undefined rates honestly NULL
    "q_fairness_report" -> ((s, dir) =>
      graft.operators.Stats.fairnessReport(
        events(s, dir).select(
          (col("user_id") % 3).cast("long").as("cohort"),
          expr("(CAST(round(value * 100) AS BIGINT) * 7919L) % 1000001L")
            .as("score_ppm"),
          when(col("event_type") === "purchase", 1).otherwise(0)
            .as("label")),
        "cohort", "score_ppm", "label", thresholdPpm = 500000L)),
    // Cliff's delta effect size off the same doubled-U frame: 2·AUC−1,
    // the nonparametric magnitude companion to the U test's verdict
    "q_cliffs_delta" -> ((s, dir) =>
      graft.operators.Stats.cliffsDelta(
        events(s, dir).select(
          round(col("value") * 100).cast("long").as("cents"),
          when(col("event_type") === "purchase", 1).otherwise(0)
            .as("label")),
        "cents", "label")),
    // two-sample Kolmogorov-Smirnov D over the same cohort split: the
    // exact sup-norm CDF distance (bin-free, unlike q_dist_drift's TV)
    "q_ks_test" -> ((s, dir) =>
      graft.operators.Stats.ksStatistic(
        events(s, dir).select(
          round(col("value") * 100).cast("long").as("cents"),
          when(expr("ts div 86400000000") < 19738, 0).otherwise(1)
            .as("half")),
        "cents", "half")),
    // split-conformal calibration: the ceil((n+1)(1-alpha))-th smallest
    // score at alpha = 10%/5%, selected via the distributed cumsum
    "q_conformal" -> ((s, dir) =>
      graft.operators.Stats.conformalThresholds(
        events(s, dir).withColumn("cents",
          round(col("value") * 100).cast("long")),
        "cents", tieCols = Seq("event_id"),
        alphasPpm = Seq(100000L, 50000L))),
    // per-user session-duration SLAs: exact order-statistic p50/p90
    // over 6h-gap sessions
    "q_session_duration" -> ((s, dir) =>
      graft.operators.Analytics.exactPercentiles(
        graft.operators.Temporal.sessionize(events(s, dir), "user_id", "ts",
            gap = 21600000000L, tieCol = "event_id")
          .withColumn("dur", col("session_end") - col("session_start")),
        groupCol = "user_id", valCol = "dur", tieCols = Seq("session_idx"),
        percentiles = Seq(0.5 -> "p50_dur_us", 0.9 -> "p90_dur_us"),
        nName = "n_sessions")),
    // Tukey IQR outliers at exact order-statistic quartiles; the
    // 1.5-IQR fences stay integer by scaling everything by 2
    // five event-type groups: low-cardinality regime -> bucketed ranks
    "q_iqr_outliers" -> ((s, dir) =>
      graft.operators.Analytics.iqrOutliersBucketed(
        events(s, dir).select(col("event_type"),
          round(col("value") * 100).cast("long").as("xc"), col("event_id")),
        groupCol = "event_type", valCol = "xc", tieCol = "event_id")),
    // the funnel's headline metric: step-to-step conversion ppm
    "q_funnel_rates" -> ((s, dir) =>
      graft.operators.Analytics.funnelRates(events(s, dir), "user_id", "ts",
        steps = Seq(col("event_type") === "view",
          col("event_type") === "click",
          col("event_type") === "purchase"),
        windowUs = 259200000000L)),
    // filtered vector search: metadata predicate pushed INSIDE the
    // search (pre-filter, never an under-filled post-filter)
    "q_ann_filtered" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.filteredTopK(emb, emb.filter(col("vec_id") < 5),
        "vec_id", "embedding", pred = col("label") % 2 === 0, k = 5)
    }),
    // activity heatmap: (day-of-week, hour) event counts with share
    // ppm — the ops-dashboard staple, pure epoch arithmetic
    "q_activity_heatmap" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      events(s, dir)
        .select(expr("(ts div 86400000000 + 3) % 7").as("dow"),
          expr("ts % 86400000000 div 3600000000").as("hour"))
        .groupBy(col("dow"), col("hour"))
        .agg(count(lit(1)).as("n"))
        .withColumn("share_ppm", expr(
          "n * 1000000 div (sum(n) OVER (PARTITION BY dow))"))
    }),
    // SLA percentiles: exact order-statistic p50/p90 lead-time days
    // per priority (rank = ceil(p*n) under a total order — only input
    // values appear, nothing interpolated)
    // five priority groups over every lineitem: the LOW-cardinality
    // regime, so ranks come from the bucketed two-phase form — a
    // billion-row priority never serializes into one window task
    "q_lead_time_percentiles" -> ((s, dir) =>
      graft.operators.Analytics.exactPercentilesBucketed(
        t(s, dir, "orders")
          .join(t(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
          .select(col("o_orderpriority").as("pri"),
            datediff(col("l_shipdate").cast("date"),
              col("o_orderdate").cast("date")).cast("long").as("days"),
            col("o_orderkey"), col("l_linenumber")),
        groupCol = "pri", valCol = "days",
        tieCols = Seq("o_orderkey", "l_linenumber"),
        percentiles = Seq(0.5 -> "p50_days", 0.9 -> "p90_days"),
        nName = "n")),
    // user growth curve: new users per day and the cumulative distinct
    // total (running window over the day-sized frame)
    "q_user_growth" -> ((s, dir) =>
      graft.operators.Analytics.userGrowth(
        events(s, dir)
          .select(col("user_id"), expr("ts div 86400000000").as("day"))
          .distinct(),
        userCol = "user_id", dayCol = "day")),
    // longest consecutive-day streak per user (max island length)
    "q_longest_streak" -> ((s, dir) =>
      graft.operators.Temporal.activityIslands(events(s, dir),
        partCol = "user_id", tsCol = "ts")
        .groupBy(col("user_id")).agg(max(col("n_days")).as("max_streak"))),
    // per-source curation yield: how much of each source survives the
    // composed Gopher gate — the corpus-curation dashboard row
    "q_quality_yield" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val gates = graft.operators.Corpus.QualityGates(minTokens = 20,
        maxTokens = 1000, minQuality = 0.55, maxDupWordRatio = 0.6,
        maxTopBigramRatio = 0.1)
      val all = docs.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
      val kept = graft.operators.Corpus.qualityFilter(docs, "text", gates)
        .groupBy(col("source")).agg(count(lit(1)).as("n_kept"))
      all.join(kept, Seq("source"), "left").na.fill(0L, Seq("n_kept"))
        .withColumn("yield_ppm", expr("n_kept * 1000000 div n_docs"))
    }),
    // daily churn: actives whose next active day is not tomorrow
    // (last observed day excluded — its churn is not yet knowable)
    "q_churn" -> ((s, dir) =>
      graft.operators.Analytics.dailyChurn(
        events(s, dir)
          .select(col("user_id"), expr("ts div 86400000000").as("day"))
          .distinct(),
        userCol = "user_id", dayCol = "day")),
    // acquisition mix: new (first-ever day) vs returning actives per day
    "q_new_vs_returning" -> ((s, dir) => {
      val d = events(s, dir)
        .select(col("user_id"), expr("ts div 86400000000").as("day"))
        .distinct()
      val f = d.groupBy(col("user_id")).agg(min(col("day")).as("__fd"))
      d.join(f, "user_id").groupBy(col("day"))
        .agg(count(when(col("day") === col("__fd"), 1)).as("n_new"),
          count(when(col("day") > col("__fd"), 1)).as("n_returning"))
    }),
    // power users: the smallest head of the activity distribution
    // covering 80% of events — the nucleus cut over user counts
    "q_power_users" -> ((s, dir) => {
      val u = events(s, dir).groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"))
      graft.operators.Sampling.nucleusTopP(u, "n", "user_id", "n",
        pPpm = 800000L)
        .select(col("user_id"), col("n"), col("__cum").as("cum_events"))
    }),
    // item-to-item recommendations: directed co-occurrence pairs
    // scored by lift ppm, top-3 per item
    "q_recommend" -> ((s, dir) =>
      graft.operators.Association.recommendPairs(
        t(s, dir, "lineitem").select(col("l_orderkey"),
          (col("l_partkey") % 200).as("pg")),
        basketCol = "l_orderkey", itemCol = "pg", minSupport = 8,
        k = 3)),
    // link prediction: neighbor-set Jaccard >= 0.5 over the
    // quantity-50 shipment graph (triangle-count join shape)
    // resource-allocation index on the same bipartite co-edge graph:
    // sum of 1e6 div deg(z) over shared neighbors — the exact-integer
    // link-prediction score (Adamic-Adar's 1/log d cannot replay)
    "q_link_predict_ra" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      val edges = li.join(o, li("l_orderkey") === o("o_orderkey"))
        .filter(col("l_quantity") === 50)
        .select((col("l_suppkey") * 2 + 1).cast("long").as("id_a"),
          (col("o_custkey") * 2).cast("long").as("id_b"))
        .distinct()
      graft.operators.Graph.resourceAllocation(edges, thresholdPpm = 200000L)
    }),
    "q_link_predict" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      val edges = li.join(o, li("l_orderkey") === o("o_orderkey"))
        .filter(col("l_quantity") === 50)
        .select((col("l_suppkey") * 2 + 1).cast("long").as("id_a"),
          (col("o_custkey") * 2).cast("long").as("id_b"))
        .distinct()
      graft.operators.Graph.neighborJaccard(edges, thresholdPpm = 500000L)
    }),
    // linear multi-touch attribution: every click/view inside the
    // 4-hour window before a purchase shares the credit equally (ppm)
    "q_attribution_linear" -> ((s, dir) => {
      val e = events(s, dir)
      val p = e.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val c = e.filter(col("event_type").isin("click", "view"))
        .select(col("user_id"), col("ts").as("__s"),
          (col("ts") + lit(14400000000L - 1)).as("__e"),
          col("event_id").as("touch_id"))
      graft.operators.Analytics.attributionLinear(p, c, Seq("user_id"),
        "ts", "__s", "__e", blockWidth = 14400000000L,
        anchorIdCol = "event_id", touchIdCol = "touch_id")
    }),
    // exponential time-decay attribution: credit halves per hour of
    // touch age, exact via power-of-two integer weights
    "q_attribution_decay" -> ((s, dir) => {
      val e = events(s, dir)
      val p = e.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val c = e.filter(col("event_type").isin("click", "view"))
        .select(col("user_id"), col("ts").as("__s"),
          (col("ts") + lit(14400000000L - 1)).as("__e"),
          col("event_id").as("touch_id"))
      graft.operators.Analytics.attributionDecay(p, c, Seq("user_id"),
        "ts", "__s", "__e", blockWidth = 14400000000L,
        anchorIdCol = "event_id", touchIdCol = "touch_id",
        halfLifeUs = 3600000000L, maxSteps = 20)
    }),
    // Heaps-law vocabulary growth: running tokens vs running distinct
    // types in doc order, on the distributed prefix-sum path
    "q_heaps_law" -> ((s, dir) =>
      graft.operators.Corpus.heapsCurve(docsSplit(s, dir),
        "doc_id", "text")),
    // engagement: daily actives against the 30-day-window actives,
    // stickiness = DAU/MAU ppm; the MAU side is months-sized and
    // broadcasts
    "q_engagement" -> ((s, dir) => {
      val d = events(s, dir).select(expr("ts div 86400000000").as("day"),
        expr("ts div 86400000000 div 30").as("month"), col("user_id"))
      val dau = d.groupBy(col("day"), col("month"))
        .agg(countDistinct(col("user_id")).as("dau"))
      val mau = d.groupBy(col("month"))
        .agg(countDistinct(col("user_id")).as("mau"))
      dau.join(broadcast(mau), "month")
        .select(col("day"), col("month"), col("dau"), col("mau"),
          expr("dau * 1000000 div mau").as("stickiness_ppm"))
    }),
    // power-of-two size histogram (bin = bit length): the log-scale
    // size distribution without a float log
    "q_log2_histogram" -> ((s, dir) =>
      t(s, dir, "documents").filter(col("n_chars") > 0)
        .groupBy(length(conv(col("n_chars"), 10, 2)).cast("long").as("bin2"))
        .agg(count(lit(1)).as("n"), min(col("n_chars")).as("lo"),
          max(col("n_chars")).as("hi"))),
    // freshness report: per-type high-water mark and its lag behind
    // the corpus max (window over the aggregated per-type frame)
    "q_freshness" -> ((s, dir) =>
      graft.operators.Analytics.freshnessLag(events(s, dir),
        groupCol = "event_type", tsCol = "ts")),
    // shipping lead-time distribution per priority (integer day
    // diffs; the synthetic dates include negative lead times — the
    // report shape, not the calendar, is the contract here)
    "q_lead_time" -> ((s, dir) =>
      graft.operators.Analytics.spanStats(
        t(s, dir, "orders")
          .join(t(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
          .select(col("o_orderpriority").as("pri"),
            datediff(col("l_shipdate").cast("date"),
              col("o_orderdate").cast("date")).cast("long").as("days")),
        groupCol = "pri", valCol = "days")),
    // exact per-group mode with deterministic tie-break
    "q_mode_per_group" -> ((s, dir) =>
      graft.operators.Stats.modePerGroup(t(s, dir, "customer"),
        groupCol = "c_nationkey", valCol = "c_mktsegment")),
    // which sources near-duplicate each other: jaccard>=0.5 pairs
    // rolled up to canonical source pairs — the governance view.
    // Pairs come from the banded prune-then-verify path (LSH candidate
    // buckets, exact-jaccard verify) — NOT the corpus-wide shingle
    // self-join, whose shared-shingle blow-up is quadratic per hot
    // shingle at 100x scale. The exact all-pairs SQL stays the oracle,
    // so an LSH recall shortfall fails the hash check.
    "q_source_overlap" -> ((s, dir) => {
      val src = t(s, dir, "documents").select(col("doc_id"), col("source"))
      Dedup.minhashVerifiedPairs(docsSplit(s, dir), "doc_id", "text",
        shingleWidth = 3, numHashes = 128, bands = 32,
        candThreshold = 0.35, threshold = 0.5)
        .join(src.select(col("doc_id").as("id_a"),
          col("source").as("__sa")), Seq("id_a"))
        .join(src.select(col("doc_id").as("id_b"),
          col("source").as("__sb")), Seq("id_b"))
        .groupBy(least(col("__sa"), col("__sb")).as("src_a"),
          greatest(col("__sa"), col("__sb")).as("src_b"))
        .agg(count(lit(1)).as("n_pairs"))
    }),
    // multi-source BFS depth (6 rounds) over the quantity-50 shipment
    // graph; seeds = every 25th supplier node
    "q_graph_bfs" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      // TWO consumers of the shipment-edge join (bfsDepth's symmetrize
      // + the seed filter): cut once — only broadcast subtrees are
      // reused across consumers, so without the cut the lineitem⋈orders
      // join + distinct executed twice (the q_louvain_gain lesson)
      val edges = graft.operators.LineageCut.cut(
        li.join(o, li("l_orderkey") === o("o_orderkey"))
          .filter(col("l_quantity") === 50)
          .select((col("l_suppkey") * 2 + 1).cast("long").as("id_a"),
            (col("o_custkey") * 2).cast("long").as("id_b"))
          .distinct())
      val seeds = edges.filter(expr("(id_a - 1) div 2 % 25 = 0"))
        .select(col("id_a").as("v")).distinct()
      graft.operators.Graph.bfsDepth(edges, seeds, maxIter = 6)
    }),
    // near-dup cluster-size histogram: the dedup tier's yield report.
    // Banded prune-then-verify pairs (see q_source_overlap) — the
    // exact recursive-component SQL stays the oracle.
    "q_dedup_cluster_sizes" -> ((s, dir) =>
      Dedup.componentsAuto(
        Dedup.minhashVerifiedPairs(docsSplit(s, dir), "doc_id", "text",
          shingleWidth = 3, numHashes = 128, bands = 32,
          candThreshold = 0.35, threshold = 0.5)
          .select(col("id_a"), col("id_b")))
        .groupBy(col("component")).agg(count(lit(1)).as("__cs"))
        .groupBy(col("__cs").as("csize"))
        .agg(count(lit(1)).as("n_clusters"))),
    // A/B lift report: per-variant conversion rates (>=14 purchases)
    // and lift vs control in ppm; control rate attaches via a window
    // over the two-row variant frame
    "q_ab_lift" -> ((s, dir) =>
      graft.operators.Analytics.abLift(
        events(s, dir)
          .groupBy(col("user_id"), (col("user_id") % 2).as("variant"))
          .agg(count(when(col("event_type") === "purchase", 1)).as("__np"))
          .select(col("variant"), (col("__np") >= 14).as("__conv")),
        variantCol = "variant", convCol = "__conv")),
    // readability profile: words/sentence and chars/word ratios in
    // exact ppm — the Flesch-style signals without the float formula
    "q_readability" -> ((s, dir) =>
      graft.operators.Analytics.readability(t(s, dir, "documents"),
        idCol = "doc_id", textCol = "text")),
    // top daily event journeys: ordered first-5 type sequences per
    // (user, day), counted corpus-wide, >= 5 occurrences
    "q_daily_paths" -> ((s, dir) =>
      graft.operators.Temporal.topPaths(events(s, dir),
        keyCol = "user_id", tsCol = "ts", tieCol = "event_id",
        typeCol = "event_type", stepUs = 86400000000L, maxLen = 5,
        minCount = 5L)),
    // t-closeness release gate: total-variation distance (exact ppm)
    // between each nation's mktsegment distribution and the corpus
    "q_t_closeness" -> ((s, dir) =>
      graft.operators.Privacy.tClosenessDistances(t(s, dir, "customer"),
        quasiCols = Seq("c_nationkey"), sensitiveCol = "c_mktsegment")),
    // Spearman rank correlation per segment between account balance
    // and lifetime order cents — exact integer ppm, deterministic
    // (value, key) rank ties
    "q_spearman" -> ((s, dir) => {
      val m = t(s, dir, "customer")
        .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"))
        .withColumn("__cc", round(col("o_totalprice") * 100).cast("long"))
        .groupBy(col("c_custkey"), col("c_mktsegment").as("seg"),
          col("c_acctbal"))
        .agg(sum(col("__cc")).as("cents"))
      graft.operators.Stats.spearmanPpm(m, groupCol = "seg",
        xCol = "c_acctbal", yCol = "cents", keyCol = "c_custkey")
    }),
    // sample ACF of the daily event count at lags 1..7 — weekly
    // rhythm detection over the same bounded daily frame as
    // periodDelta; sufficient stats exact BIGINT, one IEEE step out
    "q_autocorrelation" -> ((s, dir) =>
      graft.operators.Analytics.autocorrelation(
        t(s, dir, "events"), tsCol = "ts", maxLag = 7)),
    // per-order-priority OLS trend of daily revenue (dollars/day in
    // ppm) — dollars, not cents, keeps n·Σxy BIGINT-safe at 100 TB
    "q_regr_trend" -> ((s, dir) =>
      graft.operators.Analytics.trendSlopes(
        t(s, dir, "orders")
          .select(col("o_orderpriority"),
            col("o_orderdate").cast("date").as("day"),
            expr("CAST(round(o_totalprice * 100) AS BIGINT) div 100")
              .as("dollars")),
        groupCol = "o_orderpriority", dayCol = "day", valCol = "dollars")),
    // pairwise cosine between per-label embedding centroids — the
    // corpus-mix geometry report (which label clusters sit close)
    "q_label_centroid_sim" -> ((s, dir) =>
      graft.operators.Similarity.labelCentroidCosine(
        t(s, dir, "embeddings"), labelCol = "label", vecCol = "embedding")),
    // embedding-matrix health: per-DIMENSION stats (dead or collapsed
    // dimensions show scatter 0) — micro-scaled means, milli-scaled
    // exact-integer scatter n*Σq² - (Σq)² (BIGINT-safe to ~1e13 rows)
    "q_embed_dims" -> ((s, dir) =>
      t(s, dir, "embeddings")
        .select(posexplode(transform(col("embedding"),
          x => floor(x.cast("double") * 1e6 + 0.5).cast("long")))
          .as(Seq("pos", "qv")))
        .groupBy(col("pos"))
        .agg(count(lit(1)).as("n"),
          sum(col("qv")).as("__s"),
          sum(expr("(qv div 1000) * (qv div 1000)")).as("__s2m"),
          sum(expr("qv div 1000")).as("__sm"),
          min(col("qv")).as("min_micro"),
          max(col("qv")).as("max_micro"))
        .select(col("pos").cast("long").as("pos"), col("n"),
          expr("(__s + 1000000 * n) div n - 1000000").as("mean_micro"),
          expr("n * __s2m - __sm * __sm").as("scatter_milli2"),
          col("min_micro"), col("max_micro"))),
    // label-space health check: nearest-centroid confusion matrix over
    // the embedding corpus (L2 to integer centroids, resubstitution)
    "q_centroid_confusion" -> ((s, dir) =>
      graft.operators.Similarity.nearestCentroidConfusion(
        t(s, dir, "embeddings"), "vec_id", "label", "embedding")),
    // reliability curve of the same classifier: equal-count confidence
    // deciles (distributed rank, no global window) with per-bin accuracy
    "q_centroid_calibration" -> ((s, dir) =>
      graft.operators.Similarity.centroidCalibration(
        t(s, dir, "embeddings"), "vec_id", "label", "embedding",
        bins = 10)),
    // hashing-trick vectorizer: vocabulary-free signed token counts in
    // a fixed 64-bucket space (sparse form; cancellations keep 0 rows)
    "q_feature_hash" -> ((s, dir) =>
      graft.operators.Corpus.featureHash(
        t(s, dir, "documents"), "doc_id", "text", dim = 64)),
    // right-to-be-forgotten audit: per-table totals + rows a purge of
    // the requested subject keys would remove
    "q_forget_report" -> ((s, dir) => {
      val keys = t(s, dir, "customer")
        .filter(col("c_custkey") % 97 === 0).select(col("c_custkey"))
      graft.operators.Privacy.forgetReport(
        Seq(("customer", t(s, dir, "customer"), "c_custkey"),
          ("orders", t(s, dir, "orders"), "o_custkey")),
        keys, "c_custkey")
    }),
    // trailing-7-day distinct actives (WAU series) — exact sliding
    // distinct via support-explode, no range join
    "q_rolling_wau" -> ((s, dir) =>
      graft.operators.Temporal.rollingDistinct(
        events(s, dir).withColumn("day", expr("ts div 86400000000")),
        dayCol = "day", keyCol = "user_id", windowDays = 7)),
    // day-over-day trending: per-day event-type ranks joined to the
    // previous day's (positive delta = rising)
    "q_trending" -> ((s, dir) =>
      graft.operators.Analytics.trendingRanks(
        events(s, dir).withColumn("day", expr("ts div 86400000000")),
        dayCol = "day", catCol = "event_type")),
    // discrete life-table: at-risk / churned / hazard ppm per observed
    // lifetime (frame bounded by the corpus day span)
    "q_survival_hazard" -> ((s, dir) =>
      graft.operators.Temporal.survivalHazard(
        events(s, dir).withColumn("day", expr("ts div 86400000000")),
        keyCol = "user_id", dayCol = "day")),
    // per-user cadence profile: gap count + truncating mean/min/max
    // inter-event gap in whole seconds
    "q_interarrival" -> ((s, dir) =>
      graft.operators.Temporal.interArrival(events(s, dir),
        keyCol = "user_id", tsCol = "ts", tieCol = "event_id")),
    // second-order Markov reachability: P(state at t+2 | state at t)
    // in ppm — same one-shuffle shape as q_transitions at lead(2)
    "q_markov_2step" -> ((s, dir) =>
      graft.operators.Temporal.transitions(events(s, dir), "user_id",
        "ts", "event_type", tieCol = "event_id", step = 2)),
    // feature relevance: Gini split gain of source against lang — one
    // domain-sized count, exact-integer impurities
    "q_gini_gain" -> ((s, dir) =>
      graft.operators.Analytics.giniGain(
        t(s, dir, "documents"), featureCol = "source", labelCol = "lang")),
    // per-doc n-gram novelty: share of shingles first seen HERE — the
    // marginal-contribution curation signal (near-dups of earlier docs
    // score ~0)
    "q_novelty" -> ((s, dir) =>
      Dedup.noveltyReport(docsSplit(s, dir), "doc_id", "text")),
    // Zipf truncation curve: occurrence share covered by the top-k
    // vocabulary types at k = 5/10/20
    "q_vocab_coverage" -> ((s, dir) =>
      graft.operators.Corpus.vocabCoverage(
        t(s, dir, "documents"), "text", cutoffs = Seq(5, 10, 20))),
    // equi-depth 16-bin histogram of event values on the distributed
    // exact-ntile path (no global sort window)
    "q_equidepth_bins" -> ((s, dir) =>
      graft.operators.Analytics.ntileDistributed(
          t(s, dir, "events").select(col("event_id"), col("value")),
          k = 16, valCol = "value", tieCols = Seq("event_id"),
          outCol = "bucket")
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"), min(col("value")).as("lo"),
          max(col("value")).as("hi"))
        .orderBy(col("bucket"))),
    // RAKE keyphrase extraction: stopword-free runs scored by corpus
    // degree/freq in integer ppm; top-30 phrases seen >= 3 times
    "q_rake_keyphrases" -> ((s, dir) =>
      graft.operators.Corpus.rakeKeyphrases(t(s, dir, "documents"),
        idCol = "doc_id", textCol = "text",
        stopwords = graft.functions.TextKernels.enStopwords,
        minCount = 3L, k = 30)),
    // period-over-period revenue deltas in ppm (lag over the
    // aggregated daily frame, bounded by distinct days)
    "q_period_over_period" -> ((s, dir) =>
      graft.operators.Analytics.periodDelta(
        t(s, dir, "orders")
          .groupBy(col("o_orderdate").cast("date").as("day"))
          .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("cents")),
        orderCol = "day", valCol = "cents")),
    // cohort LTV: cumulative cents per weekly signup cohort over
    // period offsets — retention's revenue companion
    "q_cohort_ltv" -> ((s, dir) =>
      graft.operators.Analytics.cohortLtv(
        events(s, dir).select(col("user_id"),
          expr("ts div 604800000000").as("__p"),
          round(col("value") * 100).cast("long").as("__c")),
        userCol = "user_id", periodCol = "__p", centsCol = "__c")),
    // directed shingle containment (Broder): catches subset copies
    // jaccard structurally misses; either direction >= 0.8 surfaces
    "q_dedup_containment" -> ((s, dir) =>
      Dedup.containmentPairs(docsSplit(s, dir), "doc_id", "text",
        n = 3, thresholdPpm = 800000L)),
    // day-of-week seasonality profile per event type (dow 0 = Monday,
    // pure epoch arithmetic — no engine calendar conventions); share
    // window runs over the aggregated <=7-row-per-type frame
    "q_seasonality" -> ((s, dir) =>
      events(s, dir)
        .select(col("event_type"),
          expr("(ts div 86400000000 + 3) % 7").as("dow"))
        .groupBy(col("event_type"), col("dow"))
        .agg(count(lit(1)).as("n"))
        .withColumn("share_ppm", expr(
          "n * 1000000 div (sum(n) OVER (PARTITION BY event_type))"))),
    // RFM segmentation, quintiles WITHIN mktsegment (no global
    // single-partition sort); recency anchored on the corpus max date
    "q_rfm" -> ((s, dir) =>
      graft.operators.Stats.rfmScores(
        t(s, dir, "orders").select(col("o_custkey"),
          col("o_orderdate").cast("date").as("d"),
          round(col("o_totalprice") * 100).cast("long").as("c")),
        keyCol = "o_custkey", dateCol = "d", centsCol = "c",
        dims = t(s, dir, "customer").select(col("c_custkey").as("o_custkey"),
          col("c_mktsegment").as("seg")),
        segCol = "seg"))
  )

  /** Calendar dimension over the fact table's own date span — shared
    * by q_date_dim and the q_star_join rollup. */
  private def dateDim(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .agg(min(col("o_orderdate").cast("date")).as("lo"),
        max(col("o_orderdate").cast("date")).as("hi"))
      .select(explode(sequence(col("lo"), col("hi"))).as("d"))
      .select(col("d"),
        year(col("d")).cast("long").as("yr"),
        month(col("d")).cast("long").as("mo"),
        dayofmonth(col("d")).cast("long").as("dom"),
        (expr("weekday(d)") + 1).cast("long").as("isodow"),
        quarter(col("d")).cast("long").as("qtr"),
        weekofyear(col("d")).cast("long").as("iso_week"),
        // ISO week-numbering year = calendar year of the week's
        // Thursday (ISO 8601): week 1 spanning late December belongs
        // to the NEXT year, week 52/53 spanning early January to the
        // PREVIOUS. Grouping by (yr, iso_week) instead would split one
        // ISO week into two buckets at every year boundary.
        year(date_add(col("d"), lit(4) - (expr("weekday(d)") + 1)))
          .cast("long").as("iso_yr"),
        (expr("weekday(d)") >= 5).as("is_weekend"),
        (col("d") === last_day(col("d"))).as("is_month_end"))

  /** Shared input of the HLL sketch rows: one value per (user, day,
    * type) — denser than plain user ids, so the register states differ
    * per event type and exercise the estimator's normal range. */
  private def hllUserDays(s: SparkSession, dir: String): DataFrame =
    events(s, dir).select(col("event_type"), col("user_id"),
      (col("user_id") * 100000 + expr("ts div 86400000000")).as("ud"))

  /** Embeddings table augmented with 25 planted near-copies (coord 0
    * nudged +0.05f => cos ~0.9988 vs a 0.51 background max; the float32
    * nudge is bit-identical in Spark and DuckDB). Shared input of the
    * LSH-pairs / corpus-dedup / semantic-dedup queries and their
    * all-pairs SQL oracles. */
  /** The ER tier's shared frame: customer with the scale-safe NAME
    * PREFIX block key (bands of ~100 adjacent keys — block cardinality
    * grows with corpus size) and integer balance cents. */
  private def linkageCustomer(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .withColumn("bal_cents", floor(col("c_acctbal") * 100).cast("long"))
      .withColumn("name_blk", expr("substr(c_name, 1, length(c_name) - 2)"))

  /** The ER tier's shared comparator set with its fixed ppm weights. */
  private lazy val linkageRules: Seq[graft.operators.Linkage.FieldRule] = {
    import graft.operators.Linkage
    Seq(
      Linkage.eq("c_nationkey", 370000L, 160000L),
      Linkage.eq("c_mktsegment", 280000L, 120000L),
      Linkage.FieldRule("bal_cents",
        (a, b) => abs(a - b) <= lit(10000L), 350000L, 150000L))
  }

  private def plantedEmbeddings(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val planted = emb.filter(col("vec_id") < 25)
      .select((col("vec_id") + 100000).as("vec_id"),
        concat(
          array(element_at(col("embedding"), 1) + lit(0.05f)),
          slice(col("embedding"), 2, 100000)).as("embedding"))
    emb.unionByName(planted)
  }

  /** Planted ANN queries: the first 5 corpus vectors, coord 0 nudged by
    * +0.02f (cos ~0.9998 with the source — the near-copy retrieval
    * regime), ids offset so no self-match fires. Shared by
    * q_ann_lsh / q_ann_ivf and their brute-force oracles. */
  private def annQueries(emb: DataFrame): DataFrame =
    emb.filter(col("vec_id") < 5)
      .select((col("vec_id") + 200000).as("vec_id"),
        concat(
          array(element_at(col("embedding"), 1) + lit(0.02f)),
          slice(col("embedding"), 2, 100000)).as("embedding"))

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = Oracles.all

  /** Supplier–customer community graph shared by the LPA/Louvain/
    * modularity queries: distinct (odd supplier id, even customer id)
    * pairs from the quantity-50/line-7 lineitem cut. LAZY — callers
    * with more than one consumer wrap it in [[graft.operators.LineageCut.cut]]. */
  private def lpaEdges(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val o = t(s, dir, "orders")
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .filter(col("l_quantity") === 50 && col("l_linenumber") === 7)
      .select((col("l_suppkey") * 2 + 1).cast("long").as("id_a"),
        (col("o_custkey") * 2).cast("long").as("id_b"))
      .distinct()
  }

  /** Part co-purchase graph shared by the triangle/degree queries:
    * distinct part pairs sharing an order (1-in-5 order subsample). */
  private def coPartEdges(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem").filter(col("l_orderkey") % 5 === 0)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("p"))
    li.select(col("ok"), col("p").as("id_a"))
      .join(li.select(col("ok"), col("p").as("id_b")), Seq("ok"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
  }
}
