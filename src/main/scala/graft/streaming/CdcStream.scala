package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.StructType

/** Streaming face of the CDC pipeline (SURVEY.md §7.6 extension): the
  * reference processes DMS files batch-at-a-time; the same semantics as
  * a Structured Streaming job make the engine incremental — new CDC
  * files appearing under a prefix are picked up, deduped per key, and
  * merged continuously.
  *
  * Scale notes: state is one row per PK (the latest version) in the
  * state store — bounded by entity count, not event count. The windowed
  * aggregate uses a watermark so state for closed windows is dropped;
  * without it a 100 TB stream would accumulate unbounded state.
  */
object CdcStream {

  /** File-based micro-batch source over a directory of parquet files —
    * the DMS prefix analog. `maxFilesPerTrigger` bounds per-batch work
    * (ingestion backpressure). */
  def readFiles(spark: SparkSession, path: String, schema: StructType,
                maxFilesPerTrigger: Int = 16): DataFrame =
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(path)

  /** Continuously maintain a parquet SNAPSHOT from a CDC delta stream —
    * the streaming closure of the reference's batch loop: every
    * micro-batch applies [[graft.operators.CdcMerge.applyDelta]]
    * (within-batch latest-per-key, then I/U upsert + D delete) onto the
    * snapshot and swaps it in via temp dir + rename, using Hadoop
    * FileSystem throughout so the same code runs on file://, hdfs://,
    * s3a://. The snapshot must be SEEDED before the stream starts (the
    * reference's initial full load); the checkpoint then owns delta
    * progress. Failure contract: a failed delete/rename THROWS — the
    * batch fails, the checkpoint does not advance, and the replayed
    * merge converges (applyDelta is deterministic and idempotent over a
    * replayed delta). Crash recovery at batch start: if the tmp dir
    * holds a COMPLETE write (_SUCCESS marker), it is the newest
    * snapshot — it replaces the target even if a partial delete left
    * the target present. At scale the rewrite step is where a table
    * format (Iceberg/Delta MERGE) slots in; plain-parquet semantics are
    * kept for reference parity. */
  def maintainSnapshot(deltas: DataFrame, snapshotDir: String,
                       pk: Seq[String], checkpointDir: String,
                       tieBreakers: Seq[String] = Nil)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    deltas.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        import org.apache.hadoop.fs.Path
        val target = new Path(snapshotDir)
        val tmp = new Path(snapshotDir + ".tmp_swap")
        val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
        def rmrf(p: Path): Unit =
          if (fs.exists(p) && !fs.delete(p, true))
            throw new java.io.IOException(s"could not delete $p")
        def swapIn(): Unit = {
          rmrf(target)
          if (!fs.rename(tmp, target))
            throw new java.io.IOException(s"snapshot swap failed: $tmp -> $target")
        }
        // crash recovery: a COMPLETE tmp (the _SUCCESS marker Spark's
        // committer writes last) is the newest snapshot, regardless of
        // what a half-finished delete left at the target
        if (fs.exists(new Path(tmp, "_SUCCESS"))) swapIn()
        else rmrf(tmp) // incomplete write from a dead batch
        val snap = Bridge.readParquet(spark, snapshotDir)
        val merged = graft.operators.CdcMerge
          .applyDelta(snap, batch, pk, tieBreakers)
        merged.write.mode("overwrite").parquet(tmp.toString)
        swapIn()
        ()
      }

  /** Event-time windowed aggregation with a watermark (counts + value
    * sums per event_type per window). Late data beyond the watermark is
    * dropped and its state reclaimed. */
  def windowedCounts(events: DataFrame, tsCol: String, watermark: String,
                     window_ : String): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), window_), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))

  /** Event-time gap sessions on a stream — the streaming twin of
    * [[graft.operators.Temporal.sessionize]], via the native
    * session_window: the state store MERGES a key's overlapping
    * windows as events arrive (sessions can join up across
    * micro-batches), and the watermark closes sessions and reclaims
    * their state — so an unbounded stream holds state only for OPEN
    * sessions, bounded by concurrently-active keys, not history.
    * Emits (key, session_start, session_end, n_events); end = last
    * event + gap, the session_window convention. */
  def sessionizeStream(events: DataFrame, keyCol: String, tsCol: String,
                       gap: String, watermark: String): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(col(keyCol), session_window(col(tsCol), gap))
      .agg(count(lit(1)).as("n_events"))
      .select(col(keyCol),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"))

  /** Streaming exact dedup: drops rows whose `keyCols` were already seen
    * within the watermark horizon — the streaming face of Dedup.exact
    * for continuous ingestion. State is bounded by the watermark (keys
    * older than the horizon are dropped from the store), which is what
    * makes it safe on an unbounded 100 TB/day feed. */
  def dedupWithinWatermark(events: DataFrame, tsCol: String, watermark: String,
                           keyCols: Seq[String]): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keyCols.head, keyCols.tail: _*)

  /** Stream-static enrichment join: attach dimension attributes to a
    * flowing fact stream. Stateless — no watermark, no state store —
    * and the static side is planned per micro-batch (a dimension
    * update is visible to the next batch without restarting the
    * query). Broadcast by default: the standard shape for joining a
    * 100 TB/day event feed against a small dimension; pass
    * broadcastDim=false when the dimension is itself too big and the
    * join must shuffle. Left join so an unmatched fact row flows
    * through with null attributes rather than silently dropping —
    * batch/stream parity pinned in StreamingValidatorSpec. */
  def enrich(stream: DataFrame, dim: DataFrame, keys: Seq[String],
             broadcastDim: Boolean = true): DataFrame =
    stream.join(if (broadcastDim) broadcast(dim) else dim,
      keys, "left")

  /** Watermarked stream-stream INTERVAL join: pair rows of two event
    * streams on `keys` where the right event lands within
    * [leftTs, leftTs + maxSpan] — the attribution/funnel primitive
    * (view→purchase, send→open, request→response). Both sides carry
    * watermarks and the join predicate carries the explicit time
    * range; TOGETHER they bound the state store — each side buffers
    * only rows younger than watermark + span, so an unbounded
    * 100 TB/day pair of feeds holds hours of state, not history.
    * Inner join: an unmatched left row expires silently (use a
    * leftOuter variant when absence itself is the signal). The same
    * call runs on batch frames (EliminateEventTimeWatermark drops the
    * watermark nodes), which is what the parity spec leans on. */
  def intervalJoinStreams(left: DataFrame, right: DataFrame,
                          keys: Seq[String], leftTs: String, rightTs: String,
                          watermark: String, maxSpan: String): DataFrame = {
    require(keys.nonEmpty, "interval join needs at least one key")
    // explicit aliases, not df(col) references: when both sides derive
    // from the same parent (the batch-parity path), df(col) resolves
    // both keys to ONE attribute and the equi-condition collapses to
    // trivially-true — the standard self-join ambiguity trap
    val l = left.withWatermark(leftTs, watermark).alias("__l")
    val r = right.withWatermark(rightTs, watermark).alias("__r")
    val cond = keys.map(k => col(s"__l.$k") === col(s"__r.$k")).reduce(_ && _) &&
      col(s"__r.$rightTs") >= col(s"__l.$leftTs") &&
      col(s"__r.$rightTs") <= col(s"__l.$leftTs") + expr(s"INTERVAL $maxSpan")
    keys.foldLeft(l.join(r, cond, "inner"))(
      (df, k) => df.drop(col(s"__r.$k")))
  }

  /** Continuously-maintained latest-row-per-key via typed state
    * (KeyValueGroupedDataset.flatMapGroupsWithState): the streaming
    * equivalent of CdcMerge.latestPerKey. Emits the new latest row
    * (FULL original schema, plus `__key`/`__ts` meta columns — prefixed
    * so they can't collide with payload columns) whenever a key's
    * latest version changes; state per key is one Row. */
  def latestPerKeyStream(events: DataFrame, keyCol: String, tsCol: String)
      : DataFrame = {
    import org.apache.spark.sql.{Encoder, Encoders, Row}
    val rowEnc: Encoder[Row] = Encoders.row(
      StructType(events.schema.fields))
    val entryEnc: Encoder[(Long, Long, Row)] =
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, rowEnc)
    val stateEnc: Encoder[(Long, Row)] =
      Encoders.tuple(Encoders.scalaLong, rowEnc)

    val keyed = events.select(
        col(keyCol).cast("long").as("_1"),
        col(tsCol).cast("long").as("_2"),
        struct(events.columns.map(col).toIndexedSeq: _*).as("_3"))
      .as(entryEnc)

    keyed.groupByKey(_._1)(Encoders.scalaLong)
      .flatMapGroupsWithState[(Long, Row), (Long, Long, Row)](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (key: Long, rows: Iterator[(Long, Long, Row)],
         state: GroupState[(Long, Row)]) =>
          // deterministic within-batch winner: max (ts, row rendering)
          val incoming = rows.maxByOption(r => (r._2, r._3.toString))
          incoming match {
            case Some((_, ts, row)) =>
              val newer = !state.exists || ts > state.get._1
              if (newer) {
                state.update((ts, row))
                Iterator.single((key, ts, row))
              } else Iterator.empty
            case None => Iterator.empty
          }
      }(stateEnc, entryEnc)
      .toDF("__key", "__ts", "__row")
      .select(col("__key"), col("__ts"), col("__row.*"))
  }

  /** Streaming funnel progression — the stateful face of
    * [[graft.operators.Temporal.funnel]]: per key, advance a step
    * cursor as qualifying events arrive and emit one IMMUTABLE
    * (key, step, ts) COMPLETION fact per step reached — the
    * append-mode-safe decomposition of the batch funnel frame (a
    * batch funnel row is the pivot of its key's completions;
    * conversion rates are a plain streaming count per step
    * downstream).
    *
    * Semantics mirror the batch operator exactly under per-key
    * event-time-ordered arrival: step 1 anchors at the key's first
    * matching event, step k requires a match STRICTLY after step k-1
    * and within `windowUs` of step 1; rows older than the key's
    * cursor are dropped (the transitionsStream late-arrival
    * contract — a late event cannot retroactively splice into an
    * already-emitted progression). Restart-parity with the batch
    * operator is pinned in StreamingValidatorSpec.
    *
    * State per key is THREE scalars — (steps_done, t1, t_last) —
    * not the event history: everything the decision needs. Rows
    * matching no step are filtered before the state store, so state
    * traffic is funnel-relevant events only; the store is O(keys)
    * regardless of stream length. Step predicates pack into a
    * per-row BITMASK (≤ 63 steps), so overlapping predicates (e.g.
    * repeated event types) resolve per-step like the batch form. */
  def funnelStream(events: DataFrame, keyCol: String, tsCol: String,
                   tieCol: String, steps: Seq[Column],
                   windowUs: Long): DataFrame = {
    require(steps.size >= 2 && steps.size <= 63,
      s"funnel needs 2..63 steps, got ${steps.size}")
    require(windowUs > 0, s"window must be positive, got $windowUs")
    import org.apache.spark.sql.Encoders
    val nSteps = steps.size
    val entryEnc = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong,
      Encoders.scalaLong, Encoders.scalaLong)
    val stEnc = Encoders.tuple(Encoders.scalaInt, Encoders.scalaLong,
      Encoders.scalaLong)
    val outEnc = Encoders.tuple(Encoders.scalaLong, Encoders.scalaInt,
      Encoders.scalaLong)
    val mask = steps.zipWithIndex.map { case (p, i) =>
      when(p, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _) // bits are disjoint, so + is bitwise-or
    val keyed = events.select(
        col(keyCol).cast("long").as("_1"),
        col(tsCol).cast("long").as("_2"),
        col(tieCol).cast("long").as("_3"),
        mask.as("_4"))
      .filter(col("_4") =!= 0L)
      .as(entryEnc)
    keyed.groupByKey(_._1)(Encoders.scalaLong)
      .flatMapGroupsWithState[(Int, Long, Long), (Long, Int, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: Long, rows: Iterator[(Long, Long, Long, Long)],
         st: GroupState[(Int, Long, Long)]) =>
          val sorted = rows.toSeq.sortBy(r => (r._2, r._3))
          var (k, t1, tLast) = st.getOption.getOrElse((0, 0L, 0L))
          val out = Seq.newBuilder[(Long, Int, Long)]
          sorted.foreach { case (_, t, _, m) =>
            if (k < nSteps && ((m >> k) & 1L) == 1L &&
                (k == 0 || (t > tLast && t <= t1 + windowUs))) {
              if (k == 0) t1 = t
              tLast = t
              k += 1
              out += ((key, k, t))
            }
          }
          if (k > 0) st.update((k, t1, tLast))
          out.result().iterator
      }(stEnc, outEnc)
      .toDF("__key", "step", "step_ts")
  }

  /** Streaming transition-pair extraction — the stateful face of
    * [[graft.operators.Temporal.transitions]]: per key, remember the
    * last (ts, tie, state) seen and emit one (from_state, to_state)
    * row for every forward step, INCLUDING the step that spans a
    * micro-batch (or restart) boundary — that pair is exactly what a
    * per-batch window would lose. Within a batch rows sort by
    * (ts, tie); rows arriving OLDER than the key's state are dropped
    * (the watermark-style contract: a late event cannot retroactively
    * splice into an already-emitted sequence). State per key is one
    * (ts, tie, state) triple, so the store is O(keys) regardless of
    * stream length. Counts downstream are an ordinary streaming
    * aggregation over the emitted pairs. */
  def transitionsStream(events: DataFrame, keyCol: String, tsCol: String,
                        stateCol: String, tieCol: String): DataFrame = {
    import org.apache.spark.sql.Encoders
    val entryEnc = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong,
      Encoders.scalaLong, Encoders.STRING)
    val stEnc = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong,
      Encoders.STRING)
    val outEnc = Encoders.tuple(Encoders.STRING, Encoders.STRING)
    val keyed = events.select(
        col(keyCol).cast("long").as("_1"),
        col(tsCol).cast("long").as("_2"),
        col(tieCol).cast("long").as("_3"),
        col(stateCol).cast("string").as("_4")).as(entryEnc)
    keyed.groupByKey(_._1)(Encoders.scalaLong)
      .flatMapGroupsWithState[(Long, Long, String), (String, String)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: Long, rows: Iterator[(Long, Long, Long, String)],
         st: GroupState[(Long, Long, String)]) =>
          val sorted = rows.toSeq.sortBy(r => (r._2, r._3))
          val out = Seq.newBuilder[(String, String)]
          var prev = st.getOption // (ts, tie, state)
          sorted.foreach { case (_, ts, tie, s) =>
            prev match {
              case Some((pts, ptie, ps)) =>
                if (ts > pts || (ts == pts && tie > ptie)) {
                  out += ((ps, s))
                  prev = Some((ts, tie, s))
                } // else: late arrival older than the state — dropped
              case None => prev = Some((ts, tie, s))
            }
          }
          prev.foreach(st.update)
          out.result().iterator
      }(stEnc, outEnc)
      .toDF("from_state", "to_state")
  }

  /** Streaming first-arrival exact dedup — the always-on face of
    * [[graft.operators.Dedup.exact]]: per dedup key, the FIRST row to
    * arrive is emitted and every later duplicate is suppressed, with
    * the suppression SURVIVING checkpoint restarts (the property a
    * nightly batch dedup cannot give an always-on ingest: a duplicate
    * that spans the restart must still be dropped —
    * StreamingValidatorSpec pins exactly that). Within a micro-batch,
    * ties resolve to the minimum `idCol` so a single replay is
    * deterministic; across batches the contract is arrival order (the
    * streaming analogue of keep-min-id, which presumes a total view no
    * stream has). State per key is its emitted id — O(distinct keys),
    * independent of stream length. Output: (__key, id).
    *
    * Rows with a NULL dedup key or NULL id are FILTERED before the
    * stateful operator (a NULL key has no identity to dedup on, and
    * the non-nullable state encoder would otherwise crash the whole
    * query at runtime on the first NULL). */
  def dedupFirstSeenStream(rows: DataFrame, keyCol: String,
                           idCol: String): DataFrame = {
    import org.apache.spark.sql.Encoders
    val entryEnc = Encoders.tuple(Encoders.STRING, Encoders.scalaLong)
    val keyed = rows
      .filter(col(keyCol).isNotNull && col(idCol).isNotNull)
      .select(
        col(keyCol).cast("string").as("_1"),
        col(idCol).cast("long").as("_2")).as(entryEnc)
    keyed.groupByKey(_._1)(Encoders.STRING)
      .flatMapGroupsWithState[Long, (String, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: String, batch: Iterator[(String, Long)], st: GroupState[Long]) =>
          if (st.exists) { batch.foreach(_ => ()); Iterator.empty }
          else {
            val first = batch.map(_._2).min
            st.update(first)
            Iterator.single((key, first))
          }
      }(Encoders.scalaLong, entryEnc)
      .toDF("__key", "id")
  }

  /** Streaming gap sessionizer — the stateful face of
    * [[graft.operators.Temporal.sessionize]]: per key, the open
    * session is one (idx, start, end, lastTie, n) tuple; an event more
    * than `gap` after the session's end CLOSES it (one emitted row,
    * identical to the batch operator's (key, session_idx, n_events,
    * session_start, session_end) grouping — session_idx counts gap
    * breaks from 0, exactly the batch cumsum) and opens the next.
    *
    * IDLE sessions also close: `tsCol` (µs epoch) carries an event-time
    * watermark delayed by `lateness` (default = gap), and each open
    * session arms a [[GroupStateTimeout.EventTimeTimeout]] at
    * session_end + gap — when the watermark passes it, the session is
    * EMITTED and the state collapses to a flushed-cursor marker
    * (n = 0: next idx + the late-drop cursor, still one tuple), so a
    * key that goes quiet forever still yields its final session once
    * the frontier moves past it. On a fully-replayed fixture whose
    * frontier then advances `lateness + gap` past the last event, the
    * emitted rows equal the FULL batch frame — the parity the
    * restart spec asserts. Late contract: rows older than the
    * watermark are dropped by the engine (the standard tradeoff —
    * streams whose disorder stays under `lateness` replay the batch
    * frame exactly), and rows at or older than the per-key cursor
    * drop as before; a row newer than the cursor of an
    * already-flushed session opens the NEXT session index, keeping
    * idx parity with batch. Duplicate (ts, tie) rows of the cursor
    * COUNT into the open session, matching the batch operator's
    * every-row count. Within a micro-batch rows sort by (ts, tie).
    * State per key is ONE tuple — O(keys), independent of stream
    * length. */
  def sessionizeStream(events: DataFrame, keyCol: String, tsCol: String,
                       tieCol: String, gap: Long,
                       lateness: Option[Long] = None): DataFrame = {
    require(gap > 0, s"session gap must be positive, got $gap")
    val late = lateness.getOrElse(gap)
    require(late >= 0, s"lateness must be non-negative, got $late")
    import org.apache.spark.sql.Encoders
    // the watermark attribute must reach the stateful operator's
    // child output (Spark's event-time-timeout check), so the entry
    // tuple carries the timestamp column through
    val entryEnc = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong,
      Encoders.scalaLong, Encoders.TIMESTAMP)
    // (idx, start, end, lastTie, n); n == 0 marks a FLUSHED session:
    // idx = next session's index, end/lastTie = the late-drop cursor
    val stEnc = Encoders.product[(Long, Long, Long, Long, Long)]
    val outEnc = Encoders.product[(Long, Long, Long, Long, Long)]
    val keyed = events
      .withColumn("__wm", timestamp_micros(col(tsCol).cast("long")))
      // ceiling division: a truncating late/1000 would shave up to
      // 999us off the lateness contract — rows disordered by slightly
      // less than `lateness` must never be engine-dropped
      .withWatermark("__wm", s"${(late + 999L) / 1000L} milliseconds")
      .select(
        col(keyCol).cast("long").as("_1"),
        col(tsCol).cast("long").as("_2"),
        col(tieCol).cast("long").as("_3"),
        col("__wm").as("_4")).as(entryEnc)
    keyed.groupByKey(_._1)(Encoders.scalaLong)
      .flatMapGroupsWithState[(Long, Long, Long, Long, Long),
        (Long, Long, Long, Long, Long)](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key: Long, rows: Iterator[(Long, Long, Long, java.sql.Timestamp)],
         st: GroupState[(Long, Long, Long, Long, Long)]) =>
          if (st.hasTimedOut) {
            st.getOption match {
              case Some((idx, start, end, lastTie, n)) if n > 0L =>
                st.update((idx + 1L, end, end, lastTie, 0L))
                Iterator.single((key, idx, n, start, end))
              case _ => Iterator.empty
            }
          } else {
            val sorted = rows.toSeq.sortBy(r => (r._2, r._3))
            val out = Seq.newBuilder[(Long, Long, Long, Long, Long)]
            var cur = st.getOption
            sorted.foreach { case (_, ts, tie, _) =>
              cur match {
                case Some((idx, _, end, lastTie, 0L)) =>
                  // flushed marker: cursor-only late drop, then reopen
                  if (ts > end || (ts == end && tie > lastTie))
                    cur = Some((idx, ts, ts, tie, 1L))
                case Some((idx, start, end, lastTie, n)) =>
                  if (ts > end || (ts == end && tie >= lastTie)) {
                    if (ts - end > gap) {
                      out += ((key, idx, n, start, end))
                      cur = Some((idx + 1, ts, ts, tie, 1L))
                    } else cur = Some((idx, start, ts, tie, n + 1))
                  } // else: late arrival older than the cursor — dropped
                case None => cur = Some((0L, ts, ts, tie, 1L))
              }
            }
            cur.foreach { c =>
              st.update(c)
              if (c._5 > 0L)
                // ms-granular flush clock; must stay above the current
                // watermark or Spark rejects the registration
                st.setTimeoutTimestamp(math.max((c._3 + gap) / 1000L + 1L,
                  st.getCurrentWatermarkMs() + 1L))
            }
            out.result().iterator
          }
      }(stEnc, outEnc)
      .toDF("__key", "session_idx", "n_events", "session_start",
        "session_end")
  }

  /** Streaming face of [[graft.operators.Temporal.ewmaHalfLife]]: per
    * key, the truncated α=1/2 EWMA over the last `lags+1` values,
    * emitted PER EVENT and BIT-IDENTICAL to the batch operator — the
    * ring buffer sums newest-first in the same ascending-lag order
    * with the same power-of-two divisions (exact exponent shifts), so
    * a restart-parity test can compare doubles with ==. Rows arriving
    * older than the key's newest state entry are dropped (the same
    * watermark-style contract as [[transitionsStream]]); within a
    * micro-batch rows sort by (ts, tie). State per key is `lags+1`
    * (ts, tie, value) triples — O(keys·lags), independent of stream
    * length. */
  def ewmaStream(events: DataFrame, keyCol: String, tsCol: String,
                 tieCol: String, valueCol: String,
                 lags: Int = 9): DataFrame = {
    require(lags >= 1 && lags <= 62, s"lags out of range: $lags")
    import org.apache.spark.sql.Encoders
    val entryEnc = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong,
      Encoders.scalaLong, Encoders.scalaDouble)
    val stEnc = Encoders.product[(Seq[Long], Seq[Long], Seq[Double])]
    val outEnc = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong,
      Encoders.scalaLong, Encoders.scalaDouble)
    val keyed = events.select(
        col(keyCol).cast("long").as("_1"),
        col(tsCol).cast("long").as("_2"),
        col(tieCol).cast("long").as("_3"),
        col(valueCol).cast("double").as("_4")).as(entryEnc)
    keyed.groupByKey(_._1)(Encoders.scalaLong)
      .flatMapGroupsWithState[(Seq[Long], Seq[Long], Seq[Double]),
        (Long, Long, Long, Double)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: Long, rows: Iterator[(Long, Long, Long, Double)],
         st: GroupState[(Seq[Long], Seq[Long], Seq[Double])]) =>
          val sorted = rows.toSeq.sortBy(r => (r._2, r._3))
          var (tss, ties, vs) = st.getOption
            .getOrElse((Seq.empty[Long], Seq.empty[Long], Seq.empty[Double]))
          val out = Seq.newBuilder[(Long, Long, Long, Double)]
          sorted.foreach { case (_, t, tie, v) =>
            val isNewest = tss.isEmpty || t > tss.last ||
              (t == tss.last && tie > ties.last)
            if (isNewest) {
              tss :+= t; ties :+= tie; vs :+= v
              if (vs.size > lags + 1) {
                tss = tss.tail; ties = ties.tail; vs = vs.tail
              }
              // ascending-lag order, same as the batch reduceLeft:
              // v0/1 + v1/2 + ... (absent lags contribute 0)
              var s = 0.0
              var k = 0
              while (k < vs.size) {
                s += vs(vs.size - 1 - k) / math.pow(2.0, k)
                k += 1
              }
              out += ((key, t, tie, s))
            } // else: late arrival older than the state — dropped
          }
          if (tss.nonEmpty) st.update((tss, ties, vs))
          out.result().iterator
      }(stEnc, outEnc)
      .toDF("__key", "ts", "tie", "ewma")
  }
}
