package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Spark 4 removed the public `new Column(expr)` constructor; the
  * supported conversion lives in `private[sql]` ExpressionUtils. This
  * bridge (in the org.apache.spark.sql package on purpose) is the single
  * place the library crosses that boundary.
  */
/** Strict input-type declaration for graft expressions. Spark 4 made
  * `AbstractDataType` private[sql], so a library expression can't spell
  * the `inputTypes` signature of ExpectsInputTypes in its own package;
  * this trait (inside the sql package on purpose) adapts a plain
  * `Seq[DataType]` — DataType is public — to it. Gives SQL-registered
  * functions real analysis-time type checking (`fake_email(42)` fails
  * with a clear data-type mismatch instead of a runtime ClassCastException).
  */
trait DeclaredInputTypes
    extends org.apache.spark.sql.catalyst.expressions.ExpectsInputTypes {
  /** Concrete expected type per child, in order. */
  def declaredInputTypes: Seq[org.apache.spark.sql.types.DataType]
  override def inputTypes: Seq[org.apache.spark.sql.types.AbstractDataType] =
    declaredInputTypes
}

object Bridge extends org.apache.spark.internal.Logging {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Convert a Column's node tree into a real catalyst Expression:
    * Column-DSL function calls become catalyst UnresolvedFunction
    * nodes the analyzer then resolves (lambdas included). Unlike
    * [[expression]], which only unwraps Columns that directly wrap an
    * Expression and otherwise leaves an opaque ColumnNodeExpression
    * the executor cannot codegen — the SQL-surface sketch functions
    * hit exactly that. */
  def toExpression(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(c.node)

  /** DataFrame from a logical plan (custom operators' entry point). */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Prefix comparator + computer for an external row sort, derived from
    * the leading sort column (the same machinery SortExec uses via
    * `private[sql]` SortPrefixUtils). A real prefix lets the sorter
    * resolve most comparisons on the cached 8-byte prefix instead of a
    * full row ordering call. Called executor-side, once per partition.
    */
  def rowPrefix(order: org.apache.spark.sql.catalyst.expressions.SortOrder,
                output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute])
      : (org.apache.spark.util.collection.unsafe.sort.PrefixComparator,
         org.apache.spark.sql.execution.UnsafeExternalRowSorter.PrefixComputer) = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{BindReferences, SortPrefix, UnsafeProjection}
    import org.apache.spark.sql.execution.{SortPrefixUtils, UnsafeExternalRowSorter}
    val bound = BindReferences.bindReference(order, output)
    val cmp = SortPrefixUtils.getPrefixComparator(bound)
    val proj = UnsafeProjection.create(Seq(SortPrefix(bound)))
    val computer = new UnsafeExternalRowSorter.PrefixComputer {
      private val result = new UnsafeExternalRowSorter.PrefixComputer.Prefix
      override def computePrefix(row: InternalRow)
          : UnsafeExternalRowSorter.PrefixComputer.Prefix = {
        val p = proj.apply(row)
        result.isNull = p.isNullAt(0)
        result.value = if (result.isNull) 0L else p.getLong(0)
        result
      }
    }
    (cmp, computer)
  }

  /** A Parquet read whose schema comes from ONE driver-side footer read:
    * the footer of the first data file, converted exactly as Spark's
    * schema inference converts it, then `spark.read.schema(s).parquet`.
    * A plain `spark.read.parquet(paths)` infers the schema through
    * `SchemaMergeUtils.mergeSchemasInParallel` — a whole Spark job,
    * outside any SQL execution, even for one file — although with
    * `mergeSchema=false` (the default) that job also reads a single
    * footer and lets it stand for the whole set. Same schema, no job.
    *
    * The first data file is found the way Spark's inference orders
    * leaf files (by full path): the first path given (glob-expanded,
    * as the read itself expands it);
    * inside a directory, the first visible entry in path order,
    * descending into subdirectories (a partitioned layout). Hidden names
    * (`_*` without `=`, `.*`, `*._COPYING_`) are skipped by Spark's own
    * listing predicate. Parquet summary files (`_metadata`,
    * `_common_metadata`; Spark does not write them by default) are not
    * consulted. For a file list, the FIRST path decides, so callers pass
    * lists sorted by path (`DmsFiles.list` does) — the file Spark's
    * inference picks. No path or no data file fails naming the paths;
    * there is no fallback to inference. */
  def readParquet(spark: org.apache.spark.sql.SparkSession, paths: String*)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.hadoop.fs.{FileStatus, Path}
    import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
    import org.apache.parquet.hadoop.Footer
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
    import org.apache.spark.util.HadoopFSUtils
    require(paths.nonEmpty, "readParquet: no path given")
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val hadoopConf = session.sessionState.newHadoopConf()
    val root = new Path(paths.head)
    val fs = root.getFileSystem(hadoopConf)
    def visible(s: FileStatus): Boolean = {
      val n = s.getPath.getName
      !HadoopFSUtils.shouldFilterOutPathName(n) &&
        n != "_metadata" && n != "_common_metadata"
    }
    // a directory sorts as "<path>/", i.e. where its leaves sort
    def firstFile(entries: Seq[FileStatus]): Option[FileStatus] =
      entries.sortBy(s => s.getPath.toString + (if (s.isDirectory) "/" else ""))
        .iterator.flatMap { s =>
          if (s.isDirectory) firstFile(fs.listStatus(s.getPath).toSeq.filter(visible))
          else Some(s)
        }.nextOption()
    val file = firstFile(Option(fs.globStatus(root)).toSeq.flatten).getOrElse(
      throw new java.io.FileNotFoundException(
        s"no Parquet data file to read the schema from: ${paths.mkString(", ")}"))
    val footer = ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(file, hadoopConf), SKIP_ROW_GROUPS)
    // the converter ParquetFileFormat.mergeSchemasInParallel builds (the
    // SQLConf constructor also reads flags inference leaves at default)
    val conf = session.sessionState.conf
    val converter = new ParquetToSparkSchemaConverter(
      assumeBinaryIsString = conf.isParquetBinaryAsString,
      assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
      inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
      nanosAsLong = conf.legacyParquetNanosAsLong,
      respectUnknownTypeAnnotation = conf.parquetReaderRespectUnknownTypeAnnotation)
    val schema = ParquetFileFormat.readSchemaFromFooter(
      new Footer(file.getPath, footer), converter)
    spark.read.schema(schema).parquet(paths: _*)
  }

  /** The files under the frame's Parquet scans, from the listings their
    * file indexes already hold (no file-system call): for a frame from
    * [[readParquet]], the files that read listed. */
  def scannedFiles(df: org.apache.spark.sql.DataFrame): Seq[org.apache.hadoop.fs.FileStatus] = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation, PartitioningAwareFileIndex}
    import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
    df.queryExecution.analyzed.collect {
      case LogicalRelation(r: HadoopFsRelation, _, _, _, _)
          if r.fileFormat.isInstanceOf[ParquetFileFormat] => r.location
    }.flatMap {
      case index: PartitioningAwareFileIndex => index.allFiles()
      case _ => Nil
    }
  }

  /** Drain the SparkListener event bus (private[spark]): lets tests
    * assert deterministically on listener-observed facts — e.g. "plan
    * construction launched zero jobs" — without sleeping. */
  def flushListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** Free every storage footprint a materialized Dataset holds:
    * the CacheManager entry (if it was cache()/persist()ed) and the
    * block-manager blocks behind its (local)checkpoint leaves.
    * Dataset.unpersist only reaches the former; a localCheckpoint's
    * blocks live on a LogicalRDD whose RDD is reachable only through
    * `private[sql]` execution internals — hence this bridge. After the
    * call the Dataset must not be re-executed: a local checkpoint's
    * lineage is truncated, so its data is unrecoverable by design. */
  def releaseMaterialized(df: org.apache.spark.sql.Dataset[_]): Unit = {
    df.unpersist(blocking = false)
    df.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        val rdd = lr.rdd
        // NOT rdd.unpersist(): for a locally checkpointed RDD that
        // method WARNs (rightly, for general callers) that the data is
        // unrecoverable afterwards — but scope-exit release runs by
        // contract AFTER the terminal action, so on this path the
        // warning is pure noise, flooding every Verify/Bench log. The
        // context-level release frees the same blocks and clears the
        // persistentRdds bookkeeping without the per-RDD warning.
        rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)
      case _ => ()
    }
  }

  /** The reliable-checkpoint file behind a checkpointed Dataset (None
    * for local checkpoints and uncheckpointed plans) — the handle the
    * BSP loops' reliable mode needs to delete a superseded iteration's
    * snapshot (the PeriodicCheckpointer discipline). Reachable only
    * through the same `private[sql]` LogicalRDD leaf as
    * [[releaseMaterialized]]. */
  def checkpointFileOf(df: org.apache.spark.sql.Dataset[_]): Option[String] = {
    var found: Option[String] = None
    df.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD if found.isEmpty =>
        found = lr.rdd.getCheckpointFile
      case _ => ()
    }
    found
  }

  /** Eager localCheckpoint that KEEPS the executed plan's partitioning
    * and ordering. `Dataset.localCheckpoint` records
    * `executedPlan.outputPartitioning` on the LogicalRDD it returns —
    * but under AQE the executed plan is an AdaptiveSparkPlanExec, a
    * leaf node whose outputPartitioning is UnknownPartitioning, so
    * every checkpoint in an AQE session silently forgets how its rows
    * are laid out and every downstream join/aggregation keyed the same
    * way re-shuffles from scratch (the BSP loops checkpoint per
    * iteration, so they pay this once per round). This wrapper runs the
    * normal eager localCheckpoint, then re-reads the partitioning /
    * ordering from the adaptive plan's FINAL physical plan — the facts
    * Spark itself would have used had the plan continued without the
    * checkpoint — and rewraps the LogicalRDD with them. Declared
    * metadata only ever comes from the executed plan that produced the
    * checkpointed rows, so it is true of the RDD by construction.
    * Expression ids are shared between the logical output and the
    * physical partitioning (physical planning preserves them), so the
    * rewritten LogicalRDD's partitioning resolves against its own
    * output; when it does not (defensive), the plain checkpoint is
    * returned unchanged.
    *
    * SCALE GATE (`minPartitions`): the layout is kept only when it
    * carries at least that many partitions. Declaring a narrower
    * layout is TRUE but HARMFUL — every downstream same-key stage then
    * elides its exchange and runs at the checkpoint's width, and under
    * local AQE partition coalescing that width is 1–4 tasks (measured:
    * the ungated form serialized every BSP round's aggregation —
    * q_label_prop +110 %, q_louvain +133 % at sf0.1). Callers pass the
    * session's defaultParallelism: a production-width layout (shuffle
    * partitions ≥ cores) keeps its exchange elision, a coalesced
    * local layout falls back to the plain checkpoint — the same
    * don't-starve-the-box rule as the starved-scan repair. */
  def localCheckpointKeepingLayout(df: org.apache.spark.sql.DataFrame,
      minPartitions: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, PartitioningCollection, UnknownPartitioning}
    import org.apache.spark.sql.execution.LogicalRDD
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val ck = df.localCheckpoint(eager = true)
    val finalPlan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p                        => p
    }
    def firstLeaf(p: Partitioning): Partitioning = p match {
      case pc: PartitioningCollection => firstLeaf(pc.partitionings.head)
      case other                      => other
    }
    val part = firstLeaf(finalPlan.outputPartitioning)
    ck.queryExecution.analyzed match {
      case lr: LogicalRDD if !part.isInstanceOf[UnknownPartitioning] &&
          part.numPartitions >= minPartitions =>
        val outIds = org.apache.spark.sql.catalyst.expressions
          .AttributeSet(lr.output)
        // takeWhile, not filter: outputOrdering is positional — rows are
        // sorted by (k1, k2, ...) lexicographically, so a surviving k2
        // WITHOUT its k1 would falsely declare "sorted by k2" and let a
        // downstream SortExec elide a sort the rows do not satisfy. Only
        // a true PREFIX of the executed ordering may be kept.
        val ordering = finalPlan.outputOrdering
          .takeWhile(_.references.subsetOf(outIds))
        val partOk = part match {
          case e: org.apache.spark.sql.catalyst.expressions.Expression =>
            e.references.subsetOf(outIds)
          case _ => true
        }
        if (!partOk) ck
        else {
          // the plain checkpoint's LogicalRDD (built by Spark's own
          // fromDataset) already carries the origin stats/constraints
          // the optimizer needs for broadcast decisions; they sit in
          // the private curried parameter list, so the partitioning-
          // corrected twin reads them reflectively rather than dropping
          // them (a stats-less LogicalRDD reports defaultSizeInBytes
          // and would never auto-broadcast again)
          def priv[T](name: String): T = {
            val f = classOf[LogicalRDD].getDeclaredField(name)
            f.setAccessible(true)
            f.get(lr).asInstanceOf[T]
          }
          // the field names match Spark 4.1.2; on any future rename the
          // rewrap must DEGRADE to the plain checkpoint (correct, just
          // without the layout), never turn every lineage cut into a
          // NoSuchFieldException
          try {
            ofRows(df.sparkSession, new LogicalRDD(lr.output, lr.rdd, part,
              ordering, lr.isStreaming,
              priv[Option[org.apache.spark.sql.connector.read.streaming.SparkDataStream]]("stream"))(
              priv[org.apache.spark.sql.classic.SparkSession]("session"),
              priv[Option[org.apache.spark.sql.catalyst.plans.logical.Statistics]]("originStats"),
              priv[Option[org.apache.spark.sql.catalyst.expressions.ExpressionSet]]("originConstraints")))
          } catch {
            case scala.util.control.NonFatal(e) =>
              if (layoutFallbackCounter.getAndIncrement() == 0)
                logWarning(s"localCheckpointKeepingLayout cannot rewrap the " +
                  s"checkpoint ($e); lineage cuts fall back to the plain " +
                  "checkpoint without its layout (logged once per JVM, " +
                  "counted in Bridge.layoutFallbacks)")
              ck
          }
        }
      case _ => ck
    }
  }

  private val layoutFallbackCounter = new java.util.concurrent.atomic.AtomicLong

  /** How many lineage cuts in this JVM fell back to the plain checkpoint
    * because the layout-keeping rewrap threw. */
  def layoutFallbacks: Long = layoutFallbackCounter.get

  /** Whether the session's CacheManager holds any cached plan — the
    * lifecycle assertion tests need (CacheManager is private[sql] and
    * exposes no public count). */
  def cacheIsEmpty(spark: org.apache.spark.sql.SparkSession): Boolean =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.isEmpty
}
