package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.Bridge

import graft.operators.CdcMerge

/** DMS-shaped file-set source (SURVEY.md §2.1): a table lives under a
  * prefix as full-load files (`LOAD*.parquet`, plain schema) plus CDC
  * delta files (any other name, carrying `Op` and
  * `_dms_ingestion_timestamp`). Mirrors the reference's three listing
  * modes (cdc_operator.rs:180-219) and reconstructs the current table
  * state with [[CdcMerge.applyDelta]].
  *
  * Listing happens driver-side through the Hadoop FileSystem API (works
  * for file://, s3a://, hdfs:// alike); the data reads are plain
  * multi-path parquet scans, so Spark parallelizes by file/row-group
  * and pushes filters down — there is no per-file loop. The LOAD set and
  * the CDC set each take their schema from one driver-side footer read
  * of their first (path-sorted) file, as with Spark's `mergeSchema=false`
  * ([[org.apache.spark.sql.graftbridge.Bridge.readParquet]]), so no
  * schema-inference job runs.
  */
object DmsFiles {

  sealed trait Mode
  /** Only `LOAD*` full-load files. */
  case object FullLoadOnly extends Mode
  /** LOAD files + CDC files whose `yyyyMMdd`-prefixed name falls in
    * [start, stop] (either bound optional).
    *
    * Intentional generalization over the reference, which REQUIRES the
    * start bound and panics without one (cdc_operator.rs:184-186): here
    * both bounds are optional, so `DateAware(None, None)` means "every
    * DATED CDC file" — which is NOT the same as [[AbsolutePath]]:
    * CDC files with no leading `yyyyMMdd` digits are excluded under any
    * DateAware window (they cannot be compared against a date), while
    * AbsolutePath includes them. Reference-parity callers should pass
    * an explicit start. */
  final case class DateAware(start: Option[String] = None,
                             stop: Option[String] = None) extends Mode
  /** Everything under the prefix, as-is. */
  case object AbsolutePath extends Mode

  final case class TableFiles(loadFiles: Seq[String], cdcFiles: Seq[String])

  def isLoadFile(name: String): Boolean = name.startsWith("LOAD")

  /** Leading digits of a CDC file name (e.g. `20240102-...parquet` =>
    * "20240102"); empty when the name carries no date. */
  /** First 8 leading digits only: a timestamped file name
    * (20240105183000-...) must compare as its DATE, or a 14-digit
    * prefix sorts lexicographically past every 8-digit bound and the
    * file silently drops out of the inclusive [start, stop] window. */
  private[sources] def datePrefix(name: String): String =
    name.takeWhile(_.isDigit).take(8)

  /** Normalize a user-supplied date bound to its digits and require the
    * full YYYYMMDD shape: "2024-01-05" => "20240105". The old
    * leading-digits parse silently truncated dashed dates to "2024",
    * which lexicographically excluded EVERY dated CDC file. */
  private[sources] def dateBound(s: String): String = {
    val digits = s.filter(_.isDigit)
    require(digits.length >= 8,
      s"date bound '$s' must contain a full YYYYMMDD date")
    // truncate to the date: a datetime bound ("2024-01-05 12:30") must
    // not carry its time digits into the 8-digit lexicographic compare
    digits.take(8)
  }

  def list(spark: SparkSession, dir: String, mode: Mode): TableFiles = {
    val path = new Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val all = fs.listStatus(path).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(_.getPath.toString)
      .sorted
    val (load, cdc) = all.partition(p => isLoadFile(new Path(p).getName))
    mode match {
      case FullLoadOnly => TableFiles(load, Nil)
      case AbsolutePath => TableFiles(load, cdc)
      case DateAware(start, stop) =>
        val lo = start.map(dateBound)
        val hi = stop.map(dateBound)
        TableFiles(load, cdc.filter { p =>
          val d = datePrefix(new Path(p).getName)
          d.nonEmpty && lo.forall(d >= _) && hi.forall(d <= _)
        })
    }
  }

  /** POINT-IN-TIME table state: like [[snapshot]] over the full file
    * trail, but replaying only CDC rows ingested at or before
    * `asOfTs` — the DMS trail is append-only, so every historical
    * state is recoverable without a backup restore. The cut is by the
    * per-row ingestion timestamp, not by file date: a file delivered
    * late but carrying old rows lands in the right state. */
  def snapshotAsOf(spark: SparkSession, dir: String, pk: Seq[String],
                   asOfTs: Long): DataFrame = {
    val files = list(spark, dir, AbsolutePath)
    require(files.loadFiles.nonEmpty, s"no LOAD files under $dir")
    val full = Bridge.readParquet(spark, files.loadFiles: _*)
    if (files.cdcFiles.isEmpty) full
    else CdcMerge.snapshotAsOf(full,
      Bridge.readParquet(spark, files.cdcFiles: _*), pk, asOfTs)
  }

  /** Current table state: union of LOAD files, schema-drift-checked,
    * with CDC deltas applied (latest op per PK wins, D deletes). */
  def snapshot(spark: SparkSession, dir: String, pk: Seq[String],
               mode: Mode = AbsolutePath,
               expectedColumns: Option[Set[String]] = None): DataFrame = {
    val files = list(spark, dir, mode)
    require(files.loadFiles.nonEmpty, s"no LOAD files under $dir")
    val full = Bridge.readParquet(spark, files.loadFiles: _*)
    // expectedColumns is the target catalog: check symmetrically (extra
    // AND missing columns abort — see CdcMerge.checkSchemaDrift)
    expectedColumns.foreach(cols =>
      CdcMerge.checkSchemaDrift(full, cols, requireAll = true))
    if (files.cdcFiles.isEmpty) full
    else {
      val delta = Bridge.readParquet(spark, files.cdcFiles: _*)
      expectedColumns.foreach(cols =>
        CdcMerge.checkSchemaDrift(delta, cols, requireAll = true))
      CdcMerge.applyDelta(full, delta, pk)
    }
  }
}
