package graft.pipeline

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.column.statistics.Statistics
import org.apache.parquet.format.Util
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ColumnChunkMetaData
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graftbridge.Bridge

/** Which columns of a table's Parquet input hold (nearly) one distinct
  * value per row, as the input's own writer recorded it. Read from the
  * first row group of the largest Parquet file the frame scans: its
  * footer, plus the page header of each asked column's dictionary page.
  *
  * A column counts as distinct-valued when
  *  - its writer dictionary-encoded other columns of the row group but
  *    stored this one (wholly or after falling back) without a
  *    dictionary: it found no use for one here; or
  *  - its dictionary holds at least [[MinDistinctShare]] as many entries
  *    as the chunk has non-null values.
  * Anything else (no Parquet scan, a writer that used no dictionary at
  * all, no encoding statistics, an all-null chunk, a file this cannot
  * read, such as one with encrypted columns) does not count: with no
  * evidence, the column keeps Parquet's default.
  */
private[graft] object DistinctValued {

  /** From this share of distinct values up, a dictionary's entries alone
    * hold at least 4/5 of the bytes a PLAIN page holds, before its index
    * bytes are added. On `pii_wide`'s `emails` column (90 % distinct),
    * writing it PLAIN gave a file 1 % smaller than the default writer's
    * dictionary-then-PLAIN encoding. */
  val MinDistinctShare = 0.8

  def apply(df: DataFrame, columns: Seq[String]): Set[String] =
    if (columns.isEmpty) Set.empty
    else Bridge.scannedFiles(df).maxByOption(_.getLen).fold(Set.empty[String]) { file =>
      try read(df, file, columns) catch { case NonFatal(_) => Set.empty }
    }

  private def read(df: DataFrame, file: FileStatus, columns: Seq[String]): Set[String] = {
    val input = HadoopInputFile.fromStatus(file, df.sparkSession.sparkContext.hadoopConfiguration)
    val reader = ParquetFileReader.open(input)
    val stream = input.newStream()
    try {
      reader.getFooter.getBlocks.asScala.headOption.fold(Set.empty[String]) { rowGroup =>
        val chunks = rowGroup.getColumns.asScala.toSeq
        val usesDictionaries = chunks.exists(c =>
          Option(c.getEncodingStats).exists(_.hasDictionaryEncodedPages))
        val byName = chunks.filter(_.getPath.size == 1)
          .map(c => c.getPath.toArray.head -> c).toMap
        def dictionaryEntries(chunk: ColumnChunkMetaData): Long = {
          stream.seek(chunk.getStartingPos)
          val header = Util.readPageHeader(stream)
          if (header.isSetDictionary_page_header)
            header.getDictionary_page_header.getNum_values.toLong
          else 0L
        }
        columns.filter(c => byName.get(c).exists { chunk =>
          Option(chunk.getEncodingStats).exists { stats =>
            if (stats.hasNonDictionaryEncodedPages) usesDictionaries
            else {
              val values = nonNullValues(chunk)
              stats.hasDictionaryEncodedPages && values > 0 &&
                dictionaryEntries(chunk) >= MinDistinctShare * values
            }
          }
        }).toSet
      }
    } finally { stream.close(); reader.close() }
  }

  private def nonNullValues(chunk: ColumnChunkMetaData): Long =
    chunk.getValueCount - Option[Statistics[_]](chunk.getStatistics)
      .filter(_.isNumNullsSet).fold(0L)(_.getNumNulls)
}
