package graft.sinks

import java.sql.{Connection, DriverManager}
import java.util.Properties

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.graftbridge.Bridge

/** Output adapters (SURVEY.md §2.9). The engine core only ever sees the
  * trait; the JDBC implementation is isolated here because the offline
  * environment has no live database — it is exercised structurally (SQL
  * generation) while the parquet sink is tested end-to-end.
  */
trait TableSink extends Serializable {
  /** Full-load write (reference: bulk insert of LOAD files). */
  def writeFull(df: DataFrame, table: String): Unit
  /** Upsert by primary key (reference: CDC-file upsert). */
  def upsert(df: DataFrame, table: String, pk: Seq[String]): Unit
}

/** Parquet directory sink — the anonymized-bucket analog.
  *
  * `tieBreakers`: extra ordering columns deciding the winner among
  * duplicate-PK rows WITHIN one upsert batch (same contract as
  * CdcMerge.latestPerKey) — without them a within-batch duplicate
  * picks a partition-order-dependent winner. */
final class ParquetSink(outDir: String,
                        tieBreakers: Seq[String] = Nil) extends TableSink {
  def writeFull(df: DataFrame, table: String): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(s"$outDir/$table.parquet")

  /** Parquet upsert = merge into the existing snapshot (read + window
    * dedup + rewrite). Atomicity comes from writing to a temp dir and
    * swapping through Hadoop FileSystem — the same code path works on
    * file://, hdfs://, s3a:// (java.io.File would silently no-op on
    * remote filesystems: the exists-probe returns false and the whole
    * snapshot gets replaced by the delta). Failed deletes/renames
    * THROW — a swap that didn't happen must not report success. At
    * real scale this is a table-format job (Iceberg/Delta MERGE);
    * plain-parquet semantics are kept here for parity. */
  def upsert(df: DataFrame, table: String, pk: Seq[String]): Unit = {
    val spark = df.sparkSession
    import org.apache.hadoop.fs.Path
    val target = new Path(s"$outDir/$table.parquet")
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val merged =
      if (fs.exists(target)) {
        val current = Bridge.readParquet(spark, target.toString)
        import org.apache.spark.sql.expressions.Window
        import org.apache.spark.sql.functions._
        val w = Window.partitionBy(pk.map(col): _*)
          .orderBy(col("__pri").desc +: tieBreakers.map(col(_).desc): _*)
        current.withColumn("__pri", lit(0))
          .unionByName(df.withColumn("__pri", lit(1)))
          .withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).drop("__pri", "__rn")
      } else df
    val tmp = new Path(s"$outDir/.tmp_$table")
    merged.write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    if (fs.exists(target) && !fs.delete(target, true))
      throw new java.io.IOException(s"could not delete $target for swap")
    if (!fs.rename(tmp, target))
      throw new java.io.IOException(s"snapshot swap failed: $tmp -> $target")
  }
}

/** JDBC (Postgres-compatible) sink. Full loads go through Spark's JDBC
  * writer (parallel, batched — `batchsize` mirrors the reference's
  * chunk_size 1000, src/main.rs:169); upserts stage into a temp table
  * and run one INSERT ... ON CONFLICT DO UPDATE. NOT exercisable in the
  * offline test env — kept deliberately thin.
  */
final class JdbcSink(url: String, props: Properties,
                     batchSize: Int = 1000) extends TableSink {
  /** Target tables pre-exist (the reference imports schemas through the
    * control plane's pg_restore before any data write) — so this is a
    * plain parallel batched Append. */
  def writeFull(df: DataFrame, table: String): Unit = {
    val p = new Properties(); p.putAll(props)
    p.setProperty("batchsize", batchSize.toString)
    df.write.mode(SaveMode.Append).jdbc(url, table, p)
  }

  /** Staged upsert: the staging table is created HERE with explicit DDL
    * (not Spark's Overwrite, whose exists-probe requires a dialect that
    * classifies the driver's missing-table error — unknowable for
    * arbitrary JDBC targets), then Append + one ON CONFLICT merge. */
  def upsert(df: DataFrame, table: String, pk: Seq[String]): Unit = {
    // per-invocation staging name: a FIXED name lets two overlapping
    // upserts (retry racing the original, parallel jobs) drop each
    // other's staged rows mid-merge
    val staging = s"${table}_staging_graft_" +
      java.util.UUID.randomUUID().toString.replace("-", "").take(12)
    val quote = org.apache.spark.sql.jdbc.JdbcDialects.get(url).quoteIdentifier _
    val conn = DriverManager.getConnection(url, props)
    try {
      conn.createStatement().execute(JdbcSink.createTableSql(staging, df, url))
      val p = new Properties(); p.putAll(props)
      p.setProperty("batchsize", batchSize.toString)
      df.write.mode(SaveMode.Append).jdbc(url, staging, p)
      conn.createStatement().execute(
        JdbcSink.upsertSql(table, staging, df.columns.toSeq, pk, quote))
    } finally {
      // best-effort cleanup even when the merge throws — a leaked
      // staging table would otherwise survive until manual drop
      try conn.createStatement().execute(s"DROP TABLE IF EXISTS $staging")
      finally conn.close()
    }
  }
}

object JdbcSink {
  /** INSERT ... SELECT ... ON CONFLICT (pk) DO UPDATE SET col = EXCLUDED.col.
    * Column identifiers (data-derived — the reserved-word surface) go
    * through `quote`; table names are caller-controlled and may be
    * schema-qualified, so they pass through as-is. */
  def upsertSql(table: String, staging: String, columns: Seq[String],
                pk: Seq[String], quote: String => String = identity): String = {
    val cols = columns.map(quote).mkString(", ")
    val nonPk = columns.filterNot(pk.contains)
    // pure link tables (pk == all columns) have nothing to update: a
    // conflicting row is already identical — DO NOTHING, not a
    // malformed empty SET list
    val action =
      if (nonPk.isEmpty) "DO NOTHING"
      else "DO UPDATE SET " + nonPk
        .map(c => s"${quote(c)} = EXCLUDED.${quote(c)}").mkString(", ")
    s"INSERT INTO $table ($cols) SELECT $cols FROM $staging " +
    s"ON CONFLICT (${pk.map(quote).mkString(", ")}) $action"
  }

  /** Staging-table DDL from a DataFrame schema: identifiers quoted and
    * types resolved through the url's JdbcDialect (BYTEA vs BLOB etc.),
    * with an ANSI-ish fallback for dialects Spark doesn't know. */
  def createTableSql(table: String, df: DataFrame, url: String): String = {
    import org.apache.spark.sql.types._
    val dialect = org.apache.spark.sql.jdbc.JdbcDialects.get(url)
    def fallback(dt: DataType): String = dt match {
      case LongType => "BIGINT"
      case IntegerType => "INTEGER"
      case ShortType => "SMALLINT"
      case ByteType => "SMALLINT"
      case DoubleType => "DOUBLE PRECISION"
      case FloatType => "REAL"
      case BooleanType => "BOOLEAN"
      case DateType => "DATE"
      case _: TimestampType => "TIMESTAMP"
      case d: DecimalType => s"DECIMAL(${d.precision},${d.scale})"
      case StringType => "VARCHAR"
      case BinaryType => "BLOB"
      case other => throw new IllegalArgumentException(
        s"no staging DDL mapping for $other")
    }
    def sqlType(dt: DataType): String =
      dialect.getJDBCType(dt).map(_.databaseTypeDefinition).getOrElse(fallback(dt))
    val cols = df.schema.fields
      .map(f => s"${dialect.quoteIdentifier(f.name)} ${sqlType(f.dataType)}")
      .mkString(", ")
    s"CREATE TABLE $table ($cols)"
  }
}

/** Source-catalog access (SURVEY.md §2.1 catalog scans): table list,
  * columns, primary key. JDBC impl reads information_schema through
  * spark.read.jdbc; the static impl backs offline tests and file-only
  * runs. */
trait SourceCatalog {
  def tables(schema: String): Seq[String]
  def columns(schema: String, table: String): Seq[(String, String)]
  def primaryKey(schema: String, table: String): Seq[String]
}

final class StaticCatalog(meta: Map[String, (Seq[(String, String)], Seq[String])])
    extends SourceCatalog {
  def tables(schema: String): Seq[String] = meta.keys.toSeq.sorted
  def columns(schema: String, table: String): Seq[(String, String)] = meta(table)._1
  def primaryKey(schema: String, table: String): Seq[String] = meta(table)._2
}

/** information_schema is portable; the primary-key lookup is not — the
  * default is the reference's Postgres pg_index query, and `pkQuery`
  * swaps in another dialect's (the DuckDB integration test injects a
  * duckdb_constraints() variant). */
final class JdbcCatalog(spark: SparkSession, url: String, props: Properties,
                        pkQuery: (String, String) => String =
                          JdbcCatalog.postgresPkQuery)
    extends SourceCatalog {
  private def q(sql: String): DataFrame = {
    val p = new Properties(); p.putAll(props)
    spark.read.jdbc(url, s"($sql) AS sub", p)
  }
  // schema/table names reach here from the live catalog (tables() output
  // feeds columns()/primaryKey()), so they are DATA, not trusted code —
  // escape through the shared literal helper or a quote-bearing table
  // name breaks the query (second-order injection surface)
  private def lit(s: String): String = graft.controlplane.ControlPlane.literal(s)
  def tables(schema: String): Seq[String] =
    q(s"SELECT table_name FROM information_schema.tables " +
      s"WHERE table_schema = ${lit(schema)} AND table_type = 'BASE TABLE'")
      .collect().map(_.getString(0)).toSeq.sorted
  def columns(schema: String, table: String): Seq[(String, String)] =
    q(s"SELECT column_name, data_type FROM information_schema.columns " +
      s"WHERE table_schema = ${lit(schema)} AND table_name = ${lit(table)} " +
      s"ORDER BY ordinal_position")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
  def primaryKey(schema: String, table: String): Seq[String] =
    q(pkQuery(schema, table)).collect().map(_.getString(0)).toSeq
}

object JdbcCatalog {
  /** PK columns via pg_index (the reference's source dialect). */
  def postgresPkQuery(schema: String, table: String): String = {
    import graft.controlplane.ControlPlane.literal
    s"SELECT a.attname FROM pg_index i " +
    s"JOIN pg_class c ON c.oid = i.indrelid " +
    s"JOIN pg_namespace n ON n.oid = c.relnamespace " +
    s"JOIN pg_attribute a ON a.attrelid = c.oid AND a.attnum = ANY(i.indkey) " +
    s"WHERE i.indisprimary AND n.nspname = ${literal(schema)} " +
    s"AND c.relname = ${literal(table)}"
  }
}
