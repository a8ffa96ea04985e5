package graft.controlplane

import scala.collection.mutable.ArrayBuffer
import scala.sys.process.{Process, ProcessLogger}

/** Control-plane operators (SURVEY.md §2.10): the schema/DDL lifecycle
  * around the dataflow. The SQL/DDL GENERATION is implemented and
  * unit-tested here; execution goes through [[SqlExecutor]] so the
  * offline environment (no live Postgres) tests generation while
  * production plugs a JDBC connection in.
  */
object ControlPlane {

  /** Quoted SQL identifier: double-quoted, embedded quotes doubled —
    * config-sourced names (schemas, roles, tables) can't break out of
    * identifier position in generated DDL. NOTE the contract change vs
    * unquoted interpolation: quoted identifiers are CASE-EXACT in
    * Postgres (unquoted ones fold to lowercase), so config names must
    * match catalog case exactly — pass lowercase names for objects
    * created unquoted. */
  def ident(name: String): String = {
    require(name.nonEmpty && !name.contains('\u0000'), s"bad identifier: $name")
    "\"" + name.replace("\"", "\"\"") + "\""
  }

  /** Quoted SQL string literal: single quotes doubled. */
  def literal(v: String): String = {
    require(!v.contains('\u0000'), "NUL in literal")
    "'" + v.replace("'", "''") + "'"
  }

  /** Sequence SETVAL statements (target_db_finalizer.rs:17-58): for each
    * (sequence, table, column) owned pair, set the sequence to the
    * column's max. The reference discovers pairs from pg_depend —
    * [[sequenceOwnershipQuery]] is that catalog probe. */
  def sequenceOwnershipQuery(schema: String): String =
    s"""SELECT s.relname AS sequence_name, t.relname AS table_name,
       |       a.attname AS column_name
       |FROM pg_depend d
       |JOIN pg_class s ON s.oid = d.objid AND s.relkind = 'S'
       |JOIN pg_class t ON t.oid = d.refobjid
       |JOIN pg_attribute a ON a.attrelid = t.oid AND a.attnum = d.refobjsubid
       |JOIN pg_namespace n ON n.oid = s.relnamespace
       |WHERE n.nspname = ${literal(schema)} AND d.deptype IN ('a', 'i')""".stripMargin

  def setvalSql(schema: String, sequence: String, table: String,
                column: String): String =
    // the regclass arg is a LITERAL carrying quoted identifiers
    s"SELECT SETVAL(${literal(s"${ident(schema)}.${ident(sequence)}")}, " +
    s"COALESCE((SELECT MAX(${ident(column)}) " +
    s"FROM ${ident(schema)}.${ident(table)}), 1))"

  /** Import-role DDL (target_db_preparator.rs:143-226): a role that
    * bypasses triggers/FKs during bulk load. */
  def createImportRoleSql(role: String, password: String,
                          superuser: Boolean): Seq[String] = Seq(
    s"CREATE ROLE ${ident(role)} WITH LOGIN PASSWORD ${literal(password)}" +
      (if (superuser) " SUPERUSER" else ""),
    s"ALTER ROLE ${ident(role)} SET session_replication_role = 'replica'")

  def dropSchemaSql(schema: String): String =
    s"DROP SCHEMA IF EXISTS ${ident(schema)} CASCADE"

  /** Grants to application users (target_db_finalizer.rs:62-109). */
  def grantSql(schema: String, user: String, owner: Boolean): Seq[String] = {
    val s = ident(schema); val u = ident(user)
    if (owner) Seq(
      s"GRANT ALL ON SCHEMA $s TO $u",
      s"GRANT ALL ON ALL TABLES IN SCHEMA $s TO $u",
      s"GRANT ALL ON ALL SEQUENCES IN SCHEMA $s TO $u",
      s"ALTER DEFAULT PRIVILEGES IN SCHEMA $s GRANT ALL ON TABLES TO $u")
    else Seq(
      s"GRANT USAGE ON SCHEMA $s TO $u",
      s"GRANT SELECT ON ALL TABLES IN SCHEMA $s TO $u",
      s"GRANT USAGE ON ALL SEQUENCES IN SCHEMA $s TO $u")
  }

  /** Post-import SQL from env (`{DB}_{SCHEMA}_POST_IMPORT_SQL_QUERIES`,
    * semicolon-split — target_db_finalizer.rs:114-198). */
  def postImportStatements(raw: String): Seq[String] =
    raw.split(';').map(_.trim).filter(_.nonEmpty).toSeq

  def postImportEnvKey(db: String, schema: String): String = {
    // Locale.ROOT: under tr-TR, "insights".toUpperCase is "İNSİGHTS"
    // (dotted capital I) and the env lookup silently never matches
    val L = java.util.Locale.ROOT
    s"${db.toUpperCase(L)}_${schema.toUpperCase(L)}_POST_IMPORT_SQL_QUERIES"
  }
}

/** Statement execution seam: production = JDBC connection; tests =
  * recording stub. */
trait SqlExecutor {
  def execute(sql: String): Unit
  def executeAll(sqls: Seq[String]): Unit = sqls.foreach(execute)
}

final class RecordingSqlExecutor extends SqlExecutor {
  val statements = ArrayBuffer.empty[String]
  def execute(sql: String): Unit = statements += sql
}

final class JdbcSqlExecutor(url: String, props: java.util.Properties)
    extends SqlExecutor {
  def execute(sql: String): Unit = {
    val conn = java.sql.DriverManager.getConnection(url, props)
    try conn.createStatement().execute(sql) finally conn.close()
  }
}

/** Shell executor with line-streamed stdout/stderr capture
  * (rustic-shell/src/shell_command_executor.rs:8-106 analog). */
object Shell {
  final case class ShellResult(exitCode: Int, stdout: Seq[String],
                               stderr: Seq[String]) {
    def success: Boolean = exitCode == 0
  }

  def run(argv: Seq[String], onLine: String => Unit = _ => ()): ShellResult = {
    val out = ArrayBuffer.empty[String]
    val err = ArrayBuffer.empty[String]
    // ProcessLogger drives the two callbacks from SEPARATE gobbler
    // threads (one per stream); serialize so the buffers — and the
    // caller's onLine, which has no reason to expect concurrency —
    // see one line at a time
    val lock = new Object
    val code = Process(argv).!(ProcessLogger(
      l => lock.synchronized { out += l; onLine(l) },
      l => lock.synchronized { err += l; onLine(l) }))
    ShellResult(code, out.toSeq, err.toSeq)
  }

  def runOrThrow(argv: Seq[String]): ShellResult = {
    val r = run(argv)
    if (!r.success)
      throw new RuntimeException(
        s"command failed (${r.exitCode}): ${argv.mkString(" ")}\n" +
        r.stderr.takeRight(20).mkString("\n"))
    r
  }
}
