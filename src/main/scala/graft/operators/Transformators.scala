package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

import graft.config._
import graft.functions.anon

/** The transformator registry — the Spark face of
  * `match_transformator` (anonymization_config_table_impl.rs:67-113).
  *
  * Every transform compiles to a `Column` expression; the pipeline
  * applies them all in ONE `select` so Catalyst fuses the whole
  * anonymization into a single codegen'd Project over the scan (the
  * reference materializes column-by-column; SURVEY.md §4).
  */
object Transformators {

  /** One faker op: its expression over `input`, and whether it fakes
    * each distinct input to its own output (a UUID, a digit scramble, a
    * composite address, an id-prefixed or per-element email), so a
    * column of it has as many distinct values as its input. The wordlist
    * fakers (names, company, email) draw from bounded wordlists. */
  private final case class FakerOp(fake: (Column, Long) => Column,
                                   uniquePerInput: Boolean)

  /** The registry, keys verbatim from the reference config surface. The
    * id-prefix op also reads the sibling `id` column
    * (fake_email_with_id_prefix_transformator.rs:19-62). */
  private val ops: Map[String, FakerOp] = Map(
    "fake_firstname_transformation"   -> FakerOp(anon.fakeFirstName, false),
    "fake_lastname_transformation"    -> FakerOp(anon.fakeLastName, false),
    "fake_name_transformation"        -> FakerOp(anon.fakeName, false),
    "fake_companyname_transformation" -> FakerOp(anon.fakeCompanyName, false),
    "fake_email_transformation"       -> FakerOp(anon.fakeEmail, false),
    "fake_address_transformation"     -> FakerOp(anon.fakeAddress, true),
    "fake_md5_transformation"         -> FakerOp(anon.fakeUuid, true),
    "fake_phone_transformation"       -> FakerOp(anon.fakePhone, true),
    "fake_multi_email_transformation" -> FakerOp(anon.fakeMultiEmail, true),
    "fake_email_with_id_prefix_transformation" ->
      FakerOp(anon.fakeEmailWithIdPrefix(col("id"), _, _), true))

  /** Registry keys, verbatim from the reference config surface. */
  val operationTypes: Set[String] = ops.keySet

  /** Whether `operationType` fakes each distinct input to its own output. */
  def uniquePerInput(operationType: String): Boolean =
    ops.get(operationType).exists(_.uniquePerInput)

  /** Compile one Custom operation to an expression over `input`. Unknown
    * names error, matching the reference's registry panic
    * (anonymization_config_table_impl.rs:111). */
  def custom(operationType: String, input: Column, seed: Long): Column =
    ops.getOrElse(operationType, throw new IllegalArgumentException(
      s"unknown operation_type: $operationType")).fake(input, seed)

  /** Compile a ColumnTransformation to the output expression for its
    * column, given the column's current Spark type.
    *
    * Typing divergences, documented (SURVEY.md §7 hard-parts #3):
    * - Replace: the reference emits a String series whatever the source
    *   dtype (replace_transformator.rs:22-34); we cast the literal to the
    *   column's type so the table schema is preserved (and fail clearly at
    *   plan time if the cast can't exist).
    * - Nullify: the reference panics outside {String,Int32,Float64}
    *   (nulify_transformator.rs:30); `lit(null).cast(dt)` works for every
    *   type — a strict superset.
    */
  def compile(ct: ColumnTransformation, dataType: org.apache.spark.sql.types.DataType,
              seed: Long): Column = {
    val in = col(ct.columnName)
    val base = ct.transformationType match {
      case TransformationType.Replace(v) => lit(v).cast(dataType)
      case TransformationType.Nullify    => lit(null).cast(dataType)
      case TransformationType.Custom(op) => custom(op, in, seed)
    }
    val withRetain =
      if (ct.retainIfEmpty) anon.retainIfEmpty(in, base) else base
    withRetain.as(ct.columnName)
  }

  /** Apply a whole table config's transforms in one Project. Rules
    * preserved from the reference:
    * - transforms for columns absent from the actual schema are silently
    *   skipped (anonymization_dataframe_operator.rs:282-294);
    * - untransformed columns pass through untouched, in original order.
    */
  def applyMulti(df: DataFrame, transforms: Seq[ColumnTransformation],
                 seed: Long): DataFrame = {
    val byColumn = transformsByColumn(df, transforms)
    val outCols = df.schema.fields.map { f =>
      byColumn.get(f.name) match {
        case Some(t) => compile(t, f.dataType, seed)
        case None    => col(f.name)
      }
    }
    df.select(outCols.toIndexedSeq: _*)
  }

  /** The transform [[applyMulti]] applies to each column of `df`: columns
    * absent from `df` are dropped, and of several transforms for one
    * column the last wins. */
  def transformsByColumn(df: DataFrame, transforms: Seq[ColumnTransformation])
      : Map[String, ColumnTransformation] = {
    val present = df.schema.fieldNames.toSet
    transforms.filter(t => present.contains(t.columnName))
      .map(t => t.columnName -> t).toMap
  }

  /** Null-byte sanitization over every String column of the frame
    * (anonymization_dataframe_operator.rs:142-150, 333-366). One Project,
    * fused with everything else by Catalyst. */
  def sanitizeNullBytes(df: DataFrame): DataFrame = {
    val outCols = df.schema.fields.map { f =>
      f.dataType match {
        case StringType => anon.sanitizeNullBytes(col(f.name)).as(f.name)
        case _          => col(f.name)
      }
    }
    df.select(outCols.toIndexedSeq: _*)
  }

  /** Structural PII redaction rules, applied IN ORDER (emails before
    * the bare-digit rule, or the digits inside an address would be
    * masked first and break the email match; IPs likewise). Patterns
    * are deliberately RE2-compatible (no backrefs/lookaround) so the
    * identical pattern string runs in Spark, DuckDB, and the usual
    * data-validation tooling.
    */
  val PiiRules: Seq[(String, String)] = Seq(
    ("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("([0-9]{1,3}\\.){3}[0-9]{1,3}", "<IP>"),
    ("[0-9]{4,}", "<NUM>"))

  /** Regex PII scrub of free-text columns: emails, IPv4s, and long
    * digit runs (ids/phones/accounts) replaced by typed placeholders.
    * The redaction complement of the faker transforms: where fakers
    * preserve realism per COLUMN, this scrubs pii embedded INSIDE
    * unstructured text. Pure chained regexp_replace — a codegen'd
    * projection, no shuffle, linear at any corpus size. */
  def redactPii(df: DataFrame, cols: Seq[String]): DataFrame = {
    val missing = cols.filterNot(df.columns.contains)
    require(missing.isEmpty, s"redactPii: no such columns: ${missing.mkString(", ")}")
    cols.foldLeft(df) { (d, c) =>
      d.withColumn(c, PiiRules.foldLeft(col(c)) { case (acc, (re, tag)) =>
        regexp_replace(acc, re, tag)
      })
    }
  }

  /** Column name for a rule tag: `<EMAIL>` -> `n_email`. */
  private[graft] def piiCountCol(tag: String): String =
    "n_" + tag.replaceAll("[<>]", "").toLowerCase

  /** PII DETECTION report — the audit complement of [[redactPii]]:
    * per-group match counts for each rule, under the SAME sequential
    * semantics as redaction (rule i counts matches on the text with
    * rules < i already replaced, so an email's digits are never
    * double-reported as `<NUM>`). This is the compliance question a
    * curation pipeline answers BEFORE deciding to scrub: which
    * sources leak pii, of what kind, at what rate. One groupBy over
    * codegen'd regexp projections — a single shuffle of (groups ×
    * rules) counter rows, linear at any corpus size. */
  def piiReport(df: DataFrame, groupCols: Seq[String],
                textCol: String): DataFrame = {
    require(df.columns.contains(textCol), s"piiReport: no column $textCol")
    val counts = PiiRules.zipWithIndex.map { case ((re, tag), i) =>
      val prior = PiiRules.take(i).foldLeft(col(textCol)) {
        case (acc, (r, t)) => regexp_replace(acc, r, t)
      }
      sum(regexp_count(prior, lit(re))).as(piiCountCol(tag))
    }
    df.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("docs"), counts: _*)
  }
}
