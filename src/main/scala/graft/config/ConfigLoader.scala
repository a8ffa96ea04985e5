package graft.config

import Toml.TblOps

/** Decodes the reference's TOML anonymization/validation configs into the
  * model (anonymization_config_impl.rs:21-40 analog: a missing file is an
  * empty config => pass-through pipeline).
  */
object ConfigLoader {

  def parseAnonymization(text: String): AnonymizationConfig = {
    val root = Toml.parse(text)
    AnonymizationConfig(root.tables("tables").map(decodeTable))
  }

  /** `load_config_for(db, schema)`: configs live at
    * `<dir>/<db>-<schema>-sync.toml`; absent => empty (pass-through). */
  def loadAnonymizationFor(dir: String, db: String, schema: String): AnonymizationConfig = {
    val p = java.nio.file.Paths.get(dir, s"$db-$schema-sync.toml")
    if (java.nio.file.Files.exists(p))
      parseAnonymization(java.nio.file.Files.readString(p))
    else AnonymizationConfig.empty
  }

  private def decodeTable(t: Toml.Tbl): TableConfig = {
    val name = t.str("table_name").getOrElse(
      throw new IllegalArgumentException("table missing table_name"))
    val anonType = t.tbl("anonymization_type") match {
      case None => AnonymizationType.Multi(Nil)
      case Some(at) => at.str("type") match {
        case Some("Multi") =>
          AnonymizationType.Multi(at.tables("column_transformations").map(decodeColumn))
        case Some("Single") =>
          AnonymizationType.Single(at.str("transformation").getOrElse(
            throw new IllegalArgumentException(s"$name: Single without transformation")))
        case other =>
          throw new IllegalArgumentException(s"$name: unknown anonymization_type $other")
      }
    }
    TableConfig(
      tableName = name,
      anonymizationType = anonType,
      keepNumOfRecords = t.num("keep_num_of_records"),
      filterType = t.tbl("filter_type").map(decodeFilter(name, _)).getOrElse(FilterType.NoFilter),
      sanitizeNullBytes = t.bool("sanitize_null_bytes").getOrElse(false))
  }

  private def decodeColumn(t: Toml.Tbl): ColumnTransformation = {
    val name = t.str("column_name").getOrElse(
      throw new IllegalArgumentException("column_transformation missing column_name"))
    val tt = t.tbl("transformation_type").getOrElse(
      throw new IllegalArgumentException(s"$name: missing transformation_type"))
    val kind = tt.str("type") match {
      case Some("Replace") =>
        TransformationType.Replace(tt.str("replacement_value").getOrElse(""))
      case Some("Custom") =>
        TransformationType.Custom(tt.str("operation_type").getOrElse(
          throw new IllegalArgumentException(s"$name: Custom without operation_type")))
      case Some("Nullify") => TransformationType.Nullify
      case other =>
        throw new IllegalArgumentException(s"$name: unknown transformation_type $other")
    }
    ColumnTransformation(name, kind, t.bool("retain_if_empty").getOrElse(false))
  }

  /** Unknown filter `type` degrades to NoFilter, matching serde's
    * `#[serde(other)]` default (filter_type_struct.rs:36-38). An
    * `AnyOfInt` element that is not a 32-bit integer, or an `AnyOfString`
    * element that is not a string, fails the load, as serde's
    * `Vec<i32>`/`Vec<String>` does: a wrapped or dropped value would
    * silently change which rows are kept. */
  private def decodeFilter(table: String, t: Toml.Tbl): FilterType = {
    def col = t.str("column").getOrElse("")
    def value = t.str("value").getOrElse("")
    def values[A](kind: String, expected: String)(element: PartialFunction[Toml.Value, A]): Seq[A] =
      t.arr("values").map(v => element.applyOrElse(v, (bad: Toml.Value) =>
        throw new IllegalArgumentException(s"$table: $kind value ${show(bad)} is not $expected")))
    t.str("type") match {
      case Some("Contains")   => FilterType.Contains(col, value)
      case Some("StartsWith") => FilterType.StartsWith(col, value)
      case Some("EndsWith")   => FilterType.EndsWith(col, value)
      case Some("StartsAndEndsWith") => FilterType.StartsAndEndsWith(
        col, t.str("start_value").getOrElse(""), t.str("end_value").getOrElse(""))
      case Some("Equals")     => FilterType.Equals(col, value)
      case Some("AnyOfInt")   => FilterType.AnyOfInt(col, values("AnyOfInt", "a 32-bit integer") {
        case Toml.Num(v) if v.isValidInt => v.toInt
      })
      case Some("AnyOfString") => FilterType.AnyOfString(col, values("AnyOfString", "a string") {
        case Toml.Str(v) => v
      })
      case _ => FilterType.NoFilter
    }
  }

  private def show(v: Toml.Value): String = v match {
    case Toml.Str(s) => "\"" + s + "\""
    case Toml.Num(n) => n.toString
    case other       => other.toString
  }

  // ---- validations ------------------------------------------------------

  def parseValidations(text: String): Validations = {
    val root = Toml.parse(text)
    Validations(root.tables("validations").map { v =>
      val check = v.tbl("value_check_type") match {
        case Some(c) => c.str("type") match {
          case Some("Equals")   => ValueCheck.Equals(c.str("value").getOrElse(""))
          case Some("Contains") => ValueCheck.Contains(c.str("value").getOrElse(""))
          case other => throw new IllegalArgumentException(s"unknown check $other")
        }
        case None => throw new IllegalArgumentException("validation missing value_check_type")
      }
      Validation(
        query = v.str("query").getOrElse(
          throw new IllegalArgumentException("validation missing query")),
        columnToCheck = v.str("column_to_check").getOrElse(
          throw new IllegalArgumentException("validation missing column_to_check")),
        check = check)
    })
  }
}
