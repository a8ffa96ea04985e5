package graft

import graft.config._

import org.scalatest.funsuite.AnyFunSuite

/** Mirrors the reference's config-deserialization tests
  * (rustic-anonymization-config/src/tests/mod.rs:9-147). */
class ConfigSpec extends AnyFunSuite {

  val multiToml = """
    [[tables]]
    table_name = "table1"
    keep_num_of_records = 10_000
    [tables.anonymization_type]
    type = "Multi"

    [[tables.anonymization_type.column_transformations]]
    column_name = "column1"
    [tables.anonymization_type.column_transformations.transformation_type]
    type = "Replace"
    replacement_value = "replacement_value"

    [[tables.anonymization_type.column_transformations]]
    column_name = "column2"
    retain_if_empty = true
    [tables.anonymization_type.column_transformations.transformation_type]
    type = "Custom"
    operation_type = "fake_email_transformation"
  """

  test("Multi config round-trip (reference tests/mod.rs:9-66)") {
    val cfg = ConfigLoader.parseAnonymization(multiToml)
    assert(cfg.tables.length == 1)
    val t = cfg.tables.head
    assert(t.tableName == "table1")
    assert(t.keepNumOfRecords.contains(10000L))
    val AnonymizationType.Multi(cols) = t.anonymizationType: @unchecked
    assert(cols.length == 2)
    assert(cols(0).transformationType == TransformationType.Replace("replacement_value"))
    assert(!cols(0).retainIfEmpty)
    assert(cols(1).transformationType == TransformationType.Custom("fake_email_transformation"))
    assert(cols(1).retainIfEmpty)
  }

  test("Single config (reference tests/mod.rs:68-97)") {
    val cfg = ConfigLoader.parseAnonymization("""
      [[tables]]
      table_name = "table1"
      [tables.anonymization_type]
      type = "Single"
      transformation = "fake_phone_transformation"
    """)
    assert(cfg.tables.head.anonymizationType ==
      AnonymizationType.Single("fake_phone_transformation"))
  }

  test("filter_type variants incl. arrays (reference tests/mod.rs:99-147)") {
    val cfg = ConfigLoader.parseAnonymization("""
      [[tables]]
      table_name = "t1"
      [tables.filter_type]
      type = "Contains"
      column = "column1"
      value = "foo"
      [tables.anonymization_type]
      type = "Single"
      transformation = "x"

      [[tables]]
      table_name = "t2"
      [tables.filter_type]
      type = "AnyOfInt"
      column = "k"
      values = [1, 2, 3]
      [tables.anonymization_type]
      type = "Multi"

      [[tables]]
      table_name = "t3"
      [tables.filter_type]
      type = "AnyOfString"
      column = "s"
      values = ["a", "b"]
      [tables.anonymization_type]
      type = "Multi"
    """)
    assert(cfg.tables(0).filterType == FilterType.Contains("column1", "foo"))
    assert(cfg.tables(1).filterType == FilterType.AnyOfInt("k", Seq(1, 2, 3)))
    assert(cfg.tables(2).filterType == FilterType.AnyOfString("s", Seq("a", "b")))
  }

  test("unknown filter type degrades to NoFilter (serde(other) analog)") {
    val cfg = ConfigLoader.parseAnonymization("""
      [[tables]]
      table_name = "t"
      [tables.filter_type]
      type = "SomethingNew"
      [tables.anonymization_type]
      type = "Multi"
    """)
    assert(cfg.tables.head.filterType == FilterType.NoFilter)
  }

  private def anyOfFilter(kind: String, values: String) = s"""
      [[tables]]
      table_name = "orders"
      [tables.filter_type]
      type = "$kind"
      column = "k"
      values = $values
      [tables.anonymization_type]
      type = "Multi"
    """

  test("AnyOfInt: a value outside 32 bits or not a number fails the load, naming table and value") {
    // 4294967297 would wrap to 1 as an Int: rows with k = 1 would be dropped
    val wide = intercept[IllegalArgumentException](
      ConfigLoader.parseAnonymization(anyOfFilter("AnyOfInt", "[4294967297, 7]")))
    assert(wide.getMessage.contains("orders") && wide.getMessage.contains("4294967297"))
    val text = intercept[IllegalArgumentException](
      ConfigLoader.parseAnonymization(anyOfFilter("AnyOfInt", "[\"3\", \"7\"]")))
    assert(text.getMessage.contains("orders") && text.getMessage.contains("\"3\""))
    assert(ConfigLoader.parseAnonymization(anyOfFilter("AnyOfInt", "[-2147483648, 2147483647]"))
      .tables.head.filterType == FilterType.AnyOfInt("k", Seq(Int.MinValue, Int.MaxValue)))
  }

  test("AnyOfString: a non-string value fails the load, naming table and value") {
    val e = intercept[IllegalArgumentException](
      ConfigLoader.parseAnonymization(anyOfFilter("AnyOfString", "[\"a\", 5]")))
    assert(e.getMessage.contains("orders") && e.getMessage.contains("5"))
  }

  test("missing config file => empty config => pass-through") {
    val cfg = ConfigLoader.loadAnonymizationFor("/tmp/definitely-missing", "db", "s")
    assert(cfg == AnonymizationConfig.empty)
  }

  test("comments, escapes, bools") {
    val cfg = ConfigLoader.parseAnonymization("""
      # full-line comment
      [[tables]]
      table_name = "t" # trailing comment
      sanitize_null_bytes = true
      [tables.anonymization_type]
      type = "Multi"
      [[tables.anonymization_type.column_transformations]]
      column_name = "c"
      [tables.anonymization_type.column_transformations.transformation_type]
      type = "Replace"
      replacement_value = "with \"quotes\" and #hash"
    """)
    assert(cfg.tables.head.sanitizeNullBytes)
    val AnonymizationType.Multi(cols) = cfg.tables.head.anonymizationType: @unchecked
    assert(cols.head.transformationType ==
      TransformationType.Replace("with \"quotes\" and #hash"))
  }

  test("interactive config generator: scripted dialogue, re-prompt, merge-and-write") {
    import graft.app.ConfigGen
    val dir = java.nio.file.Files.createTempDirectory("cfggen").toString
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "alpha-public-sync.toml"), "")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "beta-public-sync.toml"), multiToml)
    // dialogue: bad selection -> re-prompt -> pick beta by name; table,
    // column; custom op by number (sorted list); then a second pass via
    // replace on config #1
    val script = Seq(
      "42",                 // invalid index -> re-prompt
      "beta-public",        // select by name
      "users", "email",
      "2",                  // "custom"
      "fake_email_transformation",
      "").mkString("\n")
    val out = new java.io.ByteArrayOutputStream()
    val written = ConfigGen.interactive(dir,
      new java.io.BufferedReader(new java.io.StringReader(script)),
      new java.io.PrintStream(out, true, "UTF-8"))
    assert(written.endsWith("beta-public-sync.toml"))
    assert(new String(out.toByteArray, "UTF-8").contains("not an option"))
    val cfg = ConfigLoader.parseAnonymization(
      java.nio.file.Files.readString(java.nio.file.Paths.get(written)))
    // merged alongside the pre-existing table1 entry from multiToml
    assert(cfg.tables.map(_.tableName).toSet == Set("table1", "users"))
    val AnonymizationType.Multi(cols) =
      cfg.tableConfig("users").get.anonymizationType: @unchecked
    assert(cols == Seq(ColumnTransformation("email",
      TransformationType.Custom("fake_email_transformation"))))

    // replace path on the empty config, selected by index
    val script2 = Seq("1", "t2", "c2", "1", "REDACTED").mkString("\n")
    val written2 = ConfigGen.interactive(dir,
      new java.io.BufferedReader(new java.io.StringReader(script2)),
      new java.io.PrintStream(new java.io.ByteArrayOutputStream()))
    assert(written2.endsWith("alpha-public-sync.toml"))
    val cfg2 = ConfigLoader.parseAnonymization(
      java.nio.file.Files.readString(java.nio.file.Paths.get(written2)))
    val AnonymizationType.Multi(cols2) =
      cfg2.tableConfig("t2").get.anonymizationType: @unchecked
    assert(cols2 == Seq(ColumnTransformation("c2",
      TransformationType.Replace("REDACTED"))))

    // EOF mid-dialogue aborts without writing
    intercept[IllegalArgumentException](ConfigGen.interactive(dir,
      new java.io.BufferedReader(new java.io.StringReader("1\nt3\n")),
      new java.io.PrintStream(new java.io.ByteArrayOutputStream())))
    assert(!java.nio.file.Files.readString(
      java.nio.file.Paths.get(dir, "alpha-public-sync.toml")).contains("t3"))
  }

  test("validations config (validation_struct.rs:7-12)") {
    val v = ConfigLoader.parseValidations("""
      [[validations]]
      query = "SELECT status FROM jobs"
      column_to_check = "status"
      [validations.value_check_type]
      type = "Equals"
      value = "done"
    """)
    assert(v.validations == Seq(
      Validation("SELECT status FROM jobs", "status", ValueCheck.Equals("done"))))
  }
}
