package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.config.{Validation, Validations, ValueCheck}

/** Post-run validation framework (rustic-result-validator analog,
  * result_validator.rs:65-148): each probe runs a SQL query and asserts
  * a predicate on EVERY returned row of `column_to_check`. The reference
  * asserts against the freshly-loaded target DB; here probes run on
  * registered Spark views (or anything `spark.sql` can see), so the
  * same TOML config validates a Parquet output directory.
  *
  * The all-rows assertion is pushed into the engine as
  * `count(rows violating pred) == 0` — one aggregate, no collect of the
  * probe result. Probes run concurrently on a bounded driver pool; their
  * results and the failure `runOrThrow` reports keep declaration order.
  */
object Validator {

  final case class Result(validation: Validation, violations: Long) {
    def passed: Boolean = violations == 0
  }

  def compilePredicate(columnToCheck: String, check: ValueCheck) = check match {
    case ValueCheck.Equals(v)   => col(columnToCheck).cast("string") === lit(v)
    case ValueCheck.Contains(v) => col(columnToCheck).cast("string").contains(lit(v))
  }

  /** Runs every probe, up to `parallelism` at a time on the driver pool
    * (`TablePipeline.mapConcurrently`); each probe is one Spark job, so
    * small probes overlap instead of queueing. Results come back in
    * DECLARATION order whatever order the probes finish in. */
  def run(spark: SparkSession, validations: Validations,
          parallelism: Int = 1): Seq[Result] =
    TablePipeline.mapConcurrently(validations.validations, parallelism) { v =>
      val probe = spark.sql(v.query)
      val pred = compilePredicate(v.columnToCheck, v.check)
      val violations = probe.filter(!pred || pred.isNull).count()
      Result(v, violations)
    }

  /** SKIP_VALIDATIONS gate (result_validator.rs:143-148): returns true
    * when all pass (or skipped); otherwise throws for the first failing
    * probe in declaration order, mirroring the reference's panic. */
  def runOrThrow(spark: SparkSession, validations: Validations,
                 skip: Boolean = sys.env.get("SKIP_VALIDATIONS").contains("true"),
                 parallelism: Int = 1)
      : Boolean = {
    if (skip) return true
    val results = run(spark, validations, parallelism)
    results.find(!_.passed).foreach { r =>
      throw new IllegalStateException(
        s"validation failed: query='${r.validation.query}' " +
        s"column=${r.validation.columnToCheck} ${r.violations} violating rows")
    }
    true
  }

  /** Referential-integrity audit: for each named (child, parent) key
    * relationship, count child rows whose key has NO parent — the
    * orphan scan every warehouse load should end with. One left-anti
    * join + single-row aggregate per relation, unioned into one small
    * report (the relations run as parallel stages of one job, the
    * mixByTokenBudget totals pattern). NULL child keys are orphans by
    * this definition: a fact row that cannot be attributed to any
    * dimension row is exactly what the audit exists to surface. */
  def referentialAudit(relations: Seq[(String, DataFrame, Seq[String],
      DataFrame, Seq[String])]): DataFrame = {
    require(relations.nonEmpty, "audit needs at least one relation")
    relations.map { case (name, child, childKeys, parent, parentKeys) =>
      require(childKeys.nonEmpty && childKeys.size == parentKeys.size,
        s"$name: key arity mismatch")
      val c = child.select(childKeys.map(col): _*).toDF(childKeys: _*)
      val p = parent.select(parentKeys.map(col): _*).toDF(childKeys: _*)
      val cond = childKeys.map(k => c(k) === p(k)).reduce(_ && _)
      c.join(p, cond, "left_anti")
        .agg(count(lit(1)).cast("long").as("n_orphans"))
        .select(lit(name).as("relation"), col("n_orphans"))
    }.reduce(_ unionByName _)
  }

  /** Declarative data-quality rule report: each rule is (name, frame,
    * violation predicate) and the report is one row per rule with its
    * violation and checked counts. Rules over the SAME frame INSTANCE
    * (reference identity — the documented fusion contract; callers
    * that want one scan per table share the DataFrame object rather
    * than re-reading it) fuse into a single scan + aggregate
    * (conditional sums side by side); distinct frames run as parallel
    * stages of one union job. Scale: never more than one pass per
    * table regardless of how many rules it carries.
    *
    * Report row order is the DECLARATION order of `rules` — stable
    * across runs and independent of how frames happen to fuse
    * (asserted in ControlPlaneSpec). The sort is over one row per
    * rule, so it costs nothing. */
  def ruleReport(rules: Seq[(String, DataFrame,
      org.apache.spark.sql.Column)]): DataFrame = {
    require(rules.nonEmpty, "report needs at least one rule")
    // first-appearance frame order, then rules grouped per frame with
    // their declaration index — Scala's Map.groupBy alone iterates in
    // unspecified order, which made the union (hence report) order
    // nondeterministic
    val frames = rules.map(_._2).distinct
    val byFrame = rules.zipWithIndex.groupBy(_._1._2)
    frames.map { df =>
      val rs = byFrame(df)
      val sums = rs.map { case ((name, _, pred), _) =>
        sum(when(pred, 1L).otherwise(0L)).as(s"__v_$name")
      }
      val agged = df.agg(sums.head, sums.tail :+
        count(lit(1)).cast("long").as("__n"): _*)
      val rows = rs.map { case ((name, _, _), idx) =>
        struct(lit(idx).as("idx"), lit(name).as("rule"),
          col(s"__v_$name").cast("long").as("n_violations"),
          col("__n").as("n_checked"))
      }
      agged.select(explode(array(rows: _*)).as("__r"))
        .select(col("__r.idx").as("__idx"), col("__r.rule"),
          col("__r.n_violations"), col("__r.n_checked"))
    }.reduce(_ unionByName _)
      .orderBy(col("__idx")).drop("__idx")
  }
}
