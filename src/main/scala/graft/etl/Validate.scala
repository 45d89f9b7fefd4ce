package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Structural validation (SURVEY §2.3 F1-F3).
  *
  * The reference's only data-quality gates are a required-column name-set
  * check that branches the DAG to a stop node
  * (reference: dags/music_streaming_services_dag.py:92-137) and a per-column
  * null diagnostic in the seed script (reference: songs_to_rds.py:21-29).
  * Both are cheap, driver-side or single-pass — no reason to change semantics,
  * only to fail fast instead of swallowing errors (SURVEY §2.11-3).
  */
object Validate {

  final case class MissingColumns(table: String, missing: Set[String])

  /** F1 — order-insensitive required-column subset check. Pure schema
    * inspection: no job runs, so it scales to any input size for free. On
    * a CSV source that holds end to end: `Sources.csvRaw` resolves the
    * header columns on the driver, so neither opening nor validating runs
    * a job (asserted in SourcesSpec). */
  def requiredColumns(table: String, df: DataFrame, required: Set[String])
      : Either[MissingColumns, DataFrame] = {
    val missing = required -- df.columns.toSet
    if (missing.isEmpty) Right(df) else Left(MissingColumns(table, missing))
  }

  /** F2 — per-column null counts in ONE aggregation pass (the reference
    * loops over rows in Python, reference: songs_to_rds.py:25-29 — O(n)
    * driver-side; this is a single distributed scan). */
  def nullScan(df: DataFrame): DataFrame =
    df.agg(
      (count(lit(1)) - count(col(df.columns.head))).as(df.columns.head),
      df.columns.tail.map(c => (count(lit(1)) - count(col(c))).as(c)): _*)

  /** F3 — fill nulls in string columns with the reference's (sic) "Unkown"
    * (reference: songs_to_rds.py:31). pandas applies the string to numeric
    * columns too (upcasting to object); we keep columns typed and fill only
    * string columns — documented sane-ified semantics (SURVEY §1.3). */
  def fillUnknown(df: DataFrame): DataFrame = df.na.fill("Unkown")

  /** F3 full-parity variant: what the reference's `df.fillna("Unkown")`
    * ACTUALLY does to a mixed-type frame — every column is upcast to
    * object/string and nulls in numeric columns become the string too
    * (reference: songs_to_rds.py:31). Stringify-then-fill, one narrow
    * projection, no shuffle. Callers that need cross-engine-stable numeric
    * formatting should pre-cast floating columns to a fixed-scale decimal
    * (double→string rendering is engine-specific). */
  def fillUnknownAll(df: DataFrame): DataFrame =
    df.select(df.columns.toSeq.map(c => col(c).cast("string").as(c)): _*)
      .na.fill("Unkown")

  /** A named row-level expectation: `ok` must hold for every row. */
  final case class DqRule(name: String, ok: org.apache.spark.sql.Column)

  /** Data-quality gate (the dbt-tests / Great-Expectations shape): count
    * violations of every rule in ONE aggregation pass and return a
    * per-rule report (rule, n_rows, n_violations, pass).
    *
    * Scale: each rule is a conditional sum inside a single scan's
    * aggregate — adding rules adds columns, never passes. A NULL rule
    * result counts as a violation (an expectation that cannot be
    * evaluated is not satisfied); on a ZERO-ROW input every rule passes
    * vacuously (n_violations 0, not the NULL a bare sum would give). The
    * per-rule rows come from one explode-of-structs unpivot of the single
    * aggregate row; rule names travel as literal DATA, never as column
    * names or spliced SQL text, so any name — spaces, quotes, dots — is
    * fine. */
  def dqChecks(df: DataFrame, rules: Seq[DqRule]): DataFrame = {
    require(rules.nonEmpty, "dqChecks needs at least one rule")
    val aggs = count(lit(1)).as("n_rows") +:
      rules.zipWithIndex.map { case (r, i) =>
        coalesce(sum(when(coalesce(r.ok, lit(false)), 0L).otherwise(1L)),
          lit(0L)).as(s"_v$i")
      }
    val pairs = rules.zipWithIndex.map { case (r, i) =>
      struct(lit(r.name).as("rule"), col(s"_v$i").as("n_violations"))
    }
    df.agg(aggs.head, aggs.tail: _*)
      .select(col("n_rows"), explode(array(pairs: _*)).as("_kv"))
      .select(col("_kv.rule").as("rule"), col("n_rows"),
        col("_kv.n_violations").as("n_violations"),
        (col("_kv.n_violations") === 0L).as("pass"))
  }
}
