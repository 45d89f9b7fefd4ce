package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * Queries are assembled from the per-family groups in [[graft.queries]];
  * each group entry maps to a row of SURVEY §2's operator inventory or a
  * north-star extension (dedup / similarity / text / multimodal).
  */
object SparkEntry {

  private val groups: Seq[QueryGroup] = Seq(
    CoreQueries,
    OperatorQueries,
    RollupQueries,
    ExtensionQueries,
    StreamingQueries,
    EngineQueries,
    OpsQueries,
    TrainingQueries,
    AnalyticsQueries,
    WarehouseQueries,
    ProfilingQueries,
    FunctionQueries,
    RelationalQueries,
    SqlQueries,
    SequenceQueries,
    QualityQueries,
    IncrementalQueries,
    SketchQueries,
    GraphQueries,
  )

  private val all: Seq[QueryDef] = groups.flatMap(_.defs)

  /** Flagship query on the sf0.001 fixture; the smoke check wants rows > 0.
    * The caller's session may not come from [[HarnessSession.build]] (a
    * spark-shell's `spark`), so this installs graft's session state on it. */
  def entry(spark: SparkSession): DataFrame = {
    HarnessSession.install(spark)
    CoreQueries.genreKpis(spark, "/root/testdata/sf0.001")
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.fn).toMap

  /** What every runner calls after each query: the per-query scratch caches
    * (dedup self-join sides) die with the query, and a `streaming_*` query
    * also unloads the state-store providers its per-run checkpoints
    * registered (JVM-global: they outlive the query and degrade the whole
    * session otherwise, see [[streaming.StreamHygiene]]). */
  def release(spark: SparkSession, name: String): Unit = {
    ext.Dedup.releaseScratch()
    if (name.startsWith("streaming_")) streaming.StreamHygiene.release(spark)
  }

  /** The untimed session warm-up every suite runner (Bench, SuiteAttr,
    * Verify) pays before its first query, so the differential checks the
    * shared state the benches time; [[ops.Scratch.releaseRun]] frees what
    * it and the queries memoized. A failed step is reported on stderr and
    * skipped: queries that do not touch it must still run. NonFatal only:
    * an OOM or linkage error aborts the run instead of cascading into
    * per-query failures. */
  def warm(spark: SparkSession, dir: String): Unit = {
    def step(label: String)(body: => Unit): Unit =
      try body catch { case NonFatal(e) =>
        System.err.println(s"[warm] $label failed: ${e.getMessage}")
      }
    // JVM/codegen warm-up on the smallest SF, so the first timed query
    // does not pay one-time session costs
    step("entry")(entry(spark).write.format("noop").mode("overwrite").save())
    // one materialization of the shared enriched frame for the whole run
    // (the reference's one-transform-many-validations shape); the first
    // timed query that touches it pays the cache build, the rest hit it
    step("warmShared")(CoreQueries.warmShared(spark, dir))
    // co-purchase edge table shared by the three graph queries; lazy, so
    // the first timed consumer pays the one build (honest accounting)
    step("warmEdges")(GraphQueries.warmEdges(spark, dir))
    // bucketed fact/dim tables staged untimed: written once, joined many
    // times, so the timed j_bucketed_join entry measures the zero-exchange
    // join, not the one-time table build (r11 VERDICT #5)
    step("stageBucketed")(OperatorQueries.stageBucketed(spark, dir))
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops.
    * Evaluate AFTER running queries: oracleAfter thunks render literals
    * stashed by their query (see [[graft.queries.QueryDef]]). */
  def oracleSql: Map[String, String] =
    all.flatMap(q => q.oracle.orElse(q.oracleAfter.flatMap(_.apply()))
      .map(q.name -> _)).toMap

  /** Names carrying a static or post-run oracle — VerifyDumpSpec pins that
    * every queries key is oracle-backed (no silent rows-only checks). */
  def oracleBacked: Set[String] =
    all.filter(q => q.oracle.isDefined || q.oracleAfter.isDefined)
      .map(_.name).toSet
}
