package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.etl.Rollups
import graft.ops.Scratch

/** The seven Documentation.pdf validation queries (SURVEY §3.3) as named
  * queries: Spark runs them through `spark.sql` over temp views of the KPI
  * outputs (the reference's analyst entry point); the oracle prepends the
  * KPI-producing CTE chain so DuckDB evaluates the identical SELECT text. */
object RollupQueries extends QueryGroup {

  // The reference materializes the KPI tables once (Redshift) and runs all
  // seven validations against them; mirror that by persisting the two KPI
  // frames per (session, sfDir) instead of recomputing the full pipeline
  // for every rollup. The tables are tiny (days × genres / days × 24).
  // Scratch.releaseRun unpersists both.
  private val kpiCache = new Scratch.Memo[(DataFrame, DataFrame)]({
    case (g, h) => g.unpersist(); h.unpersist()
  })

  private def kpis(s: SparkSession, dir: String): (DataFrame, DataFrame) =
    kpiCache(s, dir)(
      (CoreQueries.genreKpis(s, dir).persist(),
        CoreQueries.hourlyKpis(s, dir).persist()))

  private def run(name: String)(s: SparkSession, dir: String): DataFrame = {
    val (g, h) = kpis(s, dir)
    Rollups.run(s, name, g, h)
  }

  override val defs: Seq[QueryDef] = Rollups.sql.toSeq.sortBy(_._1).map {
    case (name, text) =>
      val ctes =
        if (name.startsWith("rollup_1")) CoreQueries.genreKpisCtes
        else CoreQueries.hourlyKpisCtes
      QueryDef(name, run(name), Some(ctes + text))
  }
}
