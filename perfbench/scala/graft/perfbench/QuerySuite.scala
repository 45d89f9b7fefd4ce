package graft.perfbench

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.{SparkEntry, Verify}

/** query_suite: a stratified sample of `SparkEntry.queries`, one query per
  * QueryGroup, run through the noop sink in a cold pass and then warm passes
  * with the same per-query release hygiene as `graft.Bench`. */
object QuerySuite {

  /** (group, query): per group, the query with the median warm time in the
    * committed 221-query sf0.1 record, so each group is represented by a
    * typical member rather than its cheapest or dearest one. */
  val sample: Seq[(String, String)] = Seq(
    "Analytics" -> "t_skyline_pareto", "Core" -> "j1_left_join_enrich",
    "Engine" -> "a_bitmap_distinct", "Extension" -> "text_chunking",
    "Function" -> "o_union_evolve", "Graph" -> "g_triangle_count",
    "Incremental" -> "etl_incremental_kpis", "Operator" -> "j_salted_join",
    "Ops" -> "j_asof_prev_order", "Profiling" -> "o_zorder_key",
    "Quality" -> "p_try_arithmetic", "Relational" -> "q2_min_cost_supp",
    "Rollup" -> "rollup_2c_diversity_by_hour", "Sequence" -> "p_variant_extract",
    "Sketch" -> "a_kmv_setops", "Sql" -> "a_hll_merge_daily",
    "Streaming" -> "streaming_sessions", "Training" -> "f_stratified_sample",
    "Warehouse" -> "w_rolling_distinct")

  /** The shared caches `graft.Bench` builds before timing. */
  def warm(spark: SparkSession, dir: String): Unit = {
    graft.queries.CoreQueries.warmShared(spark, dir)
    graft.queries.GraphQueries.warmEdges(spark, dir)
  }

  /** Pass 0 is cold; measured passes follow while the next one still fits
    * in `seconds`, and at least two: the first still runs ~25% slower, so a
    * pass count that varied with the host would move the median. A traced
    * run traces the cold pass and each query in every other measured pass,
    * so each query has traced and untraced samples. The seed orders each
    * pass. Outputs are then dumped for the DuckDB oracle. */
  def run(spark: SparkSession, tr: Trace, dir: String, work: String, seed: Long,
          seconds: Double, traced: Boolean, ops: ArrayBuffer[PerfMain.Op]): Unit = {
    val queries = SparkEntry.queries
    val rnd = new scala.util.Random(seed)
    var pass = 0
    var warmStart = 0L
    var lastPass = 0.0
    while (pass < 3 || PerfMain.fits(warmStart, lastPass, seconds)) {
      if (pass == 1) warmStart = System.nanoTime()
      val passStart = System.nanoTime()
      rnd.shuffle(sample).foreach { case (group, name) =>
        val traceOp = traced && (pass == 0 || (pass + sample.indexOf(group -> name)) % 2 == 1)
        if (traceOp) tr.attach() else tr.detach()
        val (err, dt, cpu) = tr.span(s"op.$name", "op") {
          val (t0, c0) = (System.nanoTime(), PerfMain.cpuNanos())
          val err = try {
            val df = tr.span(s"queries.$group.construct", "layer")(queries(name)(spark, dir))
            tr.span(s"queries.$group.exec", "layer")(
              df.write.format("noop").mode("overwrite").save())
            ""
          } catch { case NonFatal(e) => s"${e.getClass.getSimpleName}: ${e.getMessage}" }
          finally tr.span("hygiene.release", "layer") {
            graft.ext.Dedup.releaseScratch()
            if (name.startsWith("streaming_")) graft.streaming.StreamHygiene.release(spark)
          }
          (err, (System.nanoTime() - t0) / 1e9, (PerfMain.cpuNanos() - c0) / 1e9)
        }
        ops += PerfMain.Op(if (pass == 0) "cold" else "warm", name, dt, cpu, err.isEmpty,
          if (err.isEmpty) "Completed" else err, traceOp, pass)
      }
      lastPass = (System.nanoTime() - passStart) / 1e9
      pass += 1
    }
    val names = sample.map(_._2).toSet
    tr.detach()
    Verify.dumpAll(spark, dir, s"$work/verify", queries.filter { case (k, _) => names(k) })
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => names(k) }
      .map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }.mkString("{", ",", "}")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$work/verify/oracle_sql.json"), oracle)
  }
}
