package graft.ops

import graft.{SparkEntry, SparkSpec}
import graft.queries.{ExtensionQueries, OperatorQueries}

/** A warmed run memoizes shared state across queries (the enriched frame,
  * the KPI tables, edges, MinHash scratch, trained models, tokens, the
  * bucketed tables); [[Scratch.releaseRun]] must free all of it, so a
  * long-lived session (the test JVM's shared one included) carries no
  * cached frame or trained-model oracle from one run into the next. */
class RunReleaseSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  /** One query per memo family. */
  private val names = Seq(
    "j1_left_join_enrich",           // warmShared's enriched frame
    "g_triangle_count",              // co-purchase edges
    "dedup_clusters",                // signatures → candidates → clusters
    "sim_ivf_trained_topk",          // trained IVF index + centroids
    "pca_project",                   // fitted PCA model
    "text_bm25_topk",                // token scratch
    "rollup_2c_diversity_by_hour",   // KPI tables
    "j_bucketed_join")               // bucketed tables

  private val trained =
    ExtensionQueries.defs.filter(_.oracleAfter.isDefined).map(_.name).toSet

  test("releaseRun frees every run-scoped memo a warmed run built") {
    val cache = spark.sharedState.cacheManager
    Scratch.releaseRun(spark)
    spark.catalog.clearCache()
    try {
      SparkEntry.warm(spark, dir)
      names.foreach { n =>
        try SparkEntry.queries(n)(spark, dir).write.format("noop")
          .mode("overwrite").save()
        finally SparkEntry.release(spark, n)
      }
      assert(!cache.isEmpty, "the warmed run should hold cached frames")
      // the IVF and PCA runs feed all four post-run oracles
      assert(trained.size == 4 && trained.subsetOf(SparkEntry.oracleSql.keySet))

      Scratch.releaseRun(spark)
      assert(cache.isEmpty, "a cached frame outlived releaseRun")
      val rendered = SparkEntry.oracleSql.keySet.intersect(trained)
      assert(rendered.isEmpty, s"stale trained-model oracles: $rendered")

      // the bucketed-table memo is dropped too: staging writes again
      val facts = "g_events_bkt" + dir.replaceAll("[^A-Za-z0-9]", "_")
      spark.sql(s"DROP TABLE IF EXISTS `$facts`")
      OperatorQueries.stageBucketed(spark, dir)
      assert(spark.catalog.tableExists(facts),
        "stageBucketed after releaseRun must write the tables again")
    } finally Scratch.releaseRun(spark)
  }
}
