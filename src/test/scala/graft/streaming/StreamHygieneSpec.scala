package graft.streaming

import org.apache.spark.sql.GraftShims
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.SparkSpec

/** Pins the streaming-session hygiene the Verify/Bench runners depend on
  * (the r6 bench-degradation fix): every stateful streaming run against a
  * fresh checkpoint registers JVM-global state-store providers that
  * outlive the query; [[StreamHygiene.release]] must drain them ALL, and
  * a later stream must transparently re-create what it needs (the
  * maintenance machinery restarts lazily). Without the release, provider
  * count grows monotonically with every run — measured in r6 as
  * 0 → 408 providers / 81 → 2129 live threads across 8 passes of the
  * streaming suite, which degraded the whole r6 driver bench. SuiteAttr's
  * `thr=` and `prov=` columns show both counts after every query. */
class StreamHygieneSpec extends SparkSpec {
  import spark.implicits._

  private def runStatefulOnce(dir: String, name: String): Unit = {
    val schema = StructType(Seq(StructField("k", StringType),
      StructField("v", LongType)))
    val q = spark.readStream.schema(schema).parquet(dir)
      .groupBy($"k").agg(count(lit(1)).as("n"))
      .writeStream.outputMode("complete").format("memory")
      .queryName(name) // fresh TEMP checkpoint per start — the bench shape
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
  }

  test("release drains all state-store providers; next stream recovers") {
    val in = java.nio.file.Files.createTempDirectory("graft_hyg_in").toFile
    try {
      Seq(("a", 1L), ("b", 2L)).toDF("k", "v").repartition(1)
        .write.mode("append").parquet(in.getAbsolutePath)

      StreamHygiene.release(spark) // clean slate from other suites
      runStatefulOnce(in.getAbsolutePath, "graft_hyg1")
      assert(GraftShims.loadedStateStoreProviders() > 0,
        "a stateful run should leave its providers loaded")

      StreamHygiene.release(spark)
      assert(GraftShims.loadedStateStoreProviders() == 0,
        "release must unload every provider")

      // maintenance restarts lazily: a fresh stream must work and load
      // fresh providers
      runStatefulOnce(in.getAbsolutePath, "graft_hyg2")
      assert(spark.table("graft_hyg2").as[(String, Long)].collect().toSet
        == Set(("a", 1L), ("b", 1L)))
      assert(GraftShims.loadedStateStoreProviders() > 0)
      StreamHygiene.release(spark)
      assert(GraftShims.loadedStateStoreProviders() == 0)
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
      }
      rm(in)
    }
  }

  test("the Verify runner itself releases state stores after a streaming query") {
    // pins the WIRING, not just the helper: dumpAll must apply the
    // hygiene after each streaming_* query, or a full driver run
    // accumulates providers exactly as r6 did
    val out = java.nio.file.Files.createTempDirectory("graft_hyg_dump")
    try {
      val failures = graft.Verify.dumpAll(spark, "/root/testdata/sf0.001",
        out.toString,
        graft.SparkEntry.queries.filter(_._1 == "streaming_hourly_counts"))
      assert(failures.isEmpty, s"query failed: $failures")
      assert(org.apache.spark.sql.GraftShims.loadedStateStoreProviders() == 0,
        "dumpAll must leave zero loaded providers after a streaming query")
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
      }
      rm(out.toFile)
    }
  }
}
