package graft.io

import java.nio.file.Files

import graft.SparkSpec
import graft.ext.Dedup

class SinksSpec extends SparkSpec {
  import spark.implicits._

  test("upsertParquet: insert, update-wins-by-version, idempotent rerun") {
    val dir = Files.createTempDirectory("graft_upsert").resolve("t").toString
    val base = Seq((1L, "a", 1L), (2L, "b", 1L)).toDF("id", "v", "version")
    Sinks.upsertParquet(base, dir, Seq("id"), "version")
    assert(spark.read.parquet(dir).count() == 2)

    // update id=2, insert id=3
    val upd = Seq((2L, "b2", 2L), (3L, "c", 1L)).toDF("id", "v", "version")
    Sinks.upsertParquet(upd, dir, Seq("id"), "version")
    val after = spark.read.parquet(dir)
      .as[(Long, String, Long)].collect().toSet
    assert(after == Set((1L, "a", 1L), (2L, "b2", 2L), (3L, "c", 1L)))

    // replaying the same updates must change nothing (rerun-safe, the
    // reference's missing upsert story)
    Sinks.upsertParquet(upd, dir, Seq("id"), "version")
    assert(spark.read.parquet(dir)
      .as[(Long, String, Long)].collect().toSet == after)

    // same version on both sides: the update wins the tie
    val tie = Seq((1L, "a_new", 1L)).toDF("id", "v", "version")
    Sinks.upsertParquet(tie, dir, Seq("id"), "version")
    assert(spark.read.parquet(dir).filter($"id" === 1L)
      .select("v").as[String].head() == "a_new")
  }

  test("date-partitioned sink prunes reads to one partition (the 100 TB payoff)") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val dir = Files.createTempDirectory("graft_prune").resolve("kpis").toString
    val kpis = graft.queries.CoreQueries.hourlyKpisFused(
      spark, "/root/testdata/sf0.001")
    Sinks.parquet(kpis, dir, partitionBy = Seq("date"))

    val allDates = spark.read.parquet(dir)
    val nDates = allDates.select("date").distinct().count()
    assert(nDates > 1, "need multiple date partitions to demonstrate pruning")

    val oneDay = allDates.filter(col("date") === "2024-01-02")
    val scan = oneDay.queryExecution.executedPlan.collectFirst {
      case a: AdaptiveSparkPlanExec =>
        a.executedPlan.collectFirst { case f: FileSourceScanExec => f }
      case f: FileSourceScanExec => Some(f)
    }.flatten.getOrElse(fail("no FileSourceScanExec in plan"))
    // the date predicate must be a PARTITION filter (directory pruning at
    // planning time), not a data filter evaluated after reading every file
    assert(scan.partitionFilters.exists(_.toString.contains("date")),
      s"date filter not in partitionFilters: ${scan.partitionFilters}")
    assert(scan.dataFilters.isEmpty,
      s"date filter fell through to dataFilters: ${scan.dataFilters}")
    // and the scan's file selection really shrank to the one directory
    assert(scan.relation.location.listFiles(scan.partitionFilters, Nil)
      .map(_.files.size).sum <
      scan.relation.location.listFiles(Nil, Nil).map(_.files.size).sum)
    // pruned read returns exactly that day's rows (sparse hours at sf0.001)
    assert(oneDay.count() ==
      kpis.filter(col("date") === "2024-01-02").count())
    // rerunning the sink for a changed day overwrites ONLY that partition
    // (dynamic partition overwrite: daily rerun never truncates history)
    val oneDayNew = kpis.filter(col("date") === "2024-01-02")
      .withColumn("unique_listeners", lit(0L))
    Sinks.parquet(oneDayNew, dir, partitionBy = Seq("date"))
    val back = spark.read.parquet(dir)
    assert(back.select("date").distinct().count() == nDates,
      "dynamic overwrite must keep the other partitions")
    assert(back.filter(col("date") === "2024-01-02")
      .agg(sum("unique_listeners")).head().getLong(0) == 0L)
  }

  test("parquetAll: concurrent writes keep the caller's local properties; " +
       "every write has ended before it returns or throws") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.functions.udf
    val dir = Files.createTempDirectory("graft_all")
    val a = Seq(("2024-01-01", 1L), ("2024-01-02", 2L)).toDF("date", "n")
    // the second output is written on a helper thread and outlasts the first
    val slow = udf { (s: String) => Thread.sleep(1500); s }.asNondeterministic()
    val b = Seq(("2024-01-01", "x")).toDF("date", "s").select($"date", slow($"s").as("s"))
    val tags = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        tags.add(String.valueOf(e.properties.getProperty("graft.spec.tag")))
    }
    org.apache.spark.sql.GraftShims.drainListenerBus(spark)
    sc.addSparkListener(listener)
    sc.setLocalProperty("graft.spec.tag", "daily")
    try Sinks.parquetAll(Seq(a -> s"$dir/a", b -> s"$dir/b"), Seq("date"))
    finally {
      sc.setLocalProperty("graft.spec.tag", null)
      org.apache.spark.sql.GraftShims.drainListenerBus(spark)
      sc.removeSparkListener(listener)
    }
    assert(spark.read.parquet(s"$dir/a").count() == 2)
    assert(spark.read.parquet(s"$dir/b").count() == 1)
    assert(!tags.isEmpty && tags.toArray.forall(_ == "daily"), tags)

    // both writes fail, the second late: the first output's error is
    // thrown, after the second has failed too, which rides along suppressed
    def mentions(t: Throwable, text: String): Boolean =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .exists(c => String.valueOf(c.getMessage).contains(text))
    val late = udf { (s: String) =>
      Thread.sleep(1500); if (s.nonEmpty) sys.error("late failure"); s
    }.asNondeterministic()
    val failing = Seq(("2024-01-01", "x")).toDF("date", "s")
      .select($"date", late($"s").as("s"))
    Files.writeString(dir.resolve("blocked"), "not a directory")
    val e = intercept[Exception](Sinks.parquetAll(
      Seq(a -> s"$dir/blocked", failing -> s"$dir/late"), Seq("date")))
    assert(!mentions(e, "late failure"), e)
    assert(e.getSuppressed.exists(mentions(_, "late failure")),
      e.getSuppressed.toSeq)
  }

  test("connectedComponents returns empty for an empty edge list (no NPE)") {
    val empty = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    assert(Dedup.connectedComponents(empty).isEmpty)
  }

  test("replaceBucketedTable: crash between DROP and RENAME self-heals " +
       "on the next entry; readers recover explicitly") {
    val tbl = "swap_crash_spec"
    Sinks.bucketedTable(Seq((1L, "v1")).toDF("id", "v"), tbl, Seq("id"),
      buckets = 2)
    // simulate the crash window: the staged replacement is fully
    // written, the old table is dropped, the process dies before the
    // RENAME — exactly the two committed statements, stopped midway
    Sinks.bucketedTable(Seq((2L, "v2")).toDF("id", "v"), tbl + "__staged",
      Seq("id"), buckets = 2)
    spark.sql(s"DROP TABLE `$tbl`")
    assert(!spark.catalog.tableExists(tbl))

    // a reader self-heals via the explicit recovery entry point
    assert(Sinks.recoverReplacedTable(spark, tbl))
    assert(spark.table(tbl).as[(Long, String)].collect().toSet ==
      Set((2L, "v2")))
    // idempotent: nothing staged left, second call is a no-op
    assert(!Sinks.recoverReplacedTable(spark, tbl))

    // and the writer self-heals on entry: re-create the crash state,
    // then let the next replace run end-to-end
    Sinks.bucketedTable(Seq((3L, "v3")).toDF("id", "v"), tbl + "__staged",
      Seq("id"), buckets = 2)
    spark.sql(s"DROP TABLE `$tbl`")
    Sinks.replaceBucketedTable(Seq((4L, "v4")).toDF("id", "v"), tbl,
      Seq("id"), buckets = 2)
    assert(spark.table(tbl).as[(Long, String)].collect().toSet ==
      Set((4L, "v4")))
    assert(!spark.catalog.tableExists(tbl + "__staged"))
    spark.sql(s"DROP TABLE `$tbl`")
  }

  test("connectedComponents labels clusters with their min doc id") {
    // two chains: {1-2, 2-3} and {10-11}; singleton edges only
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val comp = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(comp == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("connectedComponents converges on a long chain") {
    val chain = (1L until 20L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val comp = Dedup.connectedComponents(chain)
      .as[(Long, Long)].collect().toMap
    assert(comp.values.toSet == Set(1L))
    assert(comp.size == 20)
  }

  test("connectedComponents fails loudly when maxIter is too small") {
    // a diameter-9 chain cannot converge in 3 rounds of min-label
    // propagation; returning split clusters silently would make
    // applyClusters keep multiple copies of one near-dup family
    val chain = (1L until 10L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val e = intercept[IllegalStateException] {
      Dedup.connectedComponents(chain, maxIter = 3).collect()
    }
    assert(e.getMessage.contains("maxIter"))
  }
}
