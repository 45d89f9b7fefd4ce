package graft


/** Single-query timing harness: `BenchOne <name>[,<name>…] [passes]` times
  * the named SparkEntry queries for `passes` consecutive passes in one
  * session — the tool for warm-vs-cold anomalies (a warm pass slower than
  * cold means a cache lifecycle bug, not a plan bug). Prints per-pass
  * seconds and, for each pass, whether the plan hit an InMemoryTableScan. */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").toSeq
    val passes = if (args.length > 1) args(1).toInt else 2
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = HarnessSession.build()
    val qs = SparkEntry.queries
    (1 to passes).foreach { p =>
      names.foreach { name =>
        val t0 = System.nanoTime()
        val df = qs(name)(spark, sfDir)
        df.write.format("noop").mode("overwrite").save()
        val sec = (System.nanoTime() - t0) / 1e9
        val cached = df.queryExecution.executedPlan.toString
          .contains("InMemoryTableScan")
        println(f"pass $p $name%-28s $sec%7.2fs cachedScan=$cached")
        // same release as Bench/Verify: without it later passes slow down
        // and this arbiter would misread its OWN accumulation as the
        // arbitrated query's regression
        SparkEntry.release(spark, name)
      }
    }
    spark.stop()
  }
}
