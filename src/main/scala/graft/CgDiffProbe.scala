package graft

/** Diagnostic arbiter: captures the SOURCE of every Janino unit compiled
  * during each run of one query — `CgDiffProbe <name> [runs]` — by
  * raising the CodeGenerator logger to DEBUG and teeing its output per
  * run to `/tmp/cgdiff_run<i>.log`. A unit that compiles on run 2+ is a
  * codegen-cache MISS: its source differs run-to-run; diffing the per-run
  * logs names the varying fragment (r17: the streaming family recompiled
  * ~130 units per bench pass). */
object CgDiffProbe {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("streaming_hourly_counts")
    val runs = if (args.length > 1) args(1).toInt else 3
    val spark = HarnessSession.build()
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val q = SparkEntry.queries
    def compiles = org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME.getCount
    // run once at WARN to absorb first-compiles shared with the session
    q(name)(spark, dir).write.format("noop").mode("overwrite").save()
    SparkEntry.release(spark, name)
    import org.apache.logging.log4j.core.config.Configurator
    import org.apache.logging.log4j.Level
    Configurator.setLevel(
      "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator",
      Level.DEBUG)
    (1 to runs).foreach { i =>
      val c0 = compiles
      q(name)(spark, dir).write.format("noop").mode("overwrite").save()
      SparkEntry.release(spark, name)
      println(s"CGDIFF run $i compiles=${compiles - c0}")
    }
    spark.stop()
  }
}
