package graft

/** Deliverable helper: write `.explain("formatted")` for the named
  * queries to `plans/<tag>/<name>_<suffix>.txt` —
  * `PlanDump <tag> <suffix> <name>[,<name>…]`. The committed before/after
  * plan files the optimization rounds cite are generated with this, under
  * the same HarnessSession the bench uses. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val tag = args(0)
    val suffix = args(1)
    val names = args(2).split(",").toSeq
    val spark = HarnessSession.build()
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val q = SparkEntry.queries
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"plans/$tag"))
    names.foreach { name =>
      val df = q(name)(spark, dir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"plans/$tag/${name}_$suffix.txt"), txt)
      println(s"wrote plans/$tag/${name}_$suffix.txt")
      SparkEntry.release(spark, name)
    }
    spark.stop()
  }
}
