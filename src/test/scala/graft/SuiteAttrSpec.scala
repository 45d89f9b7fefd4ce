package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** SuiteAttr's per-query measurement on a small fixture query. */
class SuiteAttrSpec extends SparkSpec {

  private def fixture(): DataFrame = {
    val facts = spark.range(0, 2000).select((col("id") % 17).as("k"), col("id").as("v"))
    val dims = spark.range(0, 17).select(col("id").as("k"), (col("id") * 3).as("w"))
    facts.join(dims, "k").groupBy(col("w")).agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
  }

  test("the phases are the executed write's, and jobs are counted") {
    var built: DataFrame = null
    val r = SuiteAttr.measure(spark, "suite_attr_fixture") { built = fixture(); built }
    val f = r.getOrElse(fail(s"measure failed: $r"))
    assert(f.ana + f.opt + f.plan > 0, f)
    // the write optimizes and plans its own copy of the query: the frame's
    // QueryExecution never ran either phase, so opt= and plan= are the write's
    assert(f.opt + f.plan > 0, f)
    assert(!built.queryExecution.tracker.phases.contains("optimization"))
    assert(!built.queryExecution.tracker.phases.contains("planning"))
    assert(f.jobs >= 1 && f.tasks >= 1, f)
    assert(f.rule != "-" && f.thr > 0, f)
    assert(SuiteAttr.line(1, "suite_attr_fixture", r).contains(" ana="))
  }

  test("a query that throws yields a FAILED line, not an exception") {
    val r = SuiteAttr.measure(spark, "suite_attr_broken")(throw new IllegalStateException("boom"))
    assert(r == Left("boom"))
    assert(SuiteAttr.line(2, "suite_attr_broken", r) == "SATTR 2 suite_attr_broken FAILED boom")
    val read = SuiteAttr.measure(spark, "suite_attr_missing")(
      spark.read.parquet("/nonexistent/graft_attr"))
    assert(read.isLeft)
  }
}
