package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** GeoMeanUdaf, as the `geomean` SQL function every built session has:
  * value semantics, the skip-nonpositive contract (the oracle query
  * filters value > 0, so this path is pinned here), and buffer
  * mergeability across partitions. */
class GeoMeanUdafSpec extends SparkSpec {

  test("geometric mean of a known set") {
    import spark.implicits._
    Seq(2.0, 8.0).toDF("x").createOrReplaceTempView("gm1")
    val r = spark.sql("SELECT geomean(x) AS g FROM gm1").collect()(0)
    assert(math.abs(r.getDouble(0) - 4.0) < 1e-12)
  }

  test("non-positive inputs are skipped, not poisoning the group") {
    import spark.implicits._
    Seq(2.0, 0.0, -3.0, 8.0).toDF("x").createOrReplaceTempView("gm2")
    val r = spark.sql("SELECT geomean(x) AS g FROM gm2").collect()(0)
    assert(math.abs(r.getDouble(0) - 4.0) < 1e-12,
      "zeros/negatives must be counted out, like SQL aggregates skip NULL")
  }

  test("all-nonpositive group yields NaN; merge across partitions is exact") {
    import spark.implicits._
    Seq(0.0, -1.0).toDF("x").createOrReplaceTempView("gm3")
    assert(spark.sql("SELECT geomean(x) FROM gm3")
      .collect()(0).getDouble(0).isNaN)
    // same values, 1 vs 8 partitions: identical result (mergeable buffer)
    val vals = (1 to 64).map(_.toDouble)
    val one = vals.toDF("x").coalesce(1)
      .agg(expr("geomean(x)")).collect()(0).getDouble(0)
    val eight = vals.toDF("x").repartition(8)
      .agg(expr("geomean(x)")).collect()(0).getDouble(0)
    assert(math.abs(one - eight) < 1e-9)
  }
}
