package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Algorithm-vs-definition parity for the round's new operators, on real
  * sf0.001 data: the degree-ordered triangle count must equal the naive
  * id-ordered enumeration, and the sort-sweep skyline must equal the
  * NOT-EXISTS dominance definition — both checked inside Spark, so the
  * DuckDB oracle is the SECOND independent check, not the only one.
  */
class GraphSkylineSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("degree-ordered triangles == naive id-ordered enumeration") {
    val fast = GraphQueries.defs.find(_.name == "g_triangle_count").get
      .fn(spark, dir)
    // naive: canonical a<b<c three-way self-join on the same edge set
    val edges = Sources(dir).groupBy(col("l_orderkey"))
      .agg(sort_array(collect_set(col("l_partkey"))).as("parts"))
      .select(explode(expr(
        """flatten(transform(parts, (x, i) ->
          |  transform(slice(parts, i + 2, size(parts)), y ->
          |    struct(x AS p1, y AS p2))))""".stripMargin)).as("pr"))
      .groupBy(col("pr.p1").as("p1"), col("pr.p2").as("p2"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") >= 2)
      .select("p1", "p2")
    val e1 = edges.select(col("p1").as("a"), col("p2").as("b"))
    val e2 = edges.select(col("p1").as("b2"), col("p2").as("c"))
    val e3 = edges.select(col("p1").as("a3"), col("p2").as("c3"))
    val naive = e1
      .join(e2, col("b") === col("b2"))
      .join(e3, col("a") === col("a3") && col("c") === col("c3"))
      .select(explode(array(col("a"), col("b"), col("c"))).as("p_partkey"))
      .groupBy("p_partkey").agg(count(lit(1)).as("n_triangles"))
    assert(fast.count() > 0, "no triangles at sf0.001 — fixture too sparse")
    assert(fast.exceptAll(naive).isEmpty && naive.exceptAll(fast).isEmpty,
      "degree-ordered and naive triangle counts disagree")
  }

  private def Sources(dir: String) =
    graft.io.Sources.table(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey")).distinct()

  test("warmed shared edge table == unwarmed per-query builds") {
    // the three co-purchase-graph consumers must return identical rows
    // whether each builds its own edge table (unwarmed: plan-shape specs,
    // single-query sessions) or all three read the one warmed
    // materialization (Verify/Bench runners)
    val fns = Seq(
      GraphQueries.defs.find(_.name == "g_triangle_count").get.fn,
      GraphQueries.defs.find(_.name == "g_pagerank_int").get.fn,
      AnalyticsQueries.defs.find(_.name == "g_copurchase_pairs").get.fn)
    val unwarmed = fns.map(f => f(spark, dir).collect().toSeq)
    GraphQueries.warmEdges(spark, dir)
    try {
      val warmed = fns.map(f => f(spark, dir).collect().toSeq)
      unwarmed.zip(warmed).zipWithIndex.foreach { case ((u, w), i) =>
        assert(u == w, s"consumer $i disagrees warmed vs unwarmed")
      }
    } finally graft.ops.Scratch.releaseRun(spark)
  }

  test("sort-sweep skyline == NOT-EXISTS dominance definition") {
    val sweep = AnalyticsQueries.defs.find(_.name == "t_skyline_pareto").get
      .fn(spark, dir)
    val pts = graft.io.Sources.table(spark, dir, "part")
      .filter(col("p_retailprice").isNotNull && col("p_size").isNotNull)
      .select(col("p_partkey"), col("p_retailprice").as("price"),
        col("p_size").as("size"))
    val dom = pts.select(col("price").as("qp"), col("size").as("qs"))
    val brute = pts.join(dom,
        col("qp") <= col("price") && col("qs") >= col("size") &&
          (col("qp") < col("price") || col("qs") > col("size")),
        "left_anti")
    assert(sweep.count() > 0, "empty skyline — fixture degenerate")
    assert(sweep.exceptAll(brute).isEmpty && brute.exceptAll(sweep).isEmpty,
      "sweep skyline and NOT-EXISTS skyline disagree")
  }

  test("prefix-filtered set-similarity join == brute-force all-pairs") {
    import spark.implicits._
    val docs = graft.io.Sources.table(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    val fast = graft.ext.Dedup.setSimilarityPairs(docs, t100 = 95)
    // brute force: all pairs, exact integer Jaccard check — the definition
    val sets = docs.select(col("doc_id"),
      array_distinct(filter(split(col("text"), " "), t => length(t) > 0))
        .as("toks"))
    val brute = sets.select(col("doc_id").as("doc_a"), col("toks").as("ta"))
      .crossJoin(sets.select(col("doc_id").as("doc_b"), col("toks").as("tb")))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("ta"), col("tb"))).cast("long").as("inter"),
        size(array_union(col("ta"), col("tb"))).cast("long").as("uni"))
      .filter(col("inter") * 100 >= col("uni") * 95)
    assert(fast.count() > 0, "no set-similar pairs at sf0.001")
    assert(fast.exceptAll(brute).isEmpty && brute.exceptAll(fast).isEmpty,
      "prefix filter dropped or invented pairs — it must be lossless")
  }

  test("integer PageRank: mass stays bounded and hubs outrank leaves") {
    val pr = GraphQueries.defs.find(_.name == "g_pagerank_int").get
      .fn(spark, dir).collect()
    assert(pr.nonEmpty, "empty PageRank at sf0.001")
    val ranks = pr.map(_.getLong(1))
    // floor division only ever LOSES mass: mean rank ≤ 10⁶ ppm, and the
    // damping floor keeps every rank ≥ 150 000 ppm
    assert(ranks.forall(_ >= 150000L), "rank below the damping floor")
    assert(ranks.sum <= ranks.length * 1000000L,
      "integer PageRank created mass — floor division must only lose it")
    assert(ranks.max > ranks.min, "degenerate rank vector")
  }

  test("SNM pairs surface exact-prefix duplicates and respect the window") {
    val pairs = ExtensionQueries.defs.find(_.name == "dedup_snm_pairs").get
      .fn(spark, dir).collect()
    assert(pairs.nonEmpty, "no SNM candidates at sf0.001")
    // each doc_a may pair with at most `window` successors
    val byA = pairs.groupBy(_.getLong(0)).view.mapValues(_.length)
    assert(byA.values.forall(_ <= 2), "doc paired beyond the SNM window")
    // dist==0 pairs are genuine shared-40-char-prefix duplicates
    val zero = pairs.filter(_.getInt(2) == 0)
    assert(zero.nonEmpty, "expected injected near-dups to collide on prefix")
  }
}
