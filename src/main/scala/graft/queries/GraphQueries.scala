package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.Sources
import graft.ops.Scratch

/** Graph-shape analytics over the co-purchase graph (parts linked when
  * ordered together in ≥ 2 orders — the `g_copurchase_pairs` edge set):
  * triangle counting, the classic "can your join engine do graphs"
  * benchmark and the basis of clustering-coefficient / community
  * features.
  */
object GraphQueries extends QueryGroup {

  /** Canonical co-purchase edge build: part pairs (p1 < p2) co-ordered in
    * ≥ 2 orders. One shuffle builds sorted per-order baskets, pair
    * expansion is a narrow codegen'd HOF bounded by C(basket, 2), and the
    * pair count is map-side combinable (no `distinct` pre-pass:
    * `collect_set` dedups inside the aggregate, saving a shuffle). This is
    * the ONE edge table THREE queries consume — `g_copurchase_pairs` (the
    * counted pairs ARE its answer), `g_triangle_count`, and
    * `g_pagerank_int` — each of which previously re-ran the build. */
  private[queries] def edgePairs(s: SparkSession, dir: String): DataFrame =
    Sources.table(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"))
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_set(col("l_partkey"))).as("parts"))
      .select(explode(expr(
        """flatten(transform(parts, (x, i) ->
          |  transform(slice(parts, i + 2, size(parts)), y ->
          |    struct(x AS p1, y AS p2))))""".stripMargin)).as("pr"))
      .groupBy(col("pr.p1").as("p1"), col("pr.p2").as("p2"))
      .agg(count(lit(1)).as("n_orders"))
      .filter(col("n_orders") >= 2)

  // Cross-query edge-table memo, the warmShared/sharedClusters lifecycle:
  // long-lived runners (Verify/Bench) opt in via [[warmEdges]], after
  // which the first consumer's action materializes ONE lazily
  // localCheckpoint'ed edge table (at 100 TB: the graph staged to parquet
  // once, every graph analytic reading it) and the other two consumers
  // reuse its blocks instead of re-running the fact-table build. Unwarmed
  // sessions (plan-shape specs, single-query use) keep today's pure
  // per-query plans — CacheManager can't dedupe this for us because the
  // pair-explode lambdas canonicalize differently per instantiation (the
  // same reason the per-query localCheckpoints exist, see triangleCount).
  // Scratch.releaseRun drops the reference; the ContextCleaner reclaims
  // the checkpoint blocks once it is unreferenced.
  private val edgesMemo = new Scratch.Memo[DataFrame](_ => ())

  def warmEdges(s: SparkSession, dir: String): Unit =
    edgesMemo(s, dir)(edgePairs(s, dir).localCheckpoint(false))

  /** The shared edge table when warmed; otherwise a fresh build —
    * checkpointed only when the caller has multiple consumers. */
  private[queries] def sharedEdges(s: SparkSession, dir: String,
      checkpointFallback: Boolean): DataFrame =
    edgesMemo.get(s, dir).getOrElse {
      val e = edgePairs(s, dir)
      if (checkpointFallback) e.localCheckpoint(false) else e
    }

  /** Per-node triangle participation counts, by degree-ordered edge
    * orientation (the node-iterator++ algorithm of Schank & Wagner 2005 /
    * Suri & Vassilvitskii 2011 for MapReduce).
    *
    * Why not the naive three-way self-join the oracle runs: its wedge
    * step fans out quadratically at hub nodes (a node of degree d spawns
    * d² wedge candidates). Orienting every edge from its lower-(degree,
    * id) endpoint to the higher one makes each triangle countable exactly
    * once at its minimum vertex, and bounds every node's out-degree by
    * O(√|E|) — the wedge join's fan-out becomes Σ outdeg² ≤ |E|^1.5
    * instead of Σ deg², which is the difference between a night and a
    * no-show at 100 TB edge scale. The orientation changes only the
    * intermediate sizes, never the triangle set, so the id-ordered oracle
    * hash-matches.
    *
    * Shape: one shuffle builds edges, one small aggregate builds degrees
    * (broadcast back onto edges), the wedge join and the closing join
    * both shuffle on edge keys; the closing join's probe side is the
    * (bounded) wedge set.
    *
    * The edge set is lazily localCheckpoint'ed (shared across the three
    * graph queries when the runner warmed it — see [[edgePairs]]): its
    * build (per-order collect_set → pair explode → ≥2-order filter, two
    * full shuffles over the fact table) feeds FOUR consumers here alone
    * (degrees + both wedge sides + the closing probe), and exchange reuse
    * cannot unify the rebuilds — the `transform` lambda subtrees
    * canonicalize to different forms per instantiation, so even AQE's
    * runtime stage reuse (which does dedupe the lambda-free stages)
    * leaves the fact scan + basket-explode pipeline running once per
    * consumer (measured on the sibling pagerank shape: 15 lineitem scans
    * survive in the executed adaptive plan alongside 11 reused stages).
    * One materialization of the small edge table replaces all rebuilds;
    * the blocks are reference-tracked and reclaimed by the ContextCleaner
    * (the multimodalNearDup precedent). */
  private def triangleCount(s: SparkSession, dir: String): DataFrame = {
    // Undirected edge set, canonical p1 < p2 — same as g_copurchase_pairs.
    val edges = sharedEdges(s, dir, checkpointFallback = true)
      .select(col("p1"), col("p2"))
    val deg = edges.select(col("p1").as("node"))
      .unionAll(edges.select(col("p2").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    // Orient each edge from the lower (deg, id) endpoint to the higher;
    // carry the destination's order key for the wedge comparison.
    val e = edges
      .join(broadcast(deg).withColumnRenamed("node", "p1")
        .withColumnRenamed("deg", "d1"), Seq("p1"))
      .join(broadcast(deg).withColumnRenamed("node", "p2")
        .withColumnRenamed("deg", "d2"), Seq("p2"))
      .select(
        when(struct(col("d1"), col("p1")) < struct(col("d2"), col("p2")),
          struct(col("p1").as("id"), col("d1").as("deg")))
          .otherwise(struct(col("p2").as("id"), col("d2").as("deg")))
          .as("src"),
        when(struct(col("d1"), col("p1")) < struct(col("d2"), col("p2")),
          struct(col("p2").as("id"), col("d2").as("deg")))
          .otherwise(struct(col("p1").as("id"), col("d1").as("deg")))
          .as("dst"))
      // consumed three times (both wedge sides + the closing probe);
      // one materialization of the oriented edges replaces three
      // re-joins against the degree table
      .localCheckpoint(false)
    // Wedges at the minimum vertex: two out-edges a→b, a→c with b < c in
    // the same (deg, id) order; the triangle closes iff b→c is an edge.
    val e1 = e.select(col("src").as("a"), col("dst").as("b"))
    val e2 = e.select(col("src").as("a2"), col("dst").as("c"))
    val close = e.select(col("src.id").as("bi"), col("dst.id").as("ci"))
    val tri = e1
      .join(e2, col("a") === col("a2") &&
        struct(col("b.deg"), col("b.id")) < struct(col("c.deg"), col("c.id")))
      .join(close, col("b.id") === col("bi") && col("c.id") === col("ci"))
      .select(col("a.id").as("na"), col("b.id").as("nb"), col("c.id").as("nc"))
    tri.select(explode(array(col("na"), col("nb"), col("nc"))).as("p_partkey"))
      .groupBy(col("p_partkey"))
      .agg(count(lit(1)).as("n_triangles"))
      .orderBy(col("n_triangles").desc, col("p_partkey").asc)
  }

  private val triangleOracle: String =
    """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |e AS (SELECT a.l_partkey AS p1, b.l_partkey AS p2
      |      FROM li a JOIN li b
      |        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |      GROUP BY 1, 2 HAVING COUNT(*) >= 2),
      |t AS (SELECT e1.p1 AS a, e1.p2 AS b, e2.p2 AS c
      |      FROM e e1
      |      JOIN e e2 ON e1.p2 = e2.p1
      |      JOIN e e3 ON e3.p1 = e1.p1 AND e3.p2 = e2.p2),
      |n AS (SELECT a AS node FROM t
      |      UNION ALL SELECT b FROM t
      |      UNION ALL SELECT c FROM t)
      |SELECT node AS p_partkey, CAST(COUNT(*) AS BIGINT) AS n_triangles
      |FROM n GROUP BY node
      |ORDER BY n_triangles DESC, p_partkey ASC""".stripMargin

  /** Three PageRank iterations over the UNIPARTITE co-purchase graph —
    * loop-structured in Spark (adding rounds changes no per-round plan),
    * unrolled in the oracle. Complements `g_rank_propagation`
    * (RelationalQueries), which pushes rank across the BIPARTITE
    * customer↔supplier graph without per-round damping normalization.
    * Ranks live in INTEGER parts-per-million (r₀ = 10⁶ per
    * node), each step is r' = 150 000 + (850 000 · Σ ⌊r(u)/deg(u)⌋) / 10⁶
    * with floor division throughout — every intermediate is an exact
    * BIGINT, so Spark and the SQL oracle agree bit-for-bit with no float
    * tolerance, unlike double-valued PageRank whose sum order is
    * engine-dependent. (The quantization error vs. real PageRank is
    * ≤ 1 ppm per edge per step — irrelevant for ranking.)
    *
    * Scale shape: the degree table joins onto edges ONCE; each iteration
    * is contributions (narrow) → one shuffle on dst → join back to the
    * rank table on the same key — the same partitioning reused every
    * round, which is the property that makes iterated graph algorithms
    * survive on a cluster. Symmetric edges mean no dangling mass.
    *
    * Both the canonical edge set (shared across the three graph queries
    * when the runner warmed it — see [[edgePairs]]) and the
    * degree-annotated directed edges are lazily localCheckpoint'ed: the
    * unrolled 3-iteration plan references them from every round, and
    * exchange reuse cannot unify the rebuilds — the pair-explode lambdas
    * canonicalize differently per instantiation, so even AQE's runtime
    * stage reuse leaves the fact scan + basket explode running once per
    * reference (measured: the un-checkpointed adaptive plan executes 15
    * lineitem scans with 11 reused stages, 9.6 s; checkpointed, 2.8 s
    * cold in the same full-suite record). Materializing the edge tables
    * once is exactly what GraphX's Pregel loop does with its cached edge
    * RDD; blocks are ContextCleaner-reclaimed when the frames go out of
    * scope. */
  private def pagerankInt(s: SparkSession, dir: String): DataFrame = {
    val und = sharedEdges(s, dir, checkpointFallback = true)
    // symmetric directed edges; out-degree = undirected degree
    val edges = und.select(col("p1").as("src"), col("p2").as("dst"))
      .unionAll(und.select(col("p2").as("src"), col("p1").as("dst")))
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val withDeg = edges.join(deg, Seq("src")).localCheckpoint(false)
    var rank = deg.select(col("src").as("node"), lit(1000000L).as("r"))
    for (_ <- 1 to 3) {
      val contrib = withDeg
        .join(rank, col("src") === col("node"))
        .select(col("dst"), expr("r div deg").as("c")) // integer floor div
        .groupBy(col("dst"))
        .agg(sum(col("c")).as("in_sum"))
      rank = contrib.select(col("dst").as("node"),
        (lit(150000L) + expr("(850000 * in_sum) div 1000000"))
          .cast("long").as("r"))
    }
    rank.select(col("node").as("p_partkey"), col("r").as("rank_ppm"))
      .orderBy(col("rank_ppm").desc, col("p_partkey").asc)
  }

  private val pagerankOracle: String =
    """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |u AS (SELECT a.l_partkey AS p1, b.l_partkey AS p2
      |      FROM li a JOIN li b
      |        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |      GROUP BY 1, 2 HAVING COUNT(*) >= 2),
      |e AS (SELECT p1 AS src, p2 AS dst FROM u
      |      UNION ALL SELECT p2, p1 FROM u),
      |d AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg
      |      FROM e GROUP BY src),
      |r0 AS (SELECT src AS node, CAST(1000000 AS BIGINT) AS r FROM d),
      |r1 AS (SELECT e.dst AS node,
      |         150000 + (850000 * SUM(r.r // d.deg)) // 1000000 AS r
      |       FROM e JOIN d USING (src) JOIN r0 r ON r.node = e.src
      |       GROUP BY e.dst),
      |r2 AS (SELECT e.dst AS node,
      |         150000 + (850000 * SUM(r.r // d.deg)) // 1000000 AS r
      |       FROM e JOIN d USING (src) JOIN r1 r ON r.node = e.src
      |       GROUP BY e.dst),
      |r3 AS (SELECT e.dst AS node,
      |         150000 + (850000 * SUM(r.r // d.deg)) // 1000000 AS r
      |       FROM e JOIN d USING (src) JOIN r2 r ON r.node = e.src
      |       GROUP BY e.dst)
      |SELECT node AS p_partkey, CAST(r AS BIGINT) AS rank_ppm
      |FROM r3 ORDER BY rank_ppm DESC, p_partkey ASC""".stripMargin

  override val defs: Seq[QueryDef] = Seq(
    QueryDef("g_triangle_count", triangleCount, Some(triangleOracle)),
    QueryDef("g_pagerank_int", pagerankInt, Some(pagerankOracle)),
  )
}
