package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.etl.{Enrich, GenreKpis, HourlyKpis}
import graft.io.Sources
import graft.ops.Scratch

/** Core parity queries on the driver testdata, mapped per SURVEY §5.2:
  * `events` plays streams (ts→listen_time, event_type→track key), `customer`
  * plays the songs/users dimension (c_mktsegment→genre, c_acctbal→popularity,
  * c_name→artist). The dimension is pre-filtered (c_acctbal > 5000) so some
  * stream rows genuinely miss — exercising the left-join + null-key-drop path
  * the reference relies on (SURVEY §1.3, F4).
  */
object CoreQueries extends QueryGroup {

  private val dec = DecimalType(18, 2)

  /** Exact mean of a 2-dp fixed-point column: decimal sum → double / count.
    * Bitwise equal to DuckDB's CAST(SUM(CAST(x AS DECIMAL(18,2))) AS
    * DOUBLE)/COUNT(x). Shared with OperatorQueries.j2Join, whose result
    * must stay bitwise-equal to the fused genre_kpis. */
  private[queries] def exactAvg(c: String) =
    sum(col(c).cast(dec)).cast("double") / count(col(c))

  private def exactSum(c: String) = sum(col(c).cast(dec)).cast("double")

  /** The shared enriched-events frame (P4/P5 + J1 + dim prefilter), built
    * pure — scan + broadcast join + derivations. Queries stay declarative;
    * [[warmShared]] turns the repeated subplan into a cache hit. */
  def enrichedEvents(s: SparkSession, dir: String): DataFrame =
    Enrich.withDateHour(
      Enrich.leftEnrich(Sources.table(s, dir, "events"),
        Enrich.dimUsers(s, dir), "user_id"), "ts")

  // ~20 named queries start from the enriched frame; like the reference's
  // one-materialization-many-validations shape (and RollupQueries.kpiCache),
  // a session that will run MANY queries persists it once — Spark's
  // CacheManager then substitutes the in-memory relation into every later
  // query whose subplan matches (no query code changes, results unchanged).
  // Explicitly opt-in (SparkEntry.warm calls it): plan-shape tests and
  // single-query sessions keep the pure scan+join plan. Queries never read
  // this memo; it only owns the persist, which Scratch.releaseRun undoes.
  private val warmed = new Scratch.Memo[DataFrame](_.unpersist())

  /** Persist the shared enriched frame for this (session, sfDir), until
    * [[Scratch.releaseRun]]. */
  def warmShared(s: SparkSession, dir: String): Unit =
    warmed(s, dir)(enrichedEvents(s, dir).persist())

  /** DuckDB twin of [[enrichedEvents]]. */
  val enrichedSql: String =
    """WITH enriched AS (
      |  SELECT e.event_id, e.user_id, e.event_type, e.value,
      |         CAST(e.ts AS DATE) AS date,
      |         CAST(EXTRACT(hour FROM e.ts) AS INTEGER) AS hour,
      |         c.c_name, c.c_mktsegment, c.c_acctbal
      |  FROM events e
      |  LEFT JOIN (SELECT c_custkey, c_name, c_mktsegment, c_acctbal
      |             FROM customer WHERE c_acctbal > 5000) c
      |    ON e.user_id = c.c_custkey)
      |""".stripMargin

  /** Shared with [[OperatorQueries]]: the isolated-operator queries must
    * verify against oracles built on the SAME column mapping as the fused
    * flagships, so there is exactly one copy. */
  private[queries] val genreCols = GenreKpis.Cols(date = "date",
    genre = "c_mktsegment", track = "event_type", duration = "value",
    popularity = "c_acctbal", rowId = "event_id")
  private[queries] val hourlyCols = HourlyKpis.Cols(date = "date",
    hour = "hour", user = "user_id", track = "event_type", artist = "c_name")

  /** Flagship: daily genre KPIs, fused single-shuffle plan (A1-A4 + W1). */
  def genreKpis(s: SparkSession, dir: String): DataFrame =
    GenreKpis.compute(enrichedEvents(s, dir), genreCols, mean = exactAvg)
      .select(col("date").cast("string").as("date"),
        col("c_mktsegment").as("track_genre"),
        col("listen_count"), col("avg_duration_ms"), col("popularity_index"),
        col("most_popular_track"), col("most_popular_track_popularity"))
      .orderBy("date", "track_genre")

  /** CTE chain ending in a `genre_kpis` relation — reused by the rollup
    * oracles (Documentation.pdf validation queries run ON the KPI table). */
  val genreKpisCtes: String = enrichedSql +
    """, f AS (SELECT * FROM enriched
      |        WHERE c_mktsegment IS NOT NULL AND date IS NOT NULL),
      |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY date, c_mktsegment
      |        ORDER BY c_acctbal DESC NULLS LAST, event_type ASC NULLS LAST,
      |                 event_id ASC) AS rn
      |      FROM f),
      |genre_kpis AS (
      |  SELECT CAST(date AS VARCHAR) AS date, c_mktsegment AS track_genre,
      |         COUNT(event_id) AS listen_count,
      |         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
      |           / COUNT(value) AS avg_duration_ms,
      |         CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
      |           / COUNT(c_acctbal) AS popularity_index,
      |         MAX(CASE WHEN rn = 1 THEN event_type END) AS most_popular_track,
      |         MAX(CASE WHEN rn = 1 THEN CAST(c_acctbal AS DOUBLE) END)
      |           AS most_popular_track_popularity
      |  FROM r GROUP BY 1, 2)
      |""".stripMargin

  private val genreKpisOracle: String =
    genreKpisCtes + "SELECT * FROM genre_kpis ORDER BY date, track_genre"

  /** Hourly KPIs (A5-A8 + P3 + W2 + J3). */
  def hourlyKpis(s: SparkSession, dir: String): DataFrame =
    HourlyKpis.compute(enrichedEvents(s, dir), hourlyCols)
      .withColumn("date", col("date").cast("string"))
      .orderBy("date", "hour")

  /** Preferred plan: same hourly table from ONE fact scan (shared
    * pre-aggregation + exchange reuse; see HourlyKpis.computeFused). Checked
    * against the SAME oracle as the join formulation — the rewrite is
    * physical only. */
  def hourlyKpisFused(s: SparkSession, dir: String): DataFrame =
    HourlyKpis.computeFused(enrichedEvents(s, dir), hourlyCols)
      .withColumn("date", col("date").cast("string"))
      .orderBy("date", "hour")


  /** CTE chain ending in an `hourly_kpis` relation (see [[genreKpisCtes]]). */
  val hourlyKpisCtes: String = enrichedSql +
    """, hf AS (SELECT * FROM enriched WHERE date IS NOT NULL),
      |agg AS (SELECT date, hour,
      |          COUNT(DISTINCT user_id) AS unique_listeners,
      |          COUNT(event_type) AS total_plays,
      |          COUNT(DISTINCT event_type) AS unique_tracks
      |        FROM hf GROUP BY 1, 2),
      |pc AS (SELECT date, hour, c_name, COUNT(event_type) AS play_count
      |       FROM hf WHERE c_name IS NOT NULL GROUP BY 1, 2, 3),
      |top AS (SELECT date, hour, c_name AS top_artist FROM
      |          (SELECT *, ROW_NUMBER() OVER (PARTITION BY date, hour
      |             ORDER BY play_count DESC, c_name ASC) AS rn FROM pc)
      |        WHERE rn = 1),
      |hourly_kpis AS (
      |  SELECT CAST(a.date AS VARCHAR) AS date, a.hour, a.unique_listeners,
      |         t.top_artist,
      |         CAST(a.unique_tracks AS DOUBLE) / a.total_plays
      |           AS track_diversity_index
      |  FROM agg a LEFT JOIN top t ON a.date = t.date AND a.hour = t.hour)
      |""".stripMargin

  private val hourlyKpisOracle: String =
    hourlyKpisCtes + "SELECT * FROM hourly_kpis ORDER BY date, hour"

  /** TPC-H Q3-shaped headline join: filtered dimension broadcast, fact
    * shuffle join on the natural key, decimal-exact revenue, bounded
    * top-10 — the canonical 3-table join profile at bench scale. */
  private def q3Join(s: SparkSession, dir: String): DataFrame = {
    val cust = Sources.table(s, dir, "customer")
      .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
    val ord = Sources.table(s, dir, "orders")
      .filter(col("o_orderdate").cast("date") < lit("1995-03-15"))
      .select(col("o_orderkey"), col("o_custkey"),
        col("o_orderdate").cast("date").as("od"))
    val li = Sources.table(s, dir, "lineitem")
      .filter(col("l_shipdate").cast("date") > lit("1995-03-15"))
      .select(col("l_orderkey"),
        (col("l_extendedprice").cast("decimal(12,2)") *
          (lit(1) - col("l_discount")).cast("decimal(4,2)")).as("rev"))
    ord.join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(li, col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("l_orderkey"), col("od"))
      .agg(sum(col("rev")).cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("od").asc, col("l_orderkey").asc)
      .limit(10)
      .select(col("l_orderkey"), col("revenue"),
        col("od").cast("string").as("o_orderdate"))
  }

  private val q3JoinOracle: String =
    """SELECT l_orderkey,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
      |           CAST(1 - l_discount AS DECIMAL(4,2))) AS DOUBLE)
      |    AS revenue,
      |  CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS o_orderdate
      |FROM customer
      |JOIN orders   ON c_custkey = o_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND CAST(o_orderdate AS DATE) < DATE '1995-03-15'
      |  AND CAST(l_shipdate AS DATE) > DATE '1995-03-15'
      |GROUP BY l_orderkey, CAST(o_orderdate AS DATE)
      |ORDER BY revenue DESC, CAST(o_orderdate AS DATE) ASC, l_orderkey ASC
      |LIMIT 10""".stripMargin

  /** TPC-H Q1-shaped headline aggregate over lineitem (A1-A3/A9 analog at
    * bench scale; exact decimal arithmetic end-to-end). */
  private def q1Agg(s: SparkSession, dir: String): DataFrame =
    Sources.table(s, dir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        exactSum("l_quantity").as("sum_qty"),
        exactSum("l_extendedprice").as("sum_base_price"),
        sum(col("l_extendedprice").cast(dec) *
          (lit(1).cast(dec) - col("l_discount").cast(dec))).cast("double")
          .as("sum_disc_price"),
        exactAvg("l_quantity").as("avg_qty"),
        exactAvg("l_extendedprice").as("avg_price"),
        exactAvg("l_discount").as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  private val q1AggOracle: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
      |    AS sum_base_price,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
      |           (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
      |       AS DOUBLE) AS sum_disc_price,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
      |    / COUNT(l_quantity) AS avg_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
      |    / COUNT(l_extendedprice) AS avg_price,
      |  CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE)
      |    / COUNT(l_discount) AS avg_disc,
      |  COUNT(*) AS count_order
      |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** S4 — plain scan + projection with explicit column pruning. */
  private def s4Scan(s: SparkSession, dir: String): DataFrame =
    Sources.table(s, dir, "nation")
      .select("n_nationkey", "n_name", "n_regionkey")
      .orderBy("n_nationkey")

  /** J1 — the enrich join itself, row-level output. */
  private def j1Join(s: SparkSession, dir: String): DataFrame =
    enrichedEvents(s, dir)
      .select("event_id", "event_type", "value", "c_mktsegment", "c_acctbal")
      .orderBy("event_id")

  /** F5 — row count. */
  private def f5Count(s: SparkSession, dir: String): DataFrame =
    Sources.table(s, dir, "events").agg(count(lit(1)).as("n"))

  override val defs: Seq[QueryDef] = Seq(
    QueryDef("genre_kpis", genreKpis, Some(genreKpisOracle)),
    QueryDef("hourly_kpis", hourlyKpis, Some(hourlyKpisOracle)),
    QueryDef("hourly_kpis_fused", hourlyKpisFused, Some(hourlyKpisOracle)),
    QueryDef("q1_agg", q1Agg, Some(q1AggOracle)),
    QueryDef("q3_join", q3Join, Some(q3JoinOracle)),
    QueryDef("s4_scan_project", s4Scan, Some(
      "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY 1")),
    QueryDef("j1_left_join_enrich", j1Join, Some(enrichedSql +
      """SELECT event_id, event_type, value, c_mktsegment, c_acctbal
        |FROM enriched ORDER BY event_id""".stripMargin)),
    QueryDef("f5_row_count", f5Count,
      Some("SELECT COUNT(*) AS n FROM events")),
  )
}
