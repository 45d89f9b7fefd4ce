// Regenerates PLANS.md — run via tools/dump_plans.sh
// spark-shell's own session has none of graft's rules, SQL functions or
// confs until this runs (pipeline_pretrain fails to codegen without them)
graft.HarnessSession.install(spark)
import java.nio.file.{Files, Paths}
val dir = "/root/testdata/sf0.1"
val names = Seq("genre_kpis", "hourly_kpis", "hourly_kpis_fused", "q1_agg",
  "dedup_minhash_pairs", "sim_bruteforce_topk", "w2_top_artist",
  "j_asof_prev_order", "j_range_ship_window",
  "q5_star_join", "etl_merge_apply", "q_subqueries", "j_lateral_top2",
  "etl_scd2_build", "pipeline_pretrain",
  "sim_sparse_cosine", "text_bigram_surprisal",
  "dedup_setsim_pairs", "sim_sq8_topk", "t_max_concurrency",
  "dedup_incremental",
  "pca_project", "sim_ivf_trained_topk", "pipeline_incremental_ingest_emb",
  "text_bm25_topk", "o_prefix_sum", "o_hilbert_key", "etl_incremental_join",
  "text_ccnet_buckets",
  "dedup_semantic", "f_dsir_weights", "q21_supp_wait", "q17_small_qty",
  "g_pagerank_int", "multimodal_neardup_px")
val sb = new StringBuilder
sb.append("# PLANS — physical plans of headline queries (sf0.1, local[8], spark.sql.shuffle.partitions=32 — tools/dump_plans.sh's spark-shell recipe)\n\n")
sb.append("Generated by tools/dump_plans.sh via .explain(\"formatted\"); the\n")
sb.append("plan properties asserted in PlanSpec are visible here: broadcast\n")
sb.append("dimension joins with pushed filters, pruned scans, fused window+agg\n")
sb.append("exchanges, WindowGroupLimit pushdown, the as-of join's single\n")
sb.append("exchange (no Join node), and the fused hourly shared stage.\n")
// Hand-written analysis notes, keyed by query name, emitted with the
// plan so regeneration never loses them.
val notes: Map[String, String] = Map(
  "genre_kpis" ->
    """**The argmax is max-then-tiebreak, never a fact window** (round 7).
      |Branch one is the codegen hash aggregate computing A1-A3 plus
      |max(popularity) with map-side partials; branch two re-scans the
      |pruned fact and BroadcastHashJoins the per-group maxima with a
      |null-safe popularity match (note the normalizenanandzero'd join
      |key), so only max-tied rows reach the small struct-min
      |SortAggregate that resolves (track ASC, rowId ASC) ties. No fact
      |row is ever shuffled or window-sorted: every hash exchange in this
      |plan is at group grain. Measured at 100 M rows this halves the
      |query vs the window formulation (19.4 s → 6.6 s warm) and lands
      |ahead of DuckDB (9.6 s) on the same box. The rejected middle path — a
      |one-pass min(orderable struct) — planned as SortAggregate (Spark
      |cannot hash-aggregate var-length buffers) and dragged the decimal
      |sums into sort mode with it; PlanSpec pins hash-mode partials, the
      |absence of a Window node, and the broadcast tie-break.""".stripMargin,
  "g_pagerank_int" ->
    """**Iterated graph rounds over one edge materialization.** The plan below
      |reads `Scan ExistingRDD` where the co-purchase edge build (per-order
      |basket collect → pair explode → ≥2-order filter; built in
      |GraphQueries.edgePairs and ALSO the edge table of g_copurchase_pairs
      |and g_triangle_count — a warmed Verify/Bench runner materializes it
      |once for all three) used to be: the edge set and its degree-annotated
      |form are lazily localCheckpoint'ed, so the unrolled 3-iteration plan
      |consumes ONE materialization instead of rebuilding the two-shuffle
      |pipeline from parquet per round. Exchange reuse cannot do this for us — the basket
      |explode's `transform` lambdas canonicalize differently per
      |instantiation, so even AQE's runtime stage reuse left 15 lineitem
      |scans in the executed adaptive plan (9.6 s; checkpointed: 2.8 s cold
      |at sf0.1). This is the GraphX-Pregel cached-edge-RDD pattern expressed
      |on DataFrames; each iteration that remains is contributions → one
      |dst-keyed exchange → rank update, the per-round shape that survives a
      |1000-executor scale-up. PlanSpec pins the zero-parquet-rebuild shape.""".stripMargin,
  "hourly_kpis_fused" ->
    """**Why this query benches ~9× slower than `hourly_kpis` at sf0.1 and is
      |still the plan you want at 100 TB.** The join-formulation twin starts
      |from the warmShared CACHED enriched frame, so each of its two branches
      |(hourly aggregate, top-artist window) reads cheap in-memory blocks — two
      |reads of a toy-sized cache beat everything else. The fused plan instead
      |derives both branches from ONE (date, hour, artist, user, track)
      |pre-aggregation whose partial-agg→exchange subtree is executed once and
      |reused (the `ReusedExchange`/shared-stage property PlanSpec asserts);
      |that buys "one scan + one combined shuffle instead of two full scans" —
      |but the pre-aggregation is a WIDE exchange keyed on five columns, and at
      |toy scale a wide shuffle costs more than the second cached read it
      |saves. At 100 TB the ledger flips: the cache doesn't exist (the enriched
      |frame doesn't fit), each branch of the parity plan re-scans the fact
      |table, and the fused plan's single scan + single wide-but-combined
      |exchange wins on exactly the term that dominates — bytes read and bytes
      |shuffled. Don't "fix" the fused plan by benching it against a warm
      |cache; the two queries produce identical results (same DuckDB oracle)
      |and exist to document this trade.""".stripMargin,
  "q5_star_join" ->
    """Supplier/nation/region broadcast (plan-asserted) with the region
      |predicate pushed into its scan; the two fact joins shuffle on their
      |keys; revenue accumulates in DECIMAL. At sf0.1 even orders/customer
      |fall under the broadcast threshold — at 100 TB those become
      |SortMergeJoins on the same keys with no plan rewrite needed.""".stripMargin,
  "etl_merge_apply" ->
    """The whole U/D/I disposition is ONE FullOuter SortMergeJoin on the
      |merge key (plan-asserted: exactly one join), with the delete filter
      |and payload CASEs as projections of the joined row — base is
      |scanned once, vs three scans for per-op semi/anti/union passes.""".stripMargin,
  "q_subqueries" ->
    """Both correlated scalar subqueries decorrelate into per-customer
      |aggregate joins and EXISTS becomes a LeftSemi with the quantity
      |predicate pushed to the lineitem scan (plan-asserted: no Subquery
      |node survives). Nothing re-executes per row at any scale.""".stripMargin,
  "j_lateral_top2" ->
    """The correlated LIMIT compiles to WindowGroupLimit with a map-side
      |Partial pass (plan-asserted): each input partition forwards at most
      |2 rows per key into the exchange — per-key top-N costs a bounded
      |shuffle, not a per-key sort of everything.""".stripMargin,
  "etl_scd2_build" ->
    """Change-detection lag, interval-closing lead and versioning
      |row_number all sit on one (user_id → ts, event_id) window: a single
      |keyed exchange plus in-partition sorts. The textbook SQL port —
      |self-join each row to its successor — would add a second full
      |shuffle and a join.""".stripMargin,
  "sim_sparse_cosine" ->
    """Inverted-index similarity with NO join in the plan: df and per-doc
      |norms ride as window aggregates over the weight matrix (consumed
      |once), postings group by term, and the pair dot-products come from
      |a two-stage explode of each df-bounded posting list. Every sum the
      |cosine depends on is a BIGINT of integer weights — the plan cannot
      |produce different results under different partitionings, which is
      |what lets the DuckDB oracle (a conventional self-join formulation)
      |hash-match it exactly.""".stripMargin,
  "dedup_minhash_pairs" ->
    """**The plan reads `Scan ExistingRDD`: the banded MinHash candidate
      |build is a SHARED materialization** (round 9). Five consumers need
      |the same shingle→minhash→band→bucket-join pair set — this query
      |(for which it IS the answer), the connected-components cluster
      |build behind dedup_clusters/dedup_apply/dedup_keep_best/
      |f_split_leakage_safe, and the Jaccard/containment/edit-distance
      |verify queries — so ExtensionQueries memoizes one lazily
      |localCheckpoint'ed candidate table per (session, corpus) and each
      |consumer's plan starts from it. The interesting physical shape
      |(band-bucket equi-join, Σ|bucket|² not corpus², scatter-guarded
      |tokenize, and — round 11 — the blocked grid self-join that spreads
      |any ≥512-member hot bucket's pair work across the cluster) lives
      |inside the materialized subtree and is pinned by DedupSpec/
      |DedupPropertiesSpec/HotBucketGridSpec; at 100 TB this is the
      |staged candidate table every dedup stage reads from
      |parquet.""".stripMargin,
  "dedup_setsim_pairs" ->
    """Exact Jaccard self-join with the corpus quadratic never
      |materializing: the candidate join runs token-at-a-time over
      |rarest-first prefixes with the size-ratio and PPJoin positional
      |prunes INSIDE the join (before the distinct), and tokens travel as
      |60-bit md5 ids, so the exchange carries longs. The verify join
      |reads the (small) surviving pair set against long-array token
      |sets. The ranked token-array table feeds three consumers (prefix
      |explode + both verify sides), so it is staged once as the
      |InMemoryRelation below — tokenize + global-frequency rank run one
      |time, not three. The DuckDB oracle brute-forces the raw-string
      |definition — the filters are proven lossless against it at every
      |SF.""".stripMargin,
  "pca_project" ->
    """Projection is k fused dot-product expressions over the embedding
      |scan — a single narrow Project, no shuffle, no join; the fitted
      |basis rides as literals inside the codegen. The fit's one
      |treeAggregate pass happened before plan construction and is
      |memoized per (session, dir); at 100 TB it is the only pass that
      |touches the corpus and its reduction is O(d²) per partition
      |regardless of rows.""".stripMargin,
  "sim_ivf_trained_topk" ->
    """Trained-quantizer ANN: the probe stage ranks 16 broadcast centroid
      |rows per query (tiny), and the scan side touches only assignments
      |in the nprobe=2 chosen cells via the broadcast join on cell —
      |1/8th of the corpus at 16 cells, with the bounded TopKAggregator
      |capping the exchange at k rows per (partition, query). The k-means
      |fit runs once per corpus snapshot (memoized here), exactly like a
      |production index build.""".stripMargin,
  "o_hilbert_key" ->
    """The 16-round xy2d walk is ONE codegen'd expression inside the
      |project over the scan — no shuffle, no per-round projections; the
      |loop lives in generated Java. Compare o_zorder_key: same shape,
      |five shift/mask steps; Hilbert pays ~3× the ALU for strictly
      |tighter per-file bounding boxes when range-clustering
      |(LayoutSpec's adjacency proof).""".stripMargin,
  "etl_incremental_join" ->
    """Both union branches are delta-DRIVEN joins: ΔA probes B′ and A
      |probes ΔB — the deltas fall under the broadcast threshold here, so
      |neither branch exchanges the big side at all; at 100 TB the same
      |plan bucket-joins against the maintained view's layout. Nowhere in
      |the plan is A′⋈B′ recomputed — that absence IS the operator.""".stripMargin,
  "dedup_semantic" ->
    """SemDeDup: both sides of the pair join come from the SAME cell-
      |assignment table and meet in one join keyed on cell — Σ|cell|²
      |work, never corpus²; at paper scale the cell count rises to hold
      ||cell| constant and a hot cell is an AQE skew split. The keep/drop
      |verdict is a left join at id grain. The k-means fit ran before
      |plan construction (memoized per corpus snapshot, like any index
      |build) — no fitting appears in the query plan.""".stripMargin,
  "f_dsir_weights" ->
    """DSIR: the bigram stream aggregates ONCE to the staged (doc, slot)
      |table; both multinomials are `buckets`-row rollups of it and
      |BROADCAST into the scoring join, so the corpus explode never
      |re-runs and the model side never exchanges corpus-grain rows; the
      |only wide operations at doc grain are the scoring groupBy and the
      |GlobalIndex range exchange for the deterministic top-fraction
      |rank — no empty-partition window anywhere.""".stripMargin,
  "q21_supp_wait" ->
    """The textbook Q21 runs EXISTS + NOT EXISTS — a triple self-join of
      |the fact table. This plan replaces both correlated probes with
      |ONE groupBy(orderkey) whose (n_supp, n_rsupp) predicate qualifies
      |orders; lineitem is touched twice, both exchanges hash on
      |l_orderkey (AQE reuses the layout), supplier broadcasts. The
      |oracle executes the double-EXISTS text, so the hash match is an
      |equivalence proof of the rewrite.""".stripMargin,
  "q17_small_qty" ->
    """The textbook Q17 carries a correlated AVG subquery — a probe into
      |the fact table per fact row. Here the per-part statistics are ONE
      |keyed aggregate over the brand-narrowed slice (the broadcast semi
      |restriction happens BEFORE the aggregate, so only qualifying
      |parts' lines are aggregated), probed back by partkey; the
      |threshold comparison is exact decimal, so the oracle's correlated
      |form and this decorrelated plan agree bit-for-bit.""".stripMargin,
  "dedup_incremental" ->
    """The daily-ingest dedup shape: the delta's band signatures (the two
      |ObjectHashAggregate pipelines below — one per side) meet in ONE
      |(band, sig)-keyed join; there is no delta self-join, no base
      |self-join, and no connected-components pass. At 100 TB the base
      |pipeline disappears entirely — its signatures are the persisted
      |store written once per corpus snapshot (bucket it by (band, sig)
      |and the join needs no base-side shuffle) — so the daily cost is
      |O(delta) hashing plus one keyed join, independent of corpus
      |size.""".stripMargin,
  "sim_sq8_topk" ->
    """The quantize→score pipeline is a narrow map over the corpus scan
      |(no shuffle until ranking): L2-normalize, round to int8 codes,
      |BIGINT dot products against the broadcast quantized queries. The
      |two-phase ranking bounds the exchange at partitions × k rows per
      |query. At 100 TB the codes are 4× smaller than the float32 column
      |— the scan-bytes term this plan exists to shrink — and integer
      |scores make the result retry/partitioning-invariant with no
      |rounding contract.""".stripMargin,
  "t_max_concurrency" ->
    """Sweep-line overlap with NO single-reducer window: interval deltas
      |aggregate per timestamp (hash agg), then the global running count
      |runs through PrefixSum — a range exchange, per-partition running
      |sums, and a broadcast offset add; both passes reuse one sorted
      |shuffle. The oracle formulates the same sweep with
      |`SUM OVER (ORDER BY t)`, which is fine on single-node DuckDB and
      |exactly the plan Spark must avoid.""".stripMargin,
  "multimodal_neardup_px" ->
    """Content-addressed decode feeding the ANN pair stage: the codec runs
      |AFTER a map-side-partial dropDuplicates on content_hash (the shuffle
      |carries per-partition-distinct payloads, the decode stage shrinks by
      |the corpus duplication factor — 100× on this fixture), and the
      |decoded features join back to media_id grain on a null-safe hash key
      |before the lazy localCheckpoint that the LSH consumes three times.
      |On a duplicate-heavy 100 TB crawl this ordering — dedup, THEN decode
      |— is the difference between N codec invocations and |distinct|; the
      |pair stage itself stays band-bucketed (Σ|bucket|², never corpus²).
      |Round 9: the pair stage now runs at DISTINCT-VECTOR grain (identical
      |vectors group first — one hash-agg keyed on the vector, scratch-
      |persisted for its five consumers; banding and the cosine filter see
      |only group representatives, and surviving group pairs expand back at
      |result grain). On this fixture that cut candidate pairs from ~4M
      |(every copy × every copy in a handful of skewed buckets, exploding
      |on one core) to ≤ 50²/2, and the query's warm time from 4.4 s to
      |~1.5-2 s. Buckets past 512 representatives take a block-chunked
      |explode (≤256-partner slices, round-robin exchanged) so even a
      |signature the whole corpus collapses into cannot serialize the pair
      |scan onto one task — the explode-side analogue of AQE's skew-join
      |split, which does not apply to generators.""".stripMargin,
  "text_bigram_surprisal" ->
    """The bigram model (Heaps-law bounded: types, not tokens) comes back
      |as a BroadcastExchange, so the corpus-side scoring pass never
      |shuffles — one scatter, one explode, one broadcast-hash join, one
      |per-doc aggregate. Past the broadcast threshold Catalyst falls back
      |to a shuffle join keyed on the same (w1, w2) partitioning the model
      |aggregate produced. The corpus pair subtree is evaluated twice
      |(model build + scoring); a production pipeline trains the model
      |once and persists it as an artifact.""".stripMargin,
)
names.foreach { n =>
  val df = graft.SparkEntry.queries(n)(spark, dir)
  sb.append(s"\n## $n\n\n")
  notes.get(n).foreach(t => sb.append(t).append("\n\n"))
  sb.append("```\n")
  sb.append(df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode).take(7000))
  sb.append("\n```\n")
}
sb.append(Files.readString(Paths.get("tools/plans_notes_tail.md")))
Files.writeString(Paths.get("PLANS.md"), sb.toString)
println("WROTE_PLANS")
sys.exit(0)
