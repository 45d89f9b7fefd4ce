package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.io.Sources.scatter
import graft.ops.Scratch

/** Text-analysis operators for a training-data pipeline: normalization,
  * token statistics, quality scoring, n-gram-heuristic language ID, and
  * rolling-hash document fingerprinting.
  *
  * Everything is built from codegen'd built-ins (`regexp_replace`, `split`,
  * `md5`, `length`) — one narrow projection per document, no shuffle, no UDF:
  * at 100 TB this is a pure map stage that scales linearly with input splits.
  *
  * Portability: the per-language scoring and the CASE-chain argmax are
  * generated from shared SQL fragments (see [[langCaseSql]]) that parse
  * identically in Spark SQL and DuckDB, so the oracle runs the same text.
  */
object TextAnalysis {

  /** Canonical normalization: lowercase, collapse whitespace, trim. */
  def normalize(text: Column): Column =
    trim(regexp_replace(lower(text), "\\s+", " "))

  /** Whitespace tokens of the normalized text. */
  def tokens(norm: Column): Column = split(norm, " ")

  /** Staged tokenization of a raw corpus: (idCol[, source], norm, toks).
    * Every token consumer in this object accepts this frame in place of
    * the raw (id, text) one — [[ensureTokens]] detects the `toks` column —
    * so a runner can tokenize ONCE and fan the result into the whole text
    * family. */
  def tokenized(docs: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val keep = col(idCol) +:
      docs.columns.filter(_ == "source").toSeq.map(col)
    scatter(docs.select(keep :+ normalize(col("text")).as("norm"): _*))
      .withColumn("toks", tokens(col("norm")))
  }

  private def ensureTokens(docs: DataFrame, idCol: String): DataFrame =
    if (docs.columns.contains("toks")) docs else tokenized(docs, idCol)

  // Shared token scratch: five oracle queries (text_bm25_topk,
  // text_tfidf_top_terms, text_bigram_surprisal, text_surprisal_gate,
  // text_ccnet_buckets — plus sim_sparse_cosine and f_mix_weights) each
  // re-derived the same normalize→split over `documents`, ~25% of the text
  // family's wall time. Stage it once per (session, corpus) — the
  // sharedClusters/ivfMemo lifecycle: first consumer pays the build, every
  // later one reads the persisted frame, and Scratch.releaseRun unpersists
  // it at teardown. At 100 TB this scratch is the staged token table the
  // first pipeline stage materializes to parquet; MEMORY_AND_DISK persist
  // (evictions re-read from local disk, never recompute the tokenize
  // subtree) is its single-JVM stand-in.
  private val tokMemo = new Scratch.Memo[DataFrame](_.unpersist())

  def sharedTokens(s: org.apache.spark.sql.SparkSession, dir: String)
      : DataFrame =
    tokMemo(s, dir)(
      tokenized(graft.io.Sources.table(s, dir, "documents"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** Character k-shingles at a stride, as (doc_id, shingle) rows.
    * Stride > 1 cuts shingle volume k-fold with modest recall loss — the
    * standard trade at corpus scale. Requires `norm` length ≥ k (guarded). */
  def charShingles(docs: DataFrame, idCol: String, k: Int, stride: Int)
      : DataFrame =
    scatter(docs.select(col(idCol), normalize(col("text")).as("norm")))
      .filter(length(col("norm")) >= k)
      .select(col(idCol),
        explode(expr(s"sequence(1, length(norm) - ${k - 1}, $stride)"))
          .as("i"),
        col("norm"))
      .select(col(idCol), expr(s"substring(norm, i, $k)").as("shingle"))

  /** Occurrence count of `pat` inside `' '||norm||' '` via the
    * length-of-replace identity — a SQL fragment valid in both engines. */
  def countSql(pat: String): String = {
    val p = s"' ' || $pat || ' '"
    s"(length(' ' || norm || ' ') - length(replace(' ' || norm || ' ', $p, ''))) / length($p)"
  }

  /** Small per-language stopword marker sets (public-knowledge n-gram
    * heuristic: function words identify the language of running text). */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "und", "die", "nicht", "ist"),
    "en" -> Seq("the", "and", "of", "is", "to"),
    "es" -> Seq("el", "la", "de", "que", "es"),
    "fr" -> Seq("le", "la", "et", "les", "est"),
    "zh" -> Seq("de5", "shi4", "le5", "zai4", "he2"),
  )

  /** Per-language score fragments: `lang -> SQL summing marker counts`. */
  def langScoreSql: Seq[(String, String)] = langMarkers.map { case (l, ws) =>
    l -> ws.map(w => countSql(s"'$w'")).mkString("(", " + ", ")")
  }

  /** Padded-document column `' ' || norm || ' '`, built ONCE per row.
    * [[countSql]] inlines this padding into every marker term (twice per
    * term: the `length` arg and the `replace` arg), so a 25-marker score
    * block carries ~50 copies of the padded-concat subtree — the
    * expression tree (driver: analysis, codegen source size, Janino cold
    * compile) and the per-row work both scale with marker count. The
    * Column twins below take the padded document as a projected column
    * instead. Values are identical (same replace identity, same integer
    * lengths, same `/` double division); the oracle SQL keeps the
    * self-contained [[countSql]] fragments, which DuckDB runs once per
    * correctness check. */
  def padded(norm: Column): Column = concat(lit(" "), norm, lit(" "))

  /** Column twin of [[countSql]] over a pre-padded document `pn`:
    * non-overlapping occurrence count of `' w '` via length-of-replace.
    * `length(' w ')` is a Scala-side constant where [[countSql]] leaves
    * `length($p)` for ConstantFolding — same value either way. */
  def countCol(pn: Column, w: String): Column = {
    val p = s" $w "
    (length(pn) - length(replace(pn, lit(p), lit("")))) / lit(p.length)
  }

  /** Column twin of [[langScoreSql]] over a pre-padded document column.
    * Same left-associated marker sum, term for term. */
  def langScoreCols(pn: Column): Seq[(String, Column)] =
    langMarkers.map { case (l, ws) =>
      l -> ws.map(w => countCol(pn, w)).reduce(_ + _)
    }

  /** Deterministic argmax CASE chain (ties resolve in language-code order). */
  def langCaseSql: String = {
    val scores = langScoreSql.map { case (l, _) => s"score_$l" }
    val arms = langScoreSql.map(_._1).map { l =>
      val ge = scores.map(s => s"score_$l >= $s").mkString(" AND ")
      s"WHEN $ge THEN '$l'"
    }
    s"CASE ${arms.mkString(" ")} ELSE 'und' END"
  }

  /** Token statistics: token count, char count, mean token length (exact —
    * integer counts divided once in double). */
  def tokenStats(docs: DataFrame, idCol: String = "doc_id"): DataFrame =
    scatter(docs.select(col(idCol), normalize(col("text")).as("norm")))
      .select(col(idCol),
        size(tokens(col("norm"))).cast("long").as("n_tokens"),
        length(col("norm")).cast("long").as("n_chars"),
        (length(replace(col("norm"), lit(" "), lit(""))).cast("double") /
          size(tokens(col("norm")))).as("avg_token_len"))

  /** Quality signals: length, stopword ratio, digit/punct ratios, and a
    * fixed-weight composite score. All terms are exact integer ratios
    * combined by one identical expression per engine. */
  def qualityScore(docs: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val base = scatter(docs.select(col(idCol), normalize(col("text")).as("norm")))
      .withColumn("pn", padded(col("norm")))
      .withColumn("n_tokens", size(tokens(col("norm"))).cast("long"))
      .withColumn("n_chars", length(col("norm")).cast("long"))
      .withColumn("stop_hits",
        langScoreCols(col("pn")).find(_._1 == "en").get._2)
    base.select(col(idCol), col("n_tokens"), col("n_chars"),
      (col("stop_hits") / col("n_tokens")).as("stopword_ratio"),
      // try_divide: an empty/whitespace-only doc has length(norm) = 0 and
      // must score NULL (DuckDB's x/0), not kill the stage under ANSI
      expr("try_divide(length(regexp_replace(norm, '[a-z ]', '')), " +
          "length(norm))")
        .as("nonalpha_ratio"),
      (least(col("n_tokens") / lit(100.0), lit(1.0)) * lit(0.5) +
        least(col("stop_hits") / col("n_tokens") * lit(5.0), lit(1.0)) *
          lit(0.5)).as("quality_score"))
  }

  /** Apply quality gating: keep documents meeting a minimum composite
    * score and token count — the filter step a scored corpus feeds. The
    * threshold compares the same exact-arithmetic score both engines
    * compute, so the cut is reproducible. */
  def filterByQuality(docs: DataFrame, minScore: Double = 0.5,
                      minTokens: Long = 10, idCol: String = "doc_id")
      : DataFrame =
    docs.join(qualityScore(docs, idCol)
        .filter(col("quality_score") >= minScore &&
          col("n_tokens") >= minTokens)
        .select(col(idCol)), Seq(idCol))

  /** C4-style line-level cleaning (Raffel et al. 2020 §2.2, the
    * curly-brace / lorem-ipsum / javascript / terminal-punctuation /
    * short-line subset): a line survives iff it ends in terminal
    * punctuation, has ≥ 5 words, and contains none of `{`,
    * `lorem ipsum`, `javascript` (case-insensitive). Pure narrow array
    * ops per document — no explode, no shuffle; at 100 TB this is a
    * map-only pass over the scan, and the document-level gate (≥ 3
    * surviving lines, [[c4DocKept]]) composes in the same projection. */
  def c4KeptLines(lines: Column): Column =
    filter(lines, l =>
      substring(l, -1, 1).isin(".", "!", "?") &&
        size(split(l, " ")) >= 5 &&
        !l.contains("{") &&
        !lower(l).contains("lorem ipsum") &&
        !lower(l).contains("javascript"))

  /** C4's document gate over the surviving lines: ≥ 3 kept lines (the
    * paper's ≥ 3 sentences). */
  def c4DocKept(keptLines: Column): Column = size(keptLines) >= 3

  /** Language ID over the marker heuristic. */
  def languageId(docs: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val scored = langScoreCols(col("pn")).foldLeft(
      scatter(docs.select(col(idCol), col("lang"),
        normalize(col("text")).as("norm")))
        .withColumn("pn", padded(col("norm")))) {
      case (d, (l, c)) => d.withColumn(s"score_$l", c)
    }
    scored.select(col(idCol), expr(langCaseSql).as("pred_lang"), col("lang"),
      (expr(langCaseSql) === col("lang")).as("matches_label"))
  }

  /** TF-IDF as joins + aggregates (no ML pipeline): term frequency per
    * (doc, token), document frequency per token, score = tf · ln(N/df),
    * top `k` terms per doc. Two aggregations + one join, all on token keys —
    * uniform cardinality, no skew; N is a driver-side scalar (one count,
    * like the reference's F5). Scores are rounded to 6 dp and ranked on the
    * rounded value (cross-engine contract). */
  /** Default top-terms cutoff — referenced by the oracle SQL generator so
    * Spark and DuckDB can never disagree about k. */
  val TfIdfTopK: Int = 3

  def tfIdfTopTerms(docs: DataFrame, idCol: String = "doc_id",
                    k: Int = TfIdfTopK): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = ensureTokens(docs, idCol)
    // N as a lazy broadcast scalar (one-row aggregate cross join), not a
    // driver-side count(): constructing the frame must not run a job, and
    // execution must not scan the source twice.
    val n = broadcast(base.agg(count(lit(1)).cast("double").as("_n")))
    val tf = base
      .select(col(idCol), explode(col("toks")).as("tok"))
      .filter(length(col("tok")) > 0)
      .groupBy(col(idCol), col("tok")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("tfidf").desc, col("tok").asc)
    tf.join(dfreq, "tok").crossJoin(n)
      .withColumn("tfidf",
        round(col("tf") * log(col("_n") / col("df")), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(idCol), col("rank"), col("tok"), col("tfidf"))
  }

  /** BM25 ranked retrieval (Robertson/Lucene idf variant): for query
    * terms t, score(d) = Σ_t ln((N−df+0.5)/(df+0.5)+1) · tf·(k1+1) /
    * (tf + k1·(1−b+b·|d|/avgdl)). The IR scoring function every corpus
    * search/eval harness needs next to the ANN path.
    *
    * Scale shape: one token aggregate builds tf; df and |d| ride as
    * window aggregates over the SAME pass (no re-scan); queries
    * broadcast; only (doc, term) rows matching a query term survive the
    * join, so scoring work is bounded by the posting lists of the query
    * vocabulary — never the corpus. Determinism: each per-term
    * contribution is quantized to integer micro-units BEFORE the
    * per-(query, doc) sum, so scores are exact BIGINT — accumulation-
    * order-free and engine-identical (the sim_sparse_cosine discipline);
    * ranking ties break on doc id. */
  def bm25TopK(docs: DataFrame, queries: DataFrame, k: Int = 10,
               k1: Double = 1.2, b: Double = 0.75,
               idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = ensureTokens(docs, idCol)
    val stats = broadcast(
      base.select(col(idCol), size(col("toks")).cast("long").as("l"))
        .agg(count(lit(1)).cast("double").as("_n"),
          (sum(col("l")).cast("double") / count(lit(1))).as("_avgdl")))
    val tf = base
      .select(col(idCol), explode(col("toks")).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("term"))))
      .withColumn("len", sum(col("tf")).over(Window.partitionBy(col(idCol))))
    val contrib = tf.join(broadcast(queries), Seq("term")).crossJoin(stats)
      .withColumn("contrib_m",
        round((log((col("_n") - col("df").cast("double") + lit(0.5)) /
            (col("df").cast("double") + lit(0.5)) + lit(1.0)) *
          (col("tf").cast("double") * lit(k1 + 1)) /
          (col("tf").cast("double") + lit(k1) * (lit(1.0 - b) +
            lit(b) * col("len").cast("double") / col("_avgdl")))) * lit(1e6))
          .cast("long"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("score_m").desc, col(idCol).asc)
    contrib.groupBy(col("qid"), col(idCol))
      .agg(sum(col("contrib_m")).as("score_m"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col(idCol), col("score_m"))
  }

  /** Sparse TF-IDF cosine document similarity via an INVERTED-INDEX
    * expansion — the classic IR sparse-vector shape, complementary to the
    * dense-embedding LSH path in [[Similarity]]: candidate pairs come from
    * shared TERMS, so two docs are compared iff they share vocabulary.
    *
    * Scale design:
    *   - vocabulary pruning (df ≤ maxDf) bounds every posting list, making
    *     in-list pair expansion O(maxDf²) per term — the same
    *     bucket-bounded candidate discipline as the LSH paths; common
    *     terms carry no discrimination (idf → 0) and are dropped whole.
    *   - the weight matrix is consumed ONCE: df and per-doc norms ride
    *     along as window aggregates (no branch-and-rejoin, nothing to
    *     persist), and norms travel inside the postings so the dot-product
    *     aggregate needs no norm join afterwards.
    *   - weights are INTEGER (tf · round(ln(N/df)·scale)): dot products
    *     and norms are exact BIGINT sums, so the result is independent of
    *     accumulation order — float dot products would differ between
    *     engines/partitionings because addition is not associative. The
    *     only float ops (sqrt, final divide) happen once per pair on
    *     identical integers. Bound: |w| ≤ tf·ln(N)·scale must stay well
    *     under 2^31.5 so w² sums fit BIGINT — scale=10⁴ leaves tf·ln(N)
    *     headroom of ~3·10⁵, far above any real document.
    *   - ranked on the ROUNDED cosine (4 dp) with a total (doc_a, doc_b)
    *     tie-break — the cross-engine ordering contract. */
  def sparseCosinePairs(docs: DataFrame, idCol: String = "doc_id",
      maxDf: Int = 50, scale: Int = 10000, minCosine: Double = 0.30)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = ensureTokens(docs, idCol)
    val n = broadcast(base.agg(count(lit(1)).cast("double").as("_n")))
    val tf = base
      .select(col(idCol), explode(col("toks")).as("tok"))
      .filter(length(col("tok")) > 0)
      .groupBy(col(idCol), col("tok")).agg(count(lit(1)).as("tf"))
    val wts = tf
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("tok"))))
      .filter(col("df") <= maxDf)
      .crossJoin(n)
      .select(col(idCol), col("tok"), col("df"),
        (col("tf") * round(log(col("_n") / col("df")) * scale))
          .cast("long").as("w"))
      // zero weights (df == N, or idf rounding to 0) contribute nothing to
      // dot or norm — dropping them is lossless AND prevents an all-zero
      // doc from reaching the cosine with n2 = 0 (ANSI 0/0 would kill the
      // stage; DuckDB's NULL cosine fails >= minCosine the same way)
      .filter(col("w") =!= 0)
      .withColumn("n2",
        sum(col("w") * col("w")).over(Window.partitionBy(col(idCol))))
    val postings = wts.filter(col("df") >= 2)
      .groupBy(col("tok"))
      .agg(sort_array(collect_list(
        struct(col(idCol).as("id"), col("w").as("w"), col("n2").as("n2"))))
        .as("ps"))
    val dots = postings
      .select(explode(expr(
        """transform(ps, (p, i) -> named_struct(
          |  'id_a', p.id, 'w_a', p.w, 'n2_a', p.n2,
          |  'rest', slice(ps, i + 2, size(ps))))""".stripMargin)).as("x"))
      .select(col("x.id_a").as("doc_a"), col("x.w_a").as("w_a"),
        col("x.n2_a").as("n2_a"), explode(col("x.rest")).as("q"))
      .select(col("doc_a"), col("q.id").as("doc_b"),
        (col("w_a") * col("q.w")).as("wprod"),
        col("n2_a"), col("q.n2").as("n2_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(sum(col("wprod")).as("dot"),
        max(col("n2_a")).as("n2_a"), max(col("n2_b")).as("n2_b"))
    dots
      .select(col("doc_a"), col("doc_b"),
        round(col("dot").cast("double") /
          (sqrt(col("n2_a").cast("double")) *
           sqrt(col("n2_b").cast("double"))), 4).as("cosine"))
      .filter(col("cosine") >= minCosine)
      .orderBy(col("cosine").desc, col("doc_a").asc, col("doc_b").asc)
  }

  /** Rolling-hash fingerprint: min-md5 over char shingles (winnowing-style
    * representative hash; equal fingerprints ⇒ shared rare shingle). */
  def fingerprint(docs: DataFrame, idCol: String = "doc_id", k: Int = 8,
                  stride: Int = 4): DataFrame =
    charShingles(docs, idCol, k, stride)
      .groupBy(col(idCol))
      .agg(min(md5(col("shingle"))).as("fingerprint"))

  /** O(n) variant of [[fingerprint]] via the codegen'd Rabin-Karp
    * expression: one array per doc, min taken with array_min — no shingle
    * explode, no per-window digest (see RollingHashExpr scaladoc; verified
    * against a reference implementation in RollingHashSpec, not the DuckDB
    * oracle — SQL BIGINT traps on overflow). */
  def fingerprintRolling(docs: DataFrame, idCol: String = "doc_id",
                         k: Int = 8, stride: Int = 4): DataFrame = {
    import org.apache.spark.sql.GraftShims
    val hashes = GraftShims.column(graft.functions.RollingHashExpr(
      GraftShims.expression(normalize(col("text"))), k, stride))
    scatter(docs.select(col(idCol), hashes.as("hashes")))
      .filter(size(col("hashes")) > 0)
      .select(col(idCol), array_min(col("hashes")).as("fingerprint"))
  }

  /** PII patterns shared with the DuckDB oracle — RE2-safe (no
    * lookaround/backrefs), so Java regex and RE2 agree on every match. */
  val emailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val phonePattern = "\\+[0-9][0-9 -]{6,}[0-9]"

  /** PII scrubbing: replace emails/phone numbers with typed placeholder
    * tokens and report per-document match counts — the redaction pass a
    * training-data pipeline runs before anything else. Pure narrow map
    * (codegen'd regexp_replace / regexp_extract_all), no UDF, no shuffle. */
  def scrubPii(docs: DataFrame, idCol: String = "doc_id",
               textCol: String = "text"): DataFrame =
    docs.select(col(idCol),
      size(regexp_extract_all(col(textCol), lit(emailPattern), lit(0)))
        .cast("long").as("n_emails"),
      size(regexp_extract_all(col(textCol), lit(phonePattern), lit(0)))
        .cast("long").as("n_phones"),
      regexp_replace(
        regexp_replace(col(textCol), emailPattern, "<EMAIL>"),
        phonePattern, "<PHONE>").as("scrubbed"))

  /** Benchmark decontamination check: fraction of each corpus document's
    * distinct char shingles that also occur in a benchmark/eval set —
    * the n-gram-overlap test run before training on scraped corpora.
    *
    * Scale design: the benchmark shingle set is SMALL (eval sets are KBs
    * to MBs) → broadcast, so the corpus side is one shingle pass + one
    * aggregation and never shuffles against the benchmark. Exact distinct
    * shingles per doc via the same charShingles the dedup path uses. */
  /** Gopher-style intra-document repetition signals: the share of a doc's
    * word n-grams that are duplicates of another gram in the SAME doc, and
    * the share its single most frequent n-gram occupies — the standard
    * looping-text / boilerplate detectors a pretraining quality gate runs.
    * Docs with fewer than n tokens have no gram and are excluded (the
    * caller treats absence as "cannot score", same as wordNgrams).
    *
    * Scale: one (doc, gram) aggregation then one per-doc rollup — both
    * partial-aggregated map-side; gram rows never join anything. Ratios
    * are single divisions of exact integers (identical doubles in any
    * engine). */
  def repetition(docs: DataFrame, idCol: String = "doc_id", n: Int = 3)
      : DataFrame =
    scatter(docs.select(col(idCol),
        tokens(normalize(col("text"))).as("toks")))
      .filter(size(col("toks")) >= n)
      .select(col(idCol),
        explode(expr(s"transform(sequence(1, size(toks) - ${n - 1}), " +
          s"i -> concat_ws(' ', slice(toks, i, $n)))")).as("gram"))
      .groupBy(col(idCol), col("gram"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col(idCol))
      .agg(sum(col("cnt")).as("n_grams"),
        count(lit(1)).as("n_distinct"),
        max(col("cnt")).as("top_cnt"))
      .select(col(idCol), col("n_grams"),
        ((col("n_grams") - col("n_distinct")).cast("double") /
          col("n_grams")).as("dup_gram_ratio"),
        (col("top_cnt").cast("double") / col("n_grams"))
          .as("top_gram_ratio"))

  def contamination(corpus: DataFrame, benchmark: DataFrame,
                    idCol: String = "doc_id", k: Int = 8, stride: Int = 4)
      : DataFrame = {
    val bench = charShingles(benchmark, idCol, k, stride)
      .select(col("shingle")).distinct()
      .withColumn("_hit", lit(1))
    charShingles(corpus, idCol, k, stride).distinct()
      .join(broadcast(bench), Seq("shingle"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shingles"),
        count(col("_hit")).as("n_contaminated"))
      .withColumn("contamination",
        col("n_contaminated").cast("double") /
          col("n_shingles").cast("double"))
  }
}
