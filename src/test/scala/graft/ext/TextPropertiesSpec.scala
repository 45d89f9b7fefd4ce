package graft.ext

import scala.math.BigDecimal.RoundingMode

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkSpec

/** Independent sequential references for the text-retrieval family
  * (round-11 extension of the differential campaign): [[TextAnalysis]]'s
  * BM25, tf-idf, sparse-cosine, and contamination are hand-rolled
  * DataFrame formulations of textbook IR scoring whose only standing
  * checks are fixed-fixture oracles. Each test here recomputes the
  * answer from the DEFINITION — a per-doc Scala fold over the collected
  * corpus, no Spark operators — on randomized corpora (messy casing,
  * runs of whitespace, empty and single-token docs) and compares exact
  * row sets, including the quantization contracts (HALF_UP rounding at
  * the documented scales, integer micro-unit scores) and the documented
  * tie-breaks. */
class TextPropertiesSpec extends SparkSpec {
  import spark.implicits._

  private val vocab = Vector("spark", "query", "join", "filter", "window",
    "stream", "table", "scan", "merge", "sort", "row", "data")

  /** A word with adversarial casing/spacing: normalize() must erase the
    * difference, and the reference tokenizer below must agree. */
  private def genWord(words: Vector[String]): Gen[String] = for {
    w <- Gen.oneOf(words)
    cased <- Gen.oneOf(w, w.toUpperCase, w.capitalize)
    pad <- Gen.oneOf("", " ", "\t")
  } yield cased + pad

  private def genDoc(words: Vector[String]): Gen[String] = Gen.frequency(
    1 -> Gen.const(""),
    1 -> Gen.oneOf(words), // single-token doc: no bigrams, tiny norm
    8 -> Gen.chooseNum(3, 30).flatMap(n =>
      Gen.listOfN(n, genWord(words)).map(_.mkString(" "))))

  private def corpus(seedNo: Long, nDocs: Int,
                     words: Vector[String] = vocab): Seq[(Long, String)] =
    Gen.listOfN(nDocs, genDoc(words))
      .pureApply(Gen.Parameters.default, Seed(seedNo))
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }

  /** The reference tokenizer — must match normalize()+tokens(): Spark's
    * regexp_replace/lower/trim and split(_, " ") with limit −1. */
  private def toks(text: String): Vector[String] =
    text.toLowerCase.replaceAll("\\s+", " ").trim.split(" ", -1).toVector

  private def nonEmpty(text: String): Vector[String] =
    toks(text).filter(_.nonEmpty)

  /** Spark's round(double, s): HALF_UP at scale s on the shortest
    * decimal representation (scala BigDecimal(d) == BigDecimal.valueOf). */
  private def rnd(v: Double, s: Int): Double =
    BigDecimal(v).setScale(s, RoundingMode.HALF_UP).toDouble

  test("bm25TopK matches a per-doc fold of the Okapi formula (3 seeds)") {
    val (k1, b, k) = (1.2, 0.75, 5)
    for (seedNo <- 1L to 3L) {
      val rows = corpus(seedNo, 60)
      val docs = rows.toDF("doc_id", "text")
      val queries = Seq((1L, "spark"), (1L, "join"), (2L, "row"),
        (2L, "data"), (2L, "zzz_oov"), (3L, "filter")).toDF("qid", "term")
      val got = TextAnalysis.bm25TopK(docs, queries, k = k, k1 = k1, b = b)
        .select("qid", "rank", "doc_id", "score_m")
        .as[(Long, Int, Long, Long)].collect().toSet
      graft.ops.Scratch.releaseRun(spark)

      // Reference: the formula, folded per doc. N and avgdl are over ALL
      // docs — and avgdl uses split-array length (an empty doc is [""]:
      // length 1), while per-doc |d| sums the non-empty term counts; the
      // spec pins that documented asymmetry too.
      val n = rows.size.toDouble
      val avgdl = rows.map(r => toks(r._2).size.toDouble).sum / n
      val tf = rows.map { case (id, t) =>
        id -> nonEmpty(t).groupBy(identity).map { case (w, g) => w -> g.size }
      }.toMap
      val df = tf.values.flatMap(_.keys).groupBy(identity)
        .map { case (w, g) => w -> g.size }
      val qterms = Seq(1L -> Seq("spark", "join"),
        2L -> Seq("row", "data", "zzz_oov"), 3L -> Seq("filter"))
      val want = qterms.flatMap { case (qid, terms) =>
        val scored = tf.toSeq.flatMap { case (id, dtf) =>
          val len = dtf.values.sum.toDouble
          val contribs = terms.flatMap(t => dtf.get(t).map { f =>
            val idf = math.log((n - df(t) + 0.5) / (df(t) + 0.5) + 1.0)
            val s = idf * (f * (k1 + 1)) /
              (f + k1 * (1 - b + b * len / avgdl))
            rnd(s * 1e6, 0).toLong
          })
          if (contribs.isEmpty) None else Some((id, contribs.sum))
        }
        scored.sortBy { case (id, s) => (-s, id) }.take(k).zipWithIndex
          .map { case ((id, s), i) => (qid, i + 1, id, s) }
      }.toSet
      // every qid must rank a full top-k (vocab terms are common), and
      // the ranking cut must bite
      assert(Seq(1L, 2L, 3L).forall(q => want.count(_._1 == q) == k),
        s"seed $seedNo: some query ranked fewer than $k docs")
      assert(got == want, s"seed $seedNo: got-want=${got -- want} " +
        s"want-got=${want -- got}")
    }
  }

  test("tfIdfTopTerms matches a per-doc fold of tf·ln(N/df) (3 seeds)") {
    for (seedNo <- 1L to 3L) {
      val rows = corpus(seedNo, 40)
      val docs = rows.toDF("doc_id", "text")
      val got = TextAnalysis.tfIdfTopTerms(docs, k = 4)
        .select("doc_id", "rank", "tok", "tfidf")
        .as[(Long, Int, String, Double)].collect().toSet
      graft.ops.Scratch.releaseRun(spark)

      val n = rows.size.toDouble
      val tf = rows.map { case (id, t) =>
        id -> nonEmpty(t).groupBy(identity).map { case (w, g) => w -> g.size }
      }.toMap
      val df = tf.values.flatMap(_.keys).groupBy(identity)
        .map { case (w, g) => w -> g.size }
      val want = tf.toSeq.flatMap { case (id, dtf) =>
        dtf.toSeq
          .map { case (w, f) => (w, rnd(f * math.log(n / df(w)), 6)) }
          .sortBy { case (w, s) => (-s, w) }.take(4).zipWithIndex
          .map { case ((w, s), i) => (id, i + 1, w, s) }
      }.toSet
      assert(got == want, s"seed $seedNo: got-want=${got -- want} " +
        s"want-got=${want -- got}")
    }
  }

  test("sparseCosinePairs matches brute-force integer cosine (3 seeds)") {
    // maxDf = 8 on a 40-doc corpus over a 12-word vocab: most terms are
    // pruned, so the test exercises BOTH sides of the df gate — norms
    // keep df ≤ maxDf terms (including df = 1), postings additionally
    // drop df < 2.
    val (maxDf, scale, minCos) = (8, 10000, 0.10)
    // a 60-word vocabulary keeps per-term df in the single digits on a
    // 40-doc corpus, so BOTH fates are populated: surviving terms (df ≤ 8,
    // including df = 1 norm-only terms) and pruned ones (df > 8)
    val wide = (0 until 60).map(i => s"term$i").toVector
    for (seedNo <- 1L to 3L) {
      val rows = corpus(seedNo, 40, wide)
      val docs = rows.toDF("doc_id", "text")
      val got = TextAnalysis
        .sparseCosinePairs(docs, maxDf = maxDf, scale = scale,
          minCosine = minCos)
        .select("doc_a", "doc_b", "cosine")
        .as[(Long, Long, Double)].collect().toSet
      graft.ops.Scratch.releaseRun(spark)

      val n = rows.size.toDouble
      val tf = rows.map { case (id, t) =>
        id -> nonEmpty(t).groupBy(identity).map { case (w, g) => w -> g.size }
      }.toMap
      val df = tf.values.flatMap(_.keys).groupBy(identity)
        .map { case (w, g) => w -> g.size }
      // integer weights over df ≤ maxDf terms; norms include df = 1 terms
      val w = tf.map { case (id, dtf) =>
        id -> dtf.collect { case (t, f) if df(t) <= maxDf =>
          t -> (f * rnd(math.log(n / df(t)) * scale, 0)).toLong
        }
      }
      val n2 = w.map { case (id, ws) =>
        id -> ws.values.map(x => x * x).sum }
      val ids = rows.map(_._1)
      val want = (for {
        a <- ids; bId <- ids if a < bId
        shared = w(a).keySet.intersect(w(bId).keySet).filter(df(_) >= 2)
        if shared.nonEmpty && n2(a) > 0 && n2(bId) > 0
        dot = shared.toSeq.map(t => w(a)(t) * w(bId)(t)).sum
        cos = rnd(dot.toDouble /
          (math.sqrt(n2(a).toDouble) * math.sqrt(n2(bId).toDouble)), 4)
        if cos >= minCos
      } yield (a, bId, cos)).toSet
      // non-vacuity: the corpus must actually produce pairs, and the df
      // gate must actually prune something — otherwise the equality
      // proves nothing about the inverted-index pruning
      assert(want.nonEmpty, s"seed $seedNo: degenerate corpus, no pairs")
      assert(df.values.exists(_ > maxDf),
        s"seed $seedNo: no term exceeded maxDf, prune path unexercised")
      assert(got == want, s"seed $seedNo: got-want=${got -- want} " +
        s"want-got=${want -- got}")
    }
  }

  test("contamination matches a sequential shingle scan (3 seeds)") {
    val (k, stride) = (6, 2)
    for (seedNo <- 1L to 3L) {
      val rows = corpus(seedNo, 30)
      val docs = rows.toDF("doc_id", "text")
      // benchmark: substrings of two corpus docs (guaranteed hits when
      // the aligned shingle grid overlaps) + one disjoint doc
      val benchRows = Seq(
        (100L, rows(3)._2.take(40)), (101L, rows(7)._2.drop(10)),
        (102L, "entirely unrelated benchmark prose"))
      val bench = benchRows.toDF("doc_id", "text")
      val got = TextAnalysis
        .contamination(docs, bench, k = k, stride = stride)
        .select("doc_id", "n_shingles", "n_contaminated", "contamination")
        .as[(Long, Long, Long, Double)].collect().toSet

      def norm(t: String) = t.toLowerCase.replaceAll("\\s+", " ").trim
      def shingles(t: String): Set[String] = {
        val s = norm(t)
        if (s.length < k) Set.empty
        else (1 to (s.length - k + 1) by stride)
          .map(i => s.substring(i - 1, i - 1 + k)).toSet
      }
      val benchSet = benchRows.flatMap(r => shingles(r._2)).toSet
      val want = rows.flatMap { case (id, t) =>
        val sh = shingles(t)
        if (sh.isEmpty) None
        else {
          val hit = sh.count(benchSet.contains).toLong
          Some((id, sh.size.toLong, hit, hit.toDouble / sh.size))
        }
      }.toSet
      // non-vacuity: the benchmark substrings must actually contaminate
      assert(want.exists(_._3 > 0), s"seed $seedNo: zero hits everywhere")
      assert(got == want, s"seed $seedNo: got-want=${got -- want} " +
        s"want-got=${want -- got}")
    }
  }
}
