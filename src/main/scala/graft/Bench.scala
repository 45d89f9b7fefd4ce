package graft


/** Benchmark main: times every SparkEntry query on SPARK_GRAFT_SF_DIR and
  * prints one JSON line. Each query is fully materialized through the noop
  * sink — `count()` would let Catalyst prune projections and under-report;
  * noop executes the complete plan including all output columns. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = HarnessSession.build()
    SparkEntry.warm(spark, sfDir)
    val failed = scala.collection.mutable.LinkedHashSet.empty[String]
    // Degradation canary: the SAME fixed cheap query re-timed every
    // `canaryEvery` queries. Its series distinguishes "a query got slower"
    // (canary flat, query time up) from "the SESSION got slower" (canary
    // climbs — resource accumulation degrading the whole JVM, the r6
    // failure mode where state-store providers/maintenance threads from
    // per-run streaming checkpoints piled up). Canary runs are OUTSIDE the
    // per-query timings.
    val canaryEvery = 25
    def canaryTimed(df: => org.apache.spark.sql.DataFrame, label: String)
        : Option[Double] = {
      val t0 = System.nanoTime()
      try {
        df.write.format("noop").mode("overwrite").save()
        Some((System.nanoTime() - t0) / 1e9)
      } catch {
        case scala.util.control.NonFatal(e) =>
          // a failed canary must not record its time-to-failure as a
          // healthy-looking sample (a fast-flat canary series would read
          // as "session fine" when the session is broken)
          System.err.println(s"[bench] canary ($label) failed: ${e.getMessage}")
          None
      }
    }
    def canaryOnce(): Option[Double] =
      canaryTimed(SparkEntry.queries("q1_agg")(spark, sfDir), "repeat")
    // Compile-sensitive twin: the repeat canary re-runs an IDENTICAL query,
    // so Spark's codegen cache (keyed by generated source) absorbs the
    // Janino compile — it measures execution health but is BLIND to
    // per-query plan/compile cost shifts (r11 finding: a host-level
    // single-core slowdown added ~0.5 s of compile to every UNIQUE query
    // while the repeat canary stayed flat). A fresh literal per invocation
    // forces a fresh codegen source, so this series moves with the
    // per-query constant the suite actually pays.
    var canarySeq = 0
    def canaryUniqOnce(): Option[Double] = {
      canarySeq += 1
      val tag = canarySeq
      canaryTimed(SparkEntry.queries("q1_agg")(spark, sfDir)
        .filter(org.apache.spark.sql.functions.col("sum_qty") =!=
          org.apache.spark.sql.functions.lit(-1000000L - tag)), s"uniq $tag")
    }
    // Baseline resolved BEFORE the timed passes (it only reads git/the
    // committed file): the rolling chunk guard below compares each
    // interleaved canary against the committed median AS THE RUN
    // PROGRESSES, so a degraded window announces itself on stderr at the
    // chunk where it starts instead of only in post-hoc bench_diff.
    // Provenance is stamped into the record further down.
    val (baselineTxt, baselineSource) = BenchArbitration
      .committedRecordText(BenchArbitration.benchOutPath(sys.env.get))
    val committedWarm: Map[String, Double] =
      BenchArbitration.parseCommittedWarm(baselineTxt, sfDir)
    val committedCold: Map[String, Double] =
      BenchArbitration.parseCommittedCold(baselineTxt, sfDir)
    val committedUniq =
      BenchArbitration.parseUniqCanaryMedians(baselineTxt, sfDir)
    val committedRepeat =
      BenchArbitration.parseRepeatCanaryMedians(baselineTxt, sfDir)
    def runAll(phase: String): (Seq[(String, Double)], Seq[Double], Seq[Double]) = {
      val canaries = scala.collection.mutable.ArrayBuffer.empty[Double]
      val canariesUniq = scala.collection.mutable.ArrayBuffer.empty[Double]
      // Rolling in-run guard (r13 VERDICT #4): each canary sample is
      // judged against the committed median the moment it is taken — a
      // ≥1.5× reading names the chunk it precedes, so a mid-run slide is
      // attributable to its window from the stderr log alone.
      def guard(kind: String, sample: Option[Double],
                med: Option[Double], at: Int): Unit =
        for (s <- sample; m <- med if m > 0 && s / m >= 1.5)
          // ASCII-only: this line must survive whatever default encoding
          // the launching shell gives the JVM's stderr
          System.err.println(f"[bench] chunk guard ($phase%s): $kind%s " +
            f"canary at chunk ${at / canaryEvery}%d reads $s%.2fs = " +
            f"${s / m}%.2fx the committed median -- window degraded")
      val timings = SparkEntry.queries.toSeq.sortBy(_._1).zipWithIndex
        .map { case ((name, fn), i) =>
          if (i % canaryEvery == 0) {
            val c = canaryOnce(); canaries ++= c
            val u = canaryUniqOnce(); canariesUniq ++= u
            guard("repeat", c, committedRepeat.get(phase), i)
            guard("uniq", u, committedUniq.get(phase), i)
          }
          val t0 = System.nanoTime()
          try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          catch { case scala.util.control.NonFatal(e) =>
            // NonFatal ONLY: an OOM/linkage error must abort the JVM, not
            // cascade into misleading failures for every later query
            // record the failure in the JSON too: a broken query must not
            // masquerade as a fast pass in round-over-round comparisons
            failed += name
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
          }
          // the release is inside the timing, honestly charging it to its
          // owner: the cost of the query having created scratch caches and
          // per-run state stores at all
          finally SparkEntry.release(spark, name)
          name -> (System.nanoTime() - t0) / 1e9
        }
      val c = canaryOnce(); canaries ++= c
      val u = canaryUniqOnce(); canariesUniq ++= u
      guard("repeat", c, committedRepeat.get(phase), timings.size)
      guard("uniq", u, committedUniq.get(phase), timings.size)
      (timings, canaries.toSeq, canariesUniq.toSeq)
    }
    // Pass 1 (cold) is the headline `value`; pass 2 (warm) strips one-time
    // JVM/codegen-compile costs — the stabler round-over-round signal.
    val (results, canaryCold, canaryUniqCold) = runAll("cold")
    val (warm0, canaryWarm, canaryUniqWarm) = runAll("warm")
    // Jitter-resistant warm record: a single warm sample per query carries
    // seconds of box noise (the r7 driver run flagged 59 queries >2x the
    // committed record; every one arbitrated to jitter by BenchOne). So any
    // query whose fresh warm reading is >=2x (and >=0.5s over) its
    // EXPECTATION — the committed BENCH_full.json warm if present, else this
    // run's own cold reading — is re-timed once and the better of the two
    // samples is reported. Min (not mean) because timing noise on a fixed
    // plan is one-sided additive: the faster sample is strictly closer to
    // the true cost, while a genuine regression is slow in BOTH samples and
    // keeps its flag. Added wall time is bounded by the flagged set; the
    // retimed names are recorded in the JSON so a record where half the
    // suite needed arbitration is visibly suspect.
    // The baseline is read from the same path the record is written to
    // (SPARK_GRAFT_BENCH_OUT, default BENCH_full.json), and only trusted when
    // its recorded `sf` matches this run's sfDir — a committed sf0.1 record
    // would otherwise flag (and pointlessly retime) nearly every query of an
    // sf0.01 run, or mask regressions in the other direction. On mismatch we
    // fall back to this run's own cold readings. Policy functions live in
    // BenchArbitration (unit-covered by BenchArbitrationSpec).
    // Baseline text was resolved ONCE before the runs, preferring the
    // git-committed version of the record over the working-tree file
    // (which Bench itself overwrites at the end of every run — two
    // back-to-back uncommitted runs must not re-baseline the second
    // against the first). Provenance is stamped into the record below.
    val coldByName = results.toMap
    val qByName = SparkEntry.queries
    val retimed = scala.collection.mutable.ArrayBuffer.empty[String]
    val warm = warm0.map { case (name, t) =>
      val expect = committedWarm.getOrElse(name,
        coldByName.getOrElse(name, t))
      if (BenchArbitration.needsRetime(t, expect, failed(name))) {
        retimed += name
        // Only a SUCCESSFUL retime may lower the sample: a run that throws
        // near-instantly must not be recorded as a fast warm pass — that
        // would mask the very regression that triggered the retime.
        val t0 = System.nanoTime()
        val ok =
          try {
            qByName(name)(spark, sfDir)
              .write.format("noop").mode("overwrite").save()
            true
          }
          catch { case scala.util.control.NonFatal(e) =>
            System.err.println(s"[bench] retime of $name failed: ${e.getMessage}")
            false
          }
          finally SparkEntry.release(spark, name)
        name -> BenchArbitration.merged(t, ok, (System.nanoTime() - t0) / 1e9)
      } else name -> t
    }
    def js(rs: Seq[(String, Double)]) =
      rs.map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val warmTotal = warm.map(_._2).sum
    // Box-slide normalization (r12): scale raw totals by the committed
    // record's uniq-canary median over this run's, per phase. The uniq
    // canary is compile-sensitive — it moves with the per-query constant a
    // host-level single-core slowdown adds to every unique query (the r11
    // ~30% intra-session drift) — so the normalized totals read as "what
    // this run would have measured on the committed record's box". Advisory
    // fields; raw totals remain the measurement. Absent when the committed
    // record predates the canary, its sf differs, or a series is short.
    // Repeat-canary twin (r12 VERDICT #2): the uniq ratio models the
    // COMPILE-constant slide (r11 mode); an execution-path slide (r12
    // mode) moves the repeat canary instead while the uniq one
    // under-corrects. Stamping both ratios lets the record self-correct
    // in either mode; readers compare the two to attribute WHICH path
    // degraded.
    def obsMed(xs: Seq[Double]): Option[Double] =
      if (xs.size >= 2) Some(BenchArbitration.median(xs)) else None
    val normCold = BenchArbitration.normalizedTotal(
      total, committedUniq.get("cold"), obsMed(canaryUniqCold))
    val normWarm = BenchArbitration.normalizedTotal(
      warmTotal, committedUniq.get("warm"), obsMed(canaryUniqWarm))
    val boxRatioCold = for { c <- committedUniq.get("cold") if c > 0
                             o <- obsMed(canaryUniqCold) } yield o / c
    val boxRatioWarm = for { c <- committedUniq.get("warm") if c > 0
                             o <- obsMed(canaryUniqWarm) } yield o / c
    val normColdRep = BenchArbitration.normalizedTotal(
      total, committedRepeat.get("cold"), obsMed(canaryCold))
    val normWarmRep = BenchArbitration.normalizedTotal(
      warmTotal, committedRepeat.get("warm"), obsMed(canaryWarm))
    val boxRatioColdRep = for { c <- committedRepeat.get("cold") if c > 0
                                o <- obsMed(canaryCold) } yield o / c
    val boxRatioWarmRep = for { c <- committedRepeat.get("warm") if c > 0
                                o <- obsMed(canaryWarm) } yield o / c
    // The baseline medians the normalization actually used, plus where the
    // baseline text came from — so a record is auditable even when the
    // working-tree baseline was later replaced (r12 ADVICE: "document in
    // the record which baseline the normalization used").
    val normBaselineJs = {
      val meds = Seq(
        committedUniq.get("cold").map(v => s""""uniq_cold":$v"""),
        committedUniq.get("warm").map(v => s""""uniq_warm":$v"""),
        committedRepeat.get("cold").map(v => s""""repeat_cold":$v"""),
        committedRepeat.get("warm").map(v => s""""repeat_warm":$v""")
      ).flatten
      if (meds.isEmpty) ""
      else ("," + s""""norm_baseline":{""" + meds.mkString(",") +
        s""","source":${Verify.jsonStr(baselineSource)}}""")
    }
    val normJs = Seq(
      normCold.map(v => s""""value_normalized":$v"""),
      normWarm.map(v => s""""warm_total_normalized":$v"""),
      boxRatioCold.map(v => s""""box_ratio_cold":$v"""),
      boxRatioWarm.map(v => s""""box_ratio_warm":$v"""),
      normColdRep.map(v => s""""value_normalized_repeat":$v"""),
      normWarmRep.map(v => s""""warm_total_normalized_repeat":$v"""),
      boxRatioColdRep.map(v => s""""box_ratio_cold_repeat":$v"""),
      boxRatioWarmRep.map(v => s""""box_ratio_warm_repeat":$v""")
    ).flatten.map("," + _).mkString + normBaselineJs
    // n_queries/mean_sec make round-over-round totals comparable as the
    // query set grows (a larger total can mean MORE coverage, not less
    // speed).
    val mean = if (results.nonEmpty) total / results.size else 0.0
    val failedJs = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val retimedJs = retimed.map("\"" + _ + "\"").mkString("[", ",", "]")
    // Locale.ROOT: a locale with comma decimal separators would make the
    // canary arrays invalid JSON and silently zero the driver's parse
    def arr(xs: Seq[Double]) = xs
      .map(x => String.format(java.util.Locale.ROOT, "%.3f", x))
      .mkString("[", ",", "]")
    // Per-chunk attribution series (r13 VERDICT #4). chunk_time_ratio_*
    // is the between-canaries detector: per chunk of `canaryEvery`
    // queries (run order — chunk i sits between canary samples i and
    // i+1), observed-over-committed SUM of the chunk's query times; the
    // WARM series uses the RAW pre-retime readings, because retimes
    // would erase the very stall the series attributes.
    // chunk_canary_ratio_* is the per-boundary flavor: each uniq-canary
    // sample over the committed median. arbitrate.py reads these to
    // attribute a localized stall to its chunk wholesale instead of
    // rerunning 30 independently-flagged queries.
    val chunkTimeCold = BenchArbitration.chunkTimeRatios(
      results, committedCold, canaryEvery)
    val chunkTimeWarm = BenchArbitration.chunkTimeRatios(
      warm0, committedWarm, canaryEvery)
    val chunkCanCold = BenchArbitration.canaryRatioSeries(
      canaryUniqCold, committedUniq.get("cold"))
    val chunkCanWarm = BenchArbitration.canaryRatioSeries(
      canaryUniqWarm, committedUniq.get("warm"))
    def arrN(xs: Seq[Option[Double]]) = xs.map {
      case Some(v) => String.format(java.util.Locale.ROOT, "%.3f", v)
      case None => "null"
    }.mkString("[", ",", "]")
    val chunkJs = Seq(
      Option.when(chunkTimeCold.nonEmpty)(
        s""""chunk_time_ratio_cold":${arrN(chunkTimeCold)}"""),
      Option.when(chunkTimeWarm.nonEmpty)(
        s""""chunk_time_ratio_warm":${arrN(chunkTimeWarm)}"""),
      Option.when(chunkCanCold.nonEmpty)(
        s""""chunk_canary_ratio_cold":${arr(chunkCanCold)}"""),
      Option.when(chunkCanWarm.nonEmpty)(
        s""""chunk_canary_ratio_warm":${arr(chunkCanWarm)}""")
    ).flatten.map("," + _).mkString
    // GC provenance: timings under different collectors are not
    // comparable (r10 A/B: ParallelGC is ~11 s warm / ~30 s cold faster
    // than G1 on the full suite), so the record names the collector the
    // JVM actually ran — a cross-GC bench_diff is visible, not silent.
    val gc = {
      import scala.jdk.CollectionConverters._
      val names = java.lang.management.ManagementFactory
        .getGarbageCollectorMXBeans.asScala.map(_.getName)
        .mkString("; ")
      // JSON-escape: an exotic collector name containing a quote or
      // backslash must not corrupt the whole record (parseCommittedWarm
      // would silently swallow the parse failure and drop the baseline).
      Verify.jsonStr(names)
    }
    val line = s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${results.size},"mean_sec":$mean,"warm_total":$warmTotal,"failed":$failedJs,"retimed":$retimedJs,"canary_cold":${arr(canaryCold)},"canary_warm":${arr(canaryWarm)},"canary_uniq_cold":${arr(canaryUniqCold)},"canary_uniq_warm":${arr(canaryUniqWarm)},"canary_every":$canaryEvery,"queries":${js(results)},"queries_warm":${js(warm)},"sf":${Verify.jsonStr(sfDir)},"jvm_gc":$gc$normJs$chunkJs}"""
    println(line)
    // The driver's artifact retains only a stdout tail, which loses most
    // per-query timings; also write the complete line to a committed file
    // so every query has a recorded cold+warm history round-over-round
    // (tools/bench_diff.py reports regressions against the last commit).
    val outFile = BenchArbitration.benchOutPath(sys.env.get)
    if (outFile.nonEmpty)
      try java.nio.file.Files.writeString(
        java.nio.file.Paths.get(outFile), line + "\n")
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] could not write $outFile: ${e.getMessage}")
      }
    ops.Scratch.releaseRun(spark)
    spark.stop()
  }
}
