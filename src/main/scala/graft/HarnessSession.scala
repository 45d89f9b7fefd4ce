package graft

import java.io.File
import java.nio.file.{Files, Paths}

import scala.util.Try

import org.apache.spark.SparkConf
import org.apache.spark.sql.{SparkSession, functions}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.types.IntegerType

import graft.functions.{CosineSimilarityExpr, GeoMeanUdaf, RollingHashExpr}
import graft.plans.ExpandDeferredWith

/** The one session definition. Every entry point builds its session here:
  * the production job ([[PipelineMain]]), the DuckDB differential
  * ([[Verify]]), the benches and diagnostic mains, and the test suite
  * (`SparkSpec`). So what is verified is what is measured and what is
  * shipped; `SessionGuardSpec` fails on any other `SparkSession.builder`.
  *
  * '''Precedence.''' [[defaults]] is one table, applied with
  * `SparkConf.setIfMissing` over the `spark.*` system properties. An
  * explicit setting therefore wins for every key: a `-Dspark.x=…`, and
  * spark-submit's `--conf`/`--master`, which reach the driver as system
  * properties. Three environment variables feed the defaults:
  *   - `SPARK_GRAFT_CPUS` (else `defaultCpus`): the local parallelism and
  *     the shuffle partitions;
  *   - `SPARK_GRAFT_MASTER`: the master when `spark.master` is unset (else
  *     `local[cpus]`). `local-cluster[n,cores,mem]` forks real
  *     Worker-launched executor JVMs, which puts process-boundary
  *     serialization and shuffle wire costs under the timed and verified
  *     path; `local[*]` cannot show them (there a broadcast is a
  *     same-classloader reference and a shuffle an in-heap array move);
  *   - `SPARK_GRAFT_LOCAL_DIR`: the shuffle/spill directory default.
  *
  * '''Session state.''' [[install]] puts graft's optimizer rule, SQL
  * functions and parquet read conf on a session; [[build]] calls it, and
  * it is the one place in `src/main` that does (`SessionGuardSpec`). No
  * query constructor or library read changes the session. A session not
  * made by [[build]] (`spark.newSession()`, a spark-shell's `spark`)
  * calls [[install]] itself before running graft queries.
  *
  * '''Production notes.'''
  *   - `GraftCheckpointFileManager` is local-file only. For HDFS/S3
  *     checkpoints pass the stock manager: `--conf
  *     spark.sql.streaming.checkpointFileManagerClass=org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager`.
  *   - The tmpfs `spark.local.dir` default yields to the dirs a cluster
  *     manager sets (`SPARK_LOCAL_DIRS`, YARN's `LOCAL_DIRS`): it is not
  *     set then, and `spark.file.transferTo` is decided from those dirs.
  *   - Shuffle partitions default to the local core count. A cluster run
  *     sets `spark.sql.shuffle.partitions` explicitly, as
  *     `deploy/cluster-submit.sh` does. */
object HarnessSession {

  /** Shuffle/spill scratch directory. Spark's default is /tmp, which on
    * the bench host is a block device; stack-sampling the bench (r16)
    * showed ~30% of shuffle-stage task wall inside shuffle-file syscalls
    * (FileOutputStream.open0, index-file commit, mmap) — f_dsir_weights
    * 3.9→2.7 s and text_surprisal_gate 2.65→1.8 s isolated just by
    * moving spark.local.dir to tmpfs. This is the standard "point local
    * dirs at the fastest local storage" tuning (Spark docs; optimization
    * guide §2.1 — local disk can be the tighter shuffle limit): on a
    * production cluster it is striped NVMe via SPARK_LOCAL_DIRS; in a
    * RAM-rich sandbox the tmpfs IS that disk. Default tmpfs only when
    * present and writable. */
  private def localDir(env: Map[String, String]): Option[String] =
    env.get("SPARK_GRAFT_LOCAL_DIR").orElse {
      val shm = new File("/dev/shm")
      if (shm.isDirectory && shm.canWrite) Some("/dev/shm/graft-spark-local")
      else None
    }

  /** The dirs a cluster manager hands Spark, which it uses ahead of
    * `spark.local.dir` — the order of `Utils.getConfiguredLocalDirs`. */
  private def managerDirs(env: Map[String, String]): Option[Seq[String]] =
    (if (env.contains("CONTAINER_ID")) env.get("LOCAL_DIRS").map(_.split(","))
     else None)
      .orElse(env.get("SPARK_EXECUTOR_DIRS").map(_.split(File.pathSeparator)))
      .orElse(env.get("SPARK_LOCAL_DIRS").map(_.split(",")))
      .map(_.toSeq)

  /** Whether `dir` is (or, once created, will be) on tmpfs: the
    * filesystem type of its nearest existing ancestor. A path prefix would
    * not do: tmpfs can be mounted anywhere, and a `/dev/shm` symlink or
    * bind mount may point at disk. */
  private[graft] def onTmpfs(dir: String): Boolean = {
    val existing = Iterator.iterate(Paths.get(dir).toAbsolutePath.normalize)(_.getParent)
      .takeWhile(_ != null).find(Files.exists(_))
    existing.exists(p => Try(Files.getFileStore(p).`type`).toOption.contains("tmpfs"))
  }

  /** The session's defaults for this environment and these system
    * properties, in the order they are applied. `props` is read only to
    * resolve the keys the later defaults depend on (master, local dirs). */
  private[graft] def defaults(env: Map[String, String], props: Map[String, String],
                              defaultCpus: String = "4"): Seq[(String, String)] = {
    val cpus = env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus)
    val master = props.getOrElse("spark.master",
      env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]"))
    val managed = managerDirs(env)
    val dirDefault = if (managed.isEmpty) localDir(env) else None
    val dirs = managed.getOrElse(props.get("spark.local.dir").orElse(dirDefault)
      .getOrElse(props.getOrElse("java.io.tmpdir", "/tmp")).split(",").toSeq)
    Seq(
      "spark.master" -> master,
      "spark.sql.shuffle.partitions" -> cpus,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
    ) ++ dirDefault.map("spark.local.dir" -> _) ++ Seq(
      // Shuffle-file copy path, paired with the tmpfs local dir (r17):
      // the bypass-merge writer concatenates per-partition files via
      // FileChannel.transferTo, which on this path mmaps the source in
      // chunks and unmaps per chunk — stack-sampling the streaming and
      // shuffle-heavy queries put map0/unmap0 at the TOP of executor
      // samples (546+382 of ~1,200 busy samples). On tmpfs the data is
      // already in RAM, so the mmap/unmap page-table churn buys nothing
      // over a plain buffered copy: spark.file.transferTo=false measured
      // f_dsir_weights 1.92→1.23 s, text_surprisal_gate 1.26→0.86 s,
      // dedup_setsim_pairs 1.12→0.95 s (isolated pass-3 A/B). The conf
      // exists for exactly this class of filesystem quirk. False only
      // when every dir Spark writes to IS tmpfs; real-disk deployments
      // keep Spark's default and re-measure (transferTo wins on NVMe where
      // sendfile avoids double-buffering).
      "spark.file.transferTo" -> (!dirs.forall(onTmpfs)).toString,
      // Larger shuffle write buffers (32k → 128k): fewer write syscalls
      // per produced shuffle file; +A/B on top of transferTo=false:
      // streaming_admission 1.74→1.48 s, f_dsir 1.23→1.13 s, rest flat.
      // Bounded: 128k × shuffle partitions × concurrent tasks ≈ 128 MB
      // transient worst-case at the 32-way local recipe.
      "spark.shuffle.file.buffer" -> "128k",
      "spark.shuffle.unsafe.file.output.buffer" -> "128k",
      // Codegen class cache sized for a MULTI-QUERY session (r16): the
      // default 100-entry LRU is sized for one query's worth of codegen
      // units; a 221-query suite generates ~1,300 distinct units per
      // pass, so the "warm" pass thrashed the cache and re-ran Janino on
      // 1,119 of them (measured via CodegenMetrics: 70-query mini-suite,
      // warm pass 1,119 compiles / 50.4 s at 100 entries vs 35 compiles /
      // 32.9 s at a large cache). 5000 holds two full passes with slack
      // (~1,300 classes ≈ tens of MB of metaspace); any long-lived
      // multi-query deployment (Thrift server, notebook cluster) wants
      // the same.
      "spark.sql.codegen.cache.maxEntries" -> "5000",
      // Canonical codegen class names (the conf exists for exactly this):
      // with the stage id embedded, structurally IDENTICAL stages from
      // different queries hash to different generated source and miss the
      // cache. Measured on the 70-query mini-suite: pass-1 compiles
      // 1,074→1,010 (wall 68.3→64.5 s), warm-pass compiles 42→19
      // (31.7→27.7 s). Cost: generated frames all read "GeneratedClass"
      // instead of carrying the stage id.
      "spark.sql.codegen.useIdInClassName" -> "false",
      // Session-artifact isolation OFF (r17): Spark 4 keys the codegen
      // cache on (context classloader, source), and with isolation on,
      // EVERY streaming query start clones the session into a fresh
      // sessionUUID-keyed JobArtifactState whose tasks run under a new
      // ExecutorClassLoader — so each of the ~12 streaming runs per
      // bench pass re-Janino'd its full plan (~130 units/pass; measured
      // via CodegenMetrics: 12 compiles per repeat run → 0 with
      // isolation off, OPTIMIZATION_r17.md fix 1), and one classloader +
      // metaspace footprint accumulated per run. The isolation exists to fence
      // per-session third-party artifacts (Spark Connect multi-tenancy);
      // this engine adds none, so the single-tenant setting is OFF.
      "spark.sql.artifact.isolation.enabled" -> "false",
      // Fork-free local checkpoint I/O (r17): with no native Hadoop lib,
      // every checkpoint mkdir/create shells out a `chmod` (60 forks per
      // AvailableNow run measured) and writes a `.crc` twin per file.
      // GraftCheckpointFileManager keeps the atomic-rename commit
      // contract over java.nio instead; local paths only (see the
      // production notes above).
      "spark.sql.streaming.checkpointFileManagerClass" ->
        "org.apache.spark.sql.GraftCheckpointFileManager",
    ) ++ (if (!master.startsWith("local-cluster")) Nil else Seq(
      // forked executors get SPARK_HOME/jars but not this build's classes
      // dir (CNFE on the first task otherwise), and the JVM default
      // timezone does not propagate (only SQL confs do). ParallelGC on
      // executors for the same reason the driver recipe pins it
      // (SCALE.md bench methodology r10: batch suite, no pause SLO — the
      // throughput collector wins ~7% warm over G1).
      "spark.executor.extraClassPath" ->
        new File("target/scala-2.13/classes").getAbsolutePath,
      "spark.executor.extraJavaOptions" -> "-Duser.timezone=UTC -XX:+UseParallelGC",
      "spark.executor.memory" -> "3g",
    ))
  }

  /** The session's conf: the `spark.*` entries of `props`, then every
    * default they leave unset. */
  private[graft] def conf(env: Map[String, String], props: Map[String, String],
                          defaultCpus: String = "4"): SparkConf = {
    val conf = new SparkConf(false)
      .setAll(props.filter { case (k, _) => k.startsWith("spark.") })
    defaults(env, props, defaultCpus).foreach { case (k, v) => conf.setIfMissing(k, v) }
    conf
  }

  /** `defaultCpus` is the fallback when SPARK_GRAFT_CPUS is unset — the
    * arbiters default small (4), the growth harness to the full box (32,
    * matching its committed tables). */
  def build(defaultCpus: String = "4"): SparkSession = {
    val spark = SparkSession.builder()
      .config(conf(sys.env, sys.props.toMap, defaultCpus)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    install(spark)
    spark
  }

  /** Install graft's session state on `spark`. Idempotent, on the pattern
    * of Pathling's `SqlStrategy.setup`:
    *   - [[ExpandDeferredWith]] in `extraOptimizations`, which
    *     SparkOptimizer runs as its LAST batch. It must stay there:
    *     `injectOptimizerRule` lands in the operator-optimization batch,
    *     where the expanded defs would be re-inlined by pushdown (see
    *     [[graft.plans.DeferredWith]]);
    *   - the SQL functions `cosine_similarity`, `rolling_hash` (the
    *     codegen'd expressions) and `geomean` (the typed [[GeoMeanUdaf]]);
    *   - `spark.sql.legacy.parquet.nanosAsLong=true`, forced rather than a
    *     [[defaults]] entry: fixtures whose `events.ts` is TIMESTAMP(NANOS)
    *     fail to read without it, and `io.Sources.normalizeTs` rebuilds
    *     the timestamps from the longs. */
  def install(spark: SparkSession): Unit = {
    val extra = spark.experimental.extraOptimizations
    if (!extra.contains(ExpandDeferredWith))
      spark.experimental.extraOptimizations = extra :+ ExpandDeferredWith
    val registry = spark.sessionState.functionRegistry
    registry.createOrReplaceTempFunction("cosine_similarity", cosineSimilarity, "built-in")
    registry.createOrReplaceTempFunction("rolling_hash", rollingHash, "built-in")
    spark.udf.register("geomean", functions.udaf(GeoMeanUdaf))
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
  }

  private def cosineSimilarity(args: Seq[Expression]): Expression = {
    require(args.length == 2,
      s"cosine_similarity expects 2 arguments, got ${args.length}")
    CosineSimilarityExpr(args(0), args(1))
  }

  private def rollingHash(args: Seq[Expression]): Expression = {
    require(args.length == 3,
      s"rolling_hash expects (str, k, stride), got ${args.length} args")
    def intLit(e: Expression, name: String): Int = e match {
      case Literal(v: Int, IntegerType) => v
      case other => throw new IllegalArgumentException(
        s"rolling_hash: $name must be an integer literal, got $other")
    }
    RollingHashExpr(args.head, intLit(args(1), "k"), intLit(args(2), "stride"))
  }
}
