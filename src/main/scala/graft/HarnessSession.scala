package graft

import java.nio.file.{Files, Paths}

import scala.util.Try

import org.apache.spark.sql.SparkSession

/** Shared session builder for the bench harnesses (Bench / BenchOne /
  * BenchGrowth), honoring the same SPARK_GRAFT_MASTER override as
  * [[Verify]]: `local-cluster[n,cores,mem]` forks real Worker-launched
  * executor JVMs, putting genuine process-boundary serialization and
  * shuffle wire costs under the TIMED path — the last term of the 100×
  * extrapolation `local[*]` cannot measure (there, broadcast handoff is a
  * same-classloader reference and "shuffle" is an in-heap array move). */
object HarnessSession {
  /** `defaultCpus` is the fallback when SPARK_GRAFT_CPUS is unset — the
    * arbiters default small (4), the growth harness to the full box (32,
    * matching its committed tables). */
  /** Shuffle/spill scratch directory. Spark's default is /tmp, which on
    * this box is a block device; stack-sampling the bench (r16) showed
    * ~30% of shuffle-stage task wall inside shuffle-file syscalls
    * (FileOutputStream.open0, index-file commit, mmap) — f_dsir_weights
    * 3.9→2.7 s and text_surprisal_gate 2.65→1.8 s isolated just by
    * moving spark.local.dir to tmpfs. This is the standard "point
    * local dirs at the fastest local storage" tuning (Spark docs;
    * optimization guide §2.1 — local disk can be the tighter shuffle
    * limit): on a production cluster it is striped NVMe via
    * SPARK_LOCAL_DIRS; in a RAM-rich sandbox the tmpfs IS that disk.
    * Parameterized (SPARK_GRAFT_LOCAL_DIR wins; explicit -D wins too
    * since builder config only fills unset keys), default tmpfs only
    * when present and writable. */
  private def localDir: Option[String] =
    sys.env.get("SPARK_GRAFT_LOCAL_DIR").orElse {
      val shm = new java.io.File("/dev/shm")
      if (shm.isDirectory && shm.canWrite)
        Some("/dev/shm/graft-spark-local")
      else None
    }

  /** Whether `dir` is (or, once created, will be) on tmpfs: the
    * filesystem type of its nearest existing ancestor. A path prefix would
    * not do: tmpfs can be mounted anywhere, and a `/dev/shm` symlink or
    * bind mount may point at disk. */
  private[graft] def onTmpfs(dir: String): Boolean = {
    val existing = Iterator.iterate(Paths.get(dir).toAbsolutePath.normalize)(_.getParent)
      .takeWhile(_ != null).find(Files.exists(_))
    existing.exists(p => Try(Files.getFileStore(p).`type`).toOption.contains("tmpfs"))
  }

  def build(defaultCpus: String = "4"): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus)
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")
    val resolvedLocalDir = sys.props.getOrElse("spark.local.dir",
      localDir.getOrElse(sys.props.getOrElse("java.io.tmpdir", "/tmp")))
    val builder = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.local.dir", resolvedLocalDir)
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
      // exists for exactly this class of filesystem quirk. Default only
      // when the shuffle dirs ARE tmpfs; real-disk deployments keep
      // Spark's default and re-measure (transferTo wins on NVMe where
      // sendfile avoids double-buffering).
      .config("spark.file.transferTo",
        sys.props.getOrElse("spark.file.transferTo",
          if (resolvedLocalDir.split(",").forall(onTmpfs)) "false" else "true"))
      // Larger shuffle write buffers (32k → 128k): fewer write syscalls
      // per produced shuffle file; +A/B on top of transferTo=false:
      // streaming_admission 1.74→1.48 s, f_dsir 1.23→1.13 s, rest flat.
      // Bounded: 128k × shuffle partitions × concurrent tasks ≈ 128 MB
      // transient worst-case at the 32-way local recipe.
      .config("spark.shuffle.file.buffer",
        sys.props.getOrElse("spark.shuffle.file.buffer", "128k"))
      .config("spark.shuffle.unsafe.file.output.buffer",
        sys.props.getOrElse("spark.shuffle.unsafe.file.output.buffer",
          "128k"))
      // Codegen class cache sized for a MULTI-QUERY session (r16): the
      // default 100-entry LRU is sized for one query's worth of codegen
      // units; a 221-query suite generates ~1,300 distinct units per
      // pass, so the "warm" pass thrashed the cache and re-ran Janino on
      // 1,119 of them (measured via CodegenMetrics: 70-query mini-suite,
      // warm pass 1,119 compiles / 50.4 s at 100 entries vs 35 compiles /
      // 32.9 s at a large cache). 5000 holds two full passes with slack
      // (~1,300 classes ≈ tens of MB of metaspace); any long-lived
      // multi-query deployment (Thrift server, notebook cluster) wants
      // the same. Env-overridable; an explicit -D wins.
      .config("spark.sql.codegen.cache.maxEntries",
        sys.props.getOrElse("spark.sql.codegen.cache.maxEntries",
          sys.env.getOrElse("SPARK_GRAFT_CODEGEN_CACHE", "5000")))
      // Canonical codegen class names (the conf exists for exactly this):
      // with the stage id embedded, structurally IDENTICAL stages from
      // different queries hash to different generated source and miss the
      // cache. Measured on the 70-query mini-suite: pass-1 compiles
      // 1,074→1,010 (wall 68.3→64.5 s), warm-pass compiles 42→19
      // (31.7→27.7 s). Cost: generated frames all read "GeneratedClass"
      // instead of carrying the stage id — acceptable for a bench
      // session, and an explicit -D restores the default.
      .config("spark.sql.codegen.useIdInClassName",
        sys.props.getOrElse("spark.sql.codegen.useIdInClassName", "false"))
      // Session-artifact isolation OFF (r17): Spark 4 keys the codegen
      // cache on (context classloader, source), and with isolation on,
      // EVERY streaming query start clones the session into a fresh
      // sessionUUID-keyed JobArtifactState whose tasks run under a new
      // ExecutorClassLoader — so each of the ~12 streaming runs per
      // bench pass re-Janino'd its full plan (~130 units/pass; measured
      // via CodegenMetrics: 12 compiles per repeat run → 0 with
      // isolation off, CgDiffProbe), and one classloader + metaspace
      // footprint accumulated per run. The isolation exists to fence
      // per-session third-party artifacts (Spark Connect multi-tenancy);
      // this engine adds none, so the single-tenant deployment setting
      // is OFF — same class of fix as the codegen cache sizing above.
      // Env-overridable; an explicit -D wins.
      .config("spark.sql.artifact.isolation.enabled",
        sys.props.getOrElse("spark.sql.artifact.isolation.enabled",
          sys.env.getOrElse("SPARK_GRAFT_ARTIFACT_ISOLATION", "false")))
      // Fork-free local checkpoint I/O (r17): with no native Hadoop lib,
      // every checkpoint mkdir/create shells out a `chmod` (60 forks per
      // AvailableNow run measured) and writes a `.crc` twin per file.
      // GraftCheckpointFileManager keeps the atomic-rename commit
      // contract over java.nio instead; local paths only (it rejects
      // non-file schemes loudly — unset for HDFS/object-store
      // checkpoints). Env-overridable; explicit -D wins.
      .config("spark.sql.streaming.checkpointFileManagerClass",
        sys.props.getOrElse("spark.sql.streaming.checkpointFileManagerClass",
          sys.env.getOrElse("SPARK_GRAFT_CKPT_FM",
            "org.apache.spark.sql.GraftCheckpointFileManager")))
      .config("spark.sql.session.timeZone", "UTC")
      // overridable default (builder .config beats -D; see Verify)
      .config("spark.sql.adaptive.enabled",
        sys.props.getOrElse("spark.sql.adaptive.enabled", "true"))
      .config("spark.ui.enabled", "false")
    if (master.startsWith("local-cluster")) {
      // forked executors get SPARK_HOME/jars but not this sbt build's
      // classes dir (CNFE otherwise), and the JVM default timezone does
      // not propagate (only SQL confs do) — same provisions as Verify
      val classesDir = new java.io.File("target/scala-2.13/classes")
        .getAbsolutePath
      builder
        .config("spark.executor.extraClassPath", classesDir)
        // ParallelGC on executors for the same reason the driver recipe
        // pins it (SCALE.md bench methodology r10: batch suite, no pause
        // SLO — the throughput collector wins ~7% warm over G1); extra
        // opts ride GRAFT_EXECUTOR_EXTRA_JAVA_OPTS for sweeps.
        .config("spark.executor.extraJavaOptions",
          "-Duser.timezone=UTC -XX:+UseParallelGC " +
            sys.env.getOrElse("GRAFT_EXECUTOR_EXTRA_JAVA_OPTS", ""))
        .config("spark.executor.memory",
          sys.env.getOrElse("SPARK_GRAFT_EXECUTOR_MEM", "3g"))
    }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
