package graft

import java.nio.file.{Files, Paths}

import graft.plans.ExpandDeferredWith

/** The session definition is a pure function of (environment, system
  * properties): the conf cases below resolve it without a SparkContext.
  * The install cases check graft's session state on the built session,
  * and that a bare session gets it only from [[HarnessSession.install]]. */
class HarnessSessionSpec extends SparkSpec {
  private def fsType(p: String): String = Files.getFileStore(Paths.get(p)).`type`

  private def diskDir(): String = {
    val d = Files.createTempDirectory("graft_local").toString
    assume(fsType(d) != "tmpfs", s"$d is on tmpfs")
    d
  }

  private def assumeShm(): Unit =
    assume(Files.isDirectory(Paths.get("/dev/shm")) && fsType("/dev/shm") == "tmpfs",
      "no tmpfs at /dev/shm")

  private def confs(env: Map[String, String], props: Map[String, String] = Map.empty) =
    HarnessSession.conf(env, props).getAll.toMap

  test("tmpfs is told by the filesystem type of the local dir, not its path") {
    assert(!HarnessSession.onTmpfs(diskDir()))
    assumeShm()
    assert(HarnessSession.onTmpfs("/dev/shm"))
  }

  test("a local dir not created yet takes the type of its nearest existing ancestor") {
    val disk = Paths.get(diskDir())
    assert(!HarnessSession.onTmpfs(disk.resolve("not/yet").toString))
    assumeShm()
    assert(HarnessSession.onTmpfs("/dev/shm/graft-not-yet/spark-local"))
    // a disk path that leads to tmpfs: no path prefix tells this apart
    val link = Files.createSymbolicLink(disk.resolve("shm"), Paths.get("/dev/shm"))
    assert(HarnessSession.onTmpfs(link.resolve("graft-not-yet").toString))
  }

  test("transferTo is decided from SPARK_LOCAL_DIRS, which Spark uses ahead of spark.local.dir") {
    val disk = diskDir()
    assumeShm()
    // tmpfs default dir, but Spark shuffles on the disk dir: keep transferTo
    val onDisk = confs(Map("SPARK_LOCAL_DIRS" -> disk,
      "SPARK_GRAFT_LOCAL_DIR" -> "/dev/shm/graft-not-yet"))
    assert(onDisk("spark.file.transferTo") == "true")
    assert(!onDisk.contains("spark.local.dir"), "a local-dir default Spark would ignore")
    // an explicit disk spark.local.dir is overridden by tmpfs SPARK_LOCAL_DIRS
    val onShm = confs(Map("SPARK_LOCAL_DIRS" -> "/dev/shm/graft-not-yet"),
      Map("spark.local.dir" -> disk))
    assert(onShm("spark.file.transferTo") == "false")
    // inside a YARN container, its LOCAL_DIRS come first
    val yarn = confs(Map("CONTAINER_ID" -> "container_1", "LOCAL_DIRS" -> disk,
      "SPARK_LOCAL_DIRS" -> "/dev/shm/graft-not-yet"))
    assert(yarn("spark.file.transferTo") == "true")
  }

  private val clusterEnv = Map("SPARK_GRAFT_MASTER" -> "local-cluster[2,2,1024]",
    "SPARK_GRAFT_LOCAL_DIR" -> "/dev/shm/graft-not-yet")
  for ((key, default) <- HarnessSession.defaults(clusterEnv, Map.empty)) {
    test(s"an explicit $key wins over its default") {
      val explicit = s"explicit-$default"
      assert(confs(clusterEnv)(key) == default)
      assert(confs(clusterEnv, Map(key -> explicit))(key) == explicit)
    }
  }

  test("a spark-submit master is kept over SPARK_GRAFT_MASTER and local[cpus]") {
    val env = Map("SPARK_GRAFT_CPUS" -> "8", "SPARK_GRAFT_MASTER" -> "local-cluster[2,4,4096]")
    val c = confs(env, Map("spark.master" -> "yarn"))
    assert(c("spark.master") == "yarn")
    assert(!c.contains("spark.executor.extraClassPath"))
    assert(confs(env)("spark.master") == "local-cluster[2,4,4096]")
    assert(confs(Map("SPARK_GRAFT_CPUS" -> "8"))("spark.master") == "local[8]")
  }

  test("SPARK_GRAFT_CPUS sets both the parallelism and the shuffle partitions") {
    val c = confs(Map("SPARK_GRAFT_CPUS" -> "6"))
    assert(c("spark.master") == "local[6]")
    assert(c("spark.sql.shuffle.partitions") == "6")
    val fallback = HarnessSession.conf(Map.empty, Map.empty, defaultCpus = "32").getAll.toMap
    assert(fallback("spark.master") == "local[32]")
    assert(fallback("spark.sql.shuffle.partitions") == "32")
  }

  test("local-cluster adds the executor class path and UTC/ParallelGC executor options") {
    val c = confs(clusterEnv)
    assert(c("spark.executor.extraClassPath") ==
      Paths.get("target/scala-2.13/classes").toAbsolutePath.toString)
    val opts = c("spark.executor.extraJavaOptions").split(" ").toSet
    assert(Set("-Duser.timezone=UTC", "-XX:+UseParallelGC").subsetOf(opts))
    assert(c("spark.executor.memory") == "3g")
    val local = confs(Map("SPARK_GRAFT_CPUS" -> "4"))
    assert(!local.keys.exists(_.startsWith("spark.executor.")))
  }

  test("the bench's inputs resolve to the confs of its recorded runs") {
    val localDir = Paths.get(diskDir(), "spark-local").toString
    // perfbench/run.py: SPARK_GRAFT_CPUS, SPARK_GRAFT_LOCAL_DIR and two -Ds
    val c = confs(Map("SPARK_GRAFT_CPUS" -> "4", "SPARK_GRAFT_LOCAL_DIR" -> localDir),
      Map("spark.ui.enabled" -> "false", "spark.sql.session.timeZone" -> "UTC"))
    assert(c == Map(
      "spark.master" -> "local[4]",
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      "spark.local.dir" -> localDir,
      "spark.file.transferTo" -> "true",
      "spark.shuffle.file.buffer" -> "128k",
      "spark.shuffle.unsafe.file.output.buffer" -> "128k",
      "spark.sql.codegen.cache.maxEntries" -> "5000",
      "spark.sql.codegen.useIdInClassName" -> "false",
      "spark.sql.artifact.isolation.enabled" -> "false",
      "spark.sql.streaming.checkpointFileManagerClass" ->
        "org.apache.spark.sql.GraftCheckpointFileManager"))
  }

  private val nanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"
  private val graftFunctions = Seq("cosine_similarity", "rolling_hash", "geomean")

  test("cosine_similarity is callable from SQL with no registration call") {
    import spark.implicits._
    Seq((Array(1.0f, 0.0f), Array(0.5f, 0.0f)))
      .toDF("a", "b").createOrReplaceTempView("vecs")
    val r = spark.sql(
      "SELECT cosine_similarity(a, b) AS c FROM vecs").head()
    assert(r.getDouble(0) == 1.0)
  }

  test("rolling_hash is callable from SQL with literal window args") {
    import spark.implicits._
    Seq("abcdefghij").toDF("t").createOrReplaceTempView("rh")
    val arr = spark.sql("SELECT rolling_hash(t, 4, 2) AS h FROM rh")
      .head().getSeq[Long](0)
    assert(arr.nonEmpty)
    // non-literal k must be rejected, not silently miscomputed
    val e = intercept[Exception] {
      spark.sql("SELECT rolling_hash(t, length(t), 2) FROM rh").collect()
    }
    assert(e.getMessage.contains("k must be an integer literal"))
  }

  test("geomean is callable from SQL with no registration call") {
    import spark.implicits._
    Seq(1.0, 9.0).toDF("x").createOrReplaceTempView("gm_install")
    val r = spark.sql("SELECT geomean(x) FROM gm_install").head()
    assert(math.abs(r.getDouble(0) - 3.0) < 1e-12)
  }

  test("a built session reads parquet nanos timestamps as longs") {
    assert(spark.conf.get(nanosAsLong) == "true")
  }

  test("install twice leaves exactly one ExpandDeferredWith") {
    def rules = spark.experimental.extraOptimizations.count(_ == ExpandDeferredWith)
    assert(rules == 1, "build installs the rule")
    HarnessSession.install(spark)
    HarnessSession.install(spark)
    assert(rules == 1)
  }

  test("a new session has none of graft's session state until install") {
    val bare = spark.newSession()
    assert(graftFunctions.forall(f => !bare.catalog.functionExists(f)))
    assert(!bare.experimental.extraOptimizations.contains(ExpandDeferredWith))
    assert(bare.conf.get(nanosAsLong) != "true")
    HarnessSession.install(bare)
    assert(graftFunctions.forall(bare.catalog.functionExists))
    assert(bare.experimental.extraOptimizations.count(_ == ExpandDeferredWith) == 1)
    assert(bare.conf.get(nanosAsLong) == "true")
  }
}
