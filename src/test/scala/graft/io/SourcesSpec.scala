package graft.io

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.GraftShims

import graft.SparkSpec
import graft.etl.Validate

class SourcesSpec extends SparkSpec {

  test("inputExists handles literal dirs, globs, and empty/missing paths") {
    val dir = Files.createTempDirectory("graft_src")
    val batches = dir.resolve("batches")
    Files.createDirectory(batches)

    // empty dir → no input
    assert(!Sources.inputExists(spark, batches.toString))
    // glob with no matches → no input
    assert(!Sources.inputExists(spark, s"$batches/*.csv"))
    // missing path → no input (not an exception)
    assert(!Sources.inputExists(spark, s"$dir/nope"))

    Files.writeString(batches.resolve("b1.csv"), "user_id\n1\n")
    // literal dir with a non-empty file
    assert(Sources.inputExists(spark, batches.toString))
    // glob matching the file (the orchestrator's usual form)
    assert(Sources.inputExists(spark, s"$batches/*.csv"))
    // glob matching nothing despite other files present
    assert(!Sources.inputExists(spark, s"$batches/*.parquet"))

    // zero-byte file does not count as input
    val empty = dir.resolve("empty")
    Files.createDirectory(empty)
    Files.writeString(empty.resolve("z.csv"), "")
    assert(!Sources.inputExists(spark, s"$empty/*.csv"))
  }

  private def file(dir: Path, name: String, text: String): String = {
    Files.write(dir.resolve(name), text.getBytes(UTF_8))
    dir.resolve(name).toString
  }

  private def gzip(dir: Path, name: String, text: String): String = {
    val out = new java.util.zip.GZIPOutputStream(
      Files.newOutputStream(dir.resolve(name)))
    try out.write(text.getBytes(UTF_8)) finally out.close()
    dir.resolve(name).toString
  }

  test("csvRaw resolves the same header columns as Spark's inference") {
    val dir = Files.createTempDirectory("graft_header")
    val single = Seq(
      file(dir, "quoted.csv", "\"user_id\",\"track id\",\"a,b\"\n1,t1,x\n"),
      file(dir, "blank.csv", "user_id,,track_id\n1,x,t1\n"),
      file(dir, "dups.csv", "a,b,A,a\n1,2,3,4\n"),
      file(dir, "bom.csv", "\uFEFFuser_id,track_id\n1,t1\n"),
      file(dir, "leading_blank.csv", "\n  \nuser_id,x\n1,2\n"),
      gzip(dir, "packed.csv.gz", "user_id,track_id\n1,t1\n"))
    // a multi-file input whose files differ in size and header: inference
    // reads the largest visible non-empty file, here large.csv
    val multi = Files.createDirectory(dir.resolve("multi"))
    file(multi, "small.csv", "s1,s2\n1,2\n")
    file(multi, "large.csv", "l1,l2,l3\n" + "1,2,3\n" * 20)
    file(multi, "_hidden.csv", "h1\n" + "1\n" * 100)
    file(multi, "zero.csv", "")
    for (p <- single ++ Seq(s"$multi/*.csv", multi.toString)) {
      val want = spark.read.option("header", "true").csv(p)
      val got = Sources.csvRaw(spark, p)
      assert(got.columns.toSeq == want.columns.toSeq, p)
      assert(got.collect().map(_.toString).sorted.toSeq ==
        want.collect().map(_.toString).sorted.toSeq, p)
    }
    assert(Sources.csvRaw(spark, s"$multi/*.csv").columns.toSeq ==
      Seq("l1", "l2", "l3"))
  }

  test("opening and validating CSV sources runs no Spark job") {
    val dir = Files.createTempDirectory("graft_nojobs")
    val streams = Files.createDirectory(dir.resolve("streams"))
    file(streams, "b1.csv", "user_id,track_id,listen_time\n1,t1,2024-06-25 10:05:00\n")
    file(streams, "b2.csv", "user_id,track_id,listen_time\n2,t2,2024-06-25 11:05:00\n")
    val users = file(dir, "users.csv", "user_id,user_name\n1,ann\n")
    val songs = file(dir, "songs.csv", "track_id,track_genre\nt1,rock\n")
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    GraftShims.drainListenerBus(spark)
    sc.addSparkListener(listener)
    try {
      Seq(s"$streams/*.csv", users, songs).foreach { p =>
        Validate.requiredColumns(p, Sources.csvRaw(spark, p), Set("user_id"))
      }
      GraftShims.drainListenerBus(spark)
    } finally sc.removeSparkListener(listener)
    assert(jobs.get == 0)
  }
}
