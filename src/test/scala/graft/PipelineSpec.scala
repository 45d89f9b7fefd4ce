package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerTaskEnd}
import org.apache.spark.sql.{AnalysisException, GraftShims}
import org.apache.spark.sql.execution.{LogicalRDD, SparkPlanInfo}
import org.apache.spark.sql.execution.ui.{
  SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}

import graft.etl.Validate
import graft.model.Schemas

class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private def write(dir: Path, name: String, lines: String*): Unit =
    Files.writeString(dir.resolve(name), lines.mkString("\n"))

  /** Fixture per FIXTURES.md §A: two stream batch files (each with its own
    * header — the reference's concat bug case, SURVEY §2.11-1), an
    * unparseable timestamp, an unmatched track_id, a popularity tie. */
  private def fixtures(): (Path, Path) = {
    val in = Files.createTempDirectory("graft_in")
    val streams = in.resolve("streams"); Files.createDirectory(streams)
    write(streams, "b1.csv",
      "user_id,track_id,listen_time",
      "1,t1,2024-06-25 10:05:00",
      "2,t2,2024-06-25 10:40:00",
      "1,t3,2024-06-25 11:10:00")
    write(streams, "b2.csv",
      "user_id,track_id,listen_time",
      "3,t1,2024-06-25 10:59:00",
      "3,tX,2024-06-25 12:00:00", // no such song → null genre → dropped in KPIs
      "2,t2,not-a-timestamp")     // coerced null → dropped in KPIs
    write(in, "users.csv",
      "user_id,user_name,user_age,user_country,created_at",
      "1,ann,30,DE,2024-01-01", "2,bob,40,US,2024-01-02",
      "3,cat,25,FR,2024-01-03")
    write(in, "songs.csv",
      Schemas.songs.fieldNames.mkString(","),
      "1,t1,ArtA,Al1,Song1,80,100,false,0,0,0,0,0,0,0,0,0,0,0,4,rock",
      "2,t2,ArtB,Al2,Song2,90,200,false,0,0,0,0,0,0,0,0,0,0,0,4,rock",
      "3,t3,ArtA,Al3,Song3,90,300,true,0,0,0,0,0,0,0,0,0,0,0,4,")
    val out = Files.createTempDirectory("graft_out")
    (in, out)
  }

  /** Runs `body` with no cached frame and no persisted RDD and checks it
    * leaves none: whatever the run keeps must be released on every exit
    * path. */
  private def noCacheLeak[A](body: => A): A = {
    clearCaches()
    val a = body
    assertNoCache("Pipeline.run")
    a
  }

  private def clearCaches(): Unit = {
    spark.catalog.clearCache()
    sc.getPersistentRDDs.values.foreach(_.unpersist())
  }

  private def assertNoCache(after: Any): Unit = {
    assert(spark.sharedState.cacheManager.isEmpty, s"cached frame leaked after $after")
    assert(sc.getPersistentRDDs.isEmpty, s"persisted RDD leaked after $after")
  }

  /** The SQL executions that start while `body` runs: every version of
    * each one's physical plan (AQE re-plans included), and the task
    * updates of every accumulator. */
  private def sqlExecutions(body: => Unit)
      : (Map[Long, Seq[SparkPlanInfo]], Map[Long, Long]) = {
    val plans = new ConcurrentHashMap[Long, Seq[SparkPlanInfo]]()
    val updates = new ConcurrentHashMap[Long, Long]()
    def add(id: Long, p: SparkPlanInfo): Unit = plans.merge(id, Seq(p), _ ++ _)
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        e.taskInfo.accumulables.foreach(a => a.update.foreach {
          case v: Long => updates.merge(a.id, v, _ + _)
          case _ =>
        })
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => add(s.executionId, s.sparkPlanInfo)
        case u: SparkListenerSQLAdaptiveExecutionUpdate => add(u.executionId, u.sparkPlanInfo)
        case _ =>
      }
    }
    GraftShims.drainListenerBus(spark)
    sc.addSparkListener(listener)
    try {
      body
      GraftShims.drainListenerBus(spark)
    } finally sc.removeSparkListener(listener)
    (plans.asScala.toMap, updates.asScala.toMap)
  }

  private def nodes(p: SparkPlanInfo): Seq[SparkPlanInfo] =
    p +: p.children.flatMap(nodes)

  /** Rows the CSV scans produce while `body` runs, over every task: the
    * scans' "number of output rows" metrics, found in the SQL plans Spark
    * reports and summed from the task updates. Task input records would not
    * do: a read of kept rows counts as input records too. */
  private def csvRowsScanned(body: => Unit): Long = {
    val (plans, updates) = sqlExecutions(body)
    plans.values.flatten.flatMap(nodes).filter(_.nodeName.startsWith("Scan csv"))
      .flatMap(_.metrics.filter(_.name == "number of output rows"))
      .map(_.accumulatorId).toSeq.distinct.map(id => updates.getOrElse(id, 0L)).sum
  }

  test("end-to-end: multi-file streams → KPI tables, reference semantics") {
    val (in, out) = fixtures()
    val res = noCacheLeak(Pipeline.run(spark, s"$in/streams",
      s"$in/users.csv", s"$in/songs.csv", out.toString))
    // the returned frames are lazy: collected after the run released its
    // cache, they recompute from the inputs
    val Pipeline.Completed(genre, hourly) = res: @unchecked

    val g = genre.orderBy("track_genre").collect()
    // t3's genre is empty→null in CSV, then filled "Unkown" by F3.
    assert(g.map(_.getAs[String]("track_genre")).toSeq ==
      Seq("Unkown", "rock"))
    val rock = g(1)
    assert(rock.getAs[Long]("listen_count") == 3) // t1,t2,t1 (bad-ts dropped)
    // popularity tie 90 (t2 Song2, t3 Song3): Song2 wins alphabetically —
    // but t3 is in "Unkown", so rock's top is Song2 (90 beats t1's 80).
    assert(rock.getAs[String]("most_popular_track") == "Song2")

    val h = hourly.orderBy("hour").collect()
    assert(h.map(_.getAs[Int]("hour")).toSeq == Seq(10, 11, 12))
    val h10 = h(0)
    assert(h10.getAs[Long]("unique_listeners") == 3) // users 1,2,3 in hour 10
    assert(h10.getAs[String]("top_artist") == "ArtA") // 2 plays of t1
    // hour 12: the unmatched track tX still counts (null artist dropped from
    // top-artist ranking, so top_artist is null there)
    assert(h(2).getAs[Long]("unique_listeners") == 1)
    assert(h(2).get(h(2).fieldIndex("top_artist")) == null)

    // per-file headers never leak in as data rows (Spark multi-file CSV)
    assert(genre.filter($"track_genre" === "track_genre").isEmpty)
  }

  test("KPI parquet is date-partitioned and re-runs idempotently") {
    val (in, out) = fixtures()
    Pipeline.run(spark, s"$in/streams", s"$in/users.csv", s"$in/songs.csv",
      out.toString)
    val first = spark.read.parquet(s"$out/genre_kpis").count()
    assert(Files.exists(out.resolve("genre_kpis/date=2024-06-25")))
    Pipeline.run(spark, s"$in/streams", s"$in/users.csv", s"$in/songs.csv",
      out.toString) // re-run must NOT append duplicates (SURVEY §2.11-2)
    assert(spark.read.parquet(s"$out/genre_kpis").count() == first)
  }

  test("read once: each CSV is scanned once per run") {
    val (in, out) = fixtures()
    // 6 stream rows over two files + 3 songs; users.csv is only validated
    val rows = csvRowsScanned(Pipeline.run(spark, s"$in/streams",
      s"$in/users.csv", s"$in/songs.csv", out.toString))
    assert(rows == 6 + 3)
  }

  test("the KPI writes read the kept enriched rows, narrowed to the KPI columns") {
    val (in, out) = fixtures()
    var res: Pipeline.Outcome = null
    val (plans, _) = sqlExecutions {
      res = Pipeline.run(spark, s"$in/streams", s"$in/users.csv",
        s"$in/songs.csv", out.toString)
    }
    val writes = plans.values.map(_.flatMap(nodes).map(_.nodeName))
      .filter(_.exists(_.contains("InsertIntoHadoopFsRelationCommand"))).toSeq
    assert(writes.size == 2, plans)
    writes.foreach { names =>
      assert(names.contains("Scan ExistingRDD"), names)
      assert(!names.exists(n => n.startsWith("Scan csv") ||
        n.startsWith("InMemoryTableScan")), names)
    }
    val Pipeline.Completed(genre, hourly) = res: @unchecked
    val kept = Seq(genre, hourly).flatMap(_.queryExecution.analyzed.collectLeaves())
    assert(kept.nonEmpty && kept.forall(_.isInstanceOf[LogicalRDD]), kept)
    kept.foreach(r => assert(r.output.map(_.name).toSet == Set("user_id",
      "track_id", "date", "hour", "artists", "track_name", "popularity",
      "duration_ms", "track_genre") && r.output.size == 9, r.output))
    // the enriched plan's size estimate, not Spark's default for a relation
    // of unknown size
    kept.foreach(r => assert(r.stats.sizeInBytes < Long.MaxValue, r.stats))
  }

  test("empty input dir stops the run (S1 branch)") {
    val empty = Files.createTempDirectory("graft_empty")
    val res = noCacheLeak(Pipeline.run(spark, empty.toString, "x", "y", "z"))
    assert(res == Pipeline.NoStreams)
  }

  test("a failed KPI write is thrown after the other write ends, cache released") {
    val (in, out) = fixtures()
    // a plain file where the hourly table's directory belongs
    Files.writeString(out.resolve("hourly_kpis"), "not a directory")
    clearCaches()
    val err = intercept[Exception](Pipeline.run(spark, s"$in/streams",
      s"$in/users.csv", s"$in/songs.csv", out.toString))
    assertNoCache(err)
    // the genre write had committed when the error surfaced
    val genre = out.resolve("genre_kpis")
    assert(Files.exists(genre.resolve("date=2024-06-25")))
    assert(!genre.toFile.list().exists(_.startsWith(".spark-staging")))
    assert(spark.read.parquet(genre.toString).count() == 2)
  }

  test("a failed materialization of the enriched rows releases them") {
    val (in, out) = fixtures()
    // a non-numeric user_id fails its cast (ANSI, Spark's default) in the
    // job that computes the kept rows, before any write starts
    write(in.resolve("streams"), "b3.csv",
      "user_id,track_id,listen_time", "nobody,t1,2024-06-25 10:00:00")
    clearCaches()
    val err = intercept[Exception](Pipeline.run(spark, s"$in/streams",
      s"$in/users.csv", s"$in/songs.csv", out.toString))
    assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .exists(e => Option(e.getMessage).exists(_.contains("CAST_INVALID_INPUT"))), err)
    assertNoCache(err)
    assert(!Files.exists(out.resolve("genre_kpis")))
    assert(!Files.exists(out.resolve("hourly_kpis")))
  }

  test("a missing users.csv still fails with Spark's path-not-found error") {
    val (in, out) = fixtures()
    val e = intercept[AnalysisException](Pipeline.run(spark, s"$in/streams",
      s"$in/nope.csv", s"$in/songs.csv", out.toString))
    assert(e.getCondition == "PATH_NOT_FOUND", e.getMessage)
  }

  test("a 0-byte songs.csv has no columns: the run stops at validation") {
    val (in, out) = fixtures()
    write(in, "empty_songs.csv")
    val res = noCacheLeak(Pipeline.run(spark, s"$in/streams",
      s"$in/users.csv", s"$in/empty_songs.csv", out.toString))
    assert(res == Pipeline.InvalidColumns(Seq(
      Validate.MissingColumns("songs", Schemas.requiredSongCols))))
  }

  test("missing required columns stop the run (F1 branch)") {
    val (in, out) = fixtures()
    // users file lacking user_country
    write(in, "bad_users.csv", "user_id,user_name", "1,ann")
    val res = noCacheLeak(Pipeline.run(spark, s"$in/streams",
      s"$in/bad_users.csv", s"$in/songs.csv", out.toString))
    res match {
      case Pipeline.InvalidColumns(errs) =>
        assert(errs.exists(e => e.table == "users" &&
          e.missing.contains("user_country")))
      case other => fail(s"expected InvalidColumns, got $other")
    }
  }

  test("fillUnknown touches only string columns (F3 sane-ified)") {
    val df = Seq((Some(1), Option.empty[String]), (None, Some("x")))
      .toDF("num", "str")
    val out = Validate.fillUnknown(df).collect()
    assert(out.map(_.getAs[String]("str")).toSet == Set("Unkown", "x"))
    assert(out.exists(_.get(0) == null)) // numeric null untouched
  }
}
