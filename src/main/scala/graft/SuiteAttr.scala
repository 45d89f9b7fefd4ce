package graft

/** Diagnostic arbiter: per-query attribution in one session —
  * `SuiteAttr [passes] [name,name…]` (default: 2 passes over every
  * SparkEntry query). For every query and pass it prints construction
  * seconds (driver-side plan building incl. eager jobs, e.g. a
  * zipWithIndex count job), execution seconds (noop sink), the Janino
  * compile-unit COUNT delta (CodegenMetrics — the r16 cold-pass constant
  * is first-compiles; summed per pass it is the codegen-cache thrash
  * check), and task wall/CPU/GC sums (wall ≫ CPU means tasks are BLOCKED
  * on a lock or I/O, not computing). Post-processed offline to rank where
  * the cold pass's compile budget and the warm pass's driver constant
  * live. */
object SuiteAttr {
  def main(args: Array[String]): Unit = {
    import org.apache.spark.scheduler._
    import java.util.concurrent.atomic.AtomicLong
    val passes = args.headOption.map(_.toInt).getOrElse(2)
    val only = args.lift(1).map(_.split(",").toSeq)
    val spark = HarnessSession.build()
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val wall = new AtomicLong(0); val cpu = new AtomicLong(0)
    val gc = new AtomicLong(0)
    val nTasks = new AtomicLong(0); val nJobs = new AtomicLong(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        nJobs.incrementAndGet()
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (t.taskInfo != null) {
          wall.addAndGet(t.taskInfo.duration); nTasks.incrementAndGet()
          if (t.taskMetrics != null) {
            cpu.addAndGet(t.taskMetrics.executorCpuTime / 1000000L)
            gc.addAndGet(t.taskMetrics.jvmGCTime)
          }
        }
    })
    def compiles = org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME.getCount
    // warmup identical to Bench's untimed session warmup
    try SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }
    try queries.CoreQueries.warmShared(spark, dir)
    catch { case scala.util.control.NonFatal(_) => () }
    try queries.GraphQueries.warmEdges(spark, dir)
    catch { case scala.util.control.NonFatal(_) => () }
    try queries.OperatorQueries.stageBucketed(spark, dir)
    catch { case scala.util.control.NonFatal(_) => () }
    val q = SparkEntry.queries
    val names = only.getOrElse(q.keys.toSeq.sorted)
    (1 to passes).foreach { pass =>
      names.foreach { name =>
        org.apache.spark.sql.GraftShims.drainListenerBus(spark)
        wall.set(0); cpu.set(0); gc.set(0); nTasks.set(0); nJobs.set(0)
        val c0 = compiles
        val t0 = System.nanoTime
        try {
          val df = q(name)(spark, dir)
          val t1 = System.nanoTime
          df.write.format("noop").mode("overwrite").save()
          val t2 = System.nanoTime
          org.apache.spark.sql.GraftShims.drainListenerBus(spark)
          println(f"SATTR $pass $name%-36s constr=${(t1 - t0) / 1e9}%7.3f " +
            f"exec=${(t2 - t1) / 1e9}%7.3f cg=${compiles - c0}%3d " +
            f"jobs=${nJobs.get}%3d tasks=${nTasks.get}%4d " +
            f"twall=${wall.get / 1000.0}%8.2f tcpu=${cpu.get / 1000.0}%8.2f " +
            f"tgc=${gc.get / 1000.0}%7.2f")
        } catch { case scala.util.control.NonFatal(e) =>
          println(s"SATTR $pass $name FAILED ${e.getMessage}")
        } finally SparkEntry.release(spark, name)
      }
    }
    spark.stop()
  }
}
