package graft

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

import scala.util.control.NonFatal

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, GraftShims, SparkSession}
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.catalyst.QueryPlanningTracker.{ANALYSIS, OPTIMIZATION, PLANNING}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Diagnostic arbiter: per-query attribution in one session —
  * `SuiteAttr [passes] [name,name…]` (default: 2 passes over every
  * SparkEntry query, after [[SparkEntry.warm]]). Per query and pass, one
  * `SATTR` line of [[Fields]]:
  *  - `constr`/`exec`: construction (incl. eager jobs, e.g. a zipWithIndex
  *    count) and noop-sink execution seconds;
  *  - `ana`/`opt`/`plan`/`rule`: Catalyst phase seconds and the slowest rule
  *    of the executed write, from its own QueryPlanningTracker: the write
  *    optimizes and plans the query again, so `df.queryExecution` would time
  *    a plan that never runs. `ana` adds the frame's analysis, which the
  *    write reuses and construction ran;
  *  - `cg`: Janino compile units (CodegenMetrics); on pass 2+ each one is a
  *    codegen-cache miss;
  *  - `jobs`, `tasks`, task wall/CPU/GC (wall ≫ CPU: tasks BLOCKED on a lock
  *    or I/O, not computing);
  *  - `thr`/`prov`: live JVM threads and loaded state-store providers after
  *    the query's release; climbing across passes means the SESSION
  *    accumulates resources (the r6 failure mode), not a query regressing. */
object SuiteAttr {

  /** One SATTR line's measurements, in seconds unless counted. */
  final case class Fields(constr: Double, exec: Double, ana: Double, opt: Double,
      plan: Double, rule: String, ruleS: Double, cg: Long, jobs: Long, tasks: Long,
      twall: Double, tcpu: Double, tgc: Double, thr: Int, prov: Int)

  def line(pass: Int, name: String, r: Either[String, Fields]): String = r match {
    case Left(msg) => s"SATTR $pass $name FAILED $msg"
    case Right(f) =>
      f"SATTR $pass $name%-36s constr=${f.constr}%7.3f exec=${f.exec}%7.3f " +
        f"ana=${f.ana}%6.3f opt=${f.opt}%6.3f plan=${f.plan}%6.3f " +
        f"rule=${f.rule}:${f.ruleS}%.3f cg=${f.cg}%3d jobs=${f.jobs}%3d " +
        f"tasks=${f.tasks}%4d twall=${f.twall}%8.2f tcpu=${f.tcpu}%8.2f " +
        f"tgc=${f.tgc}%7.2f thr=${f.thr}%4d prov=${f.prov}"
  }

  private def seconds(t: QueryPlanningTracker, phase: String): Double =
    t.phases.get(phase).fold(0.0)(s => (s.endTimeMs - s.startTimeMs) / 1e3)

  /** Builds `query`, writes it to the noop sink and releases it
    * ([[SparkEntry.release]]), with listeners attached for this query only;
    * the failure's message when it throws. */
  def measure(spark: SparkSession, name: String)(query: => DataFrame)
      : Either[String, Fields] = {
    val (wall, cpu, gc) = (new AtomicLong, new AtomicLong, new AtomicLong)
    val (tasks, jobs) = (new AtomicLong, new AtomicLong)
    @volatile var written: Option[QueryExecution] = None
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = if (t.taskInfo != null) {
        wall.addAndGet(t.taskInfo.duration); tasks.incrementAndGet()
        if (t.taskMetrics != null) {
          cpu.addAndGet(t.taskMetrics.executorCpuTime / 1000000L)
          gc.addAndGet(t.taskMetrics.jvmGCTime)
        }
      }
    }
    val writes = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = written = Some(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    GraftShims.drainListenerBus(spark)
    spark.sparkContext.addSparkListener(listener)
    def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val c0 = compiles
    val t0 = System.nanoTime
    val timed = try {
      val df = query
      val t1 = System.nanoTime
      // read before the write, whose command analysis stretches this phase
      val analysis = seconds(df.queryExecution.tracker, ANALYSIS)
      // registered after construction, so no session a streaming query
      // clones copies it; the last execution it hears of is the noop write
      spark.listenerManager.register(writes)
      df.write.format("noop").mode("overwrite").save()
      val t2 = System.nanoTime
      GraftShims.drainListenerBus(spark)
      Right((t1 - t0, t2 - t1, analysis))
    } catch { case NonFatal(e) => Left(String.valueOf(e.getMessage)) }
    finally {
      spark.sparkContext.removeSparkListener(listener)
      spark.listenerManager.unregister(writes)
      SparkEntry.release(spark, name)
    }
    timed.map { case (constrNs, execNs, analysis) =>
      val tracker = written.map(_.tracker)
      def phase(p: String) = tracker.fold(0.0)(seconds(_, p))
      val (rule, ruleNs) = tracker.flatMap(_.topRulesByTime(1).headOption)
        .fold(("-", 0L)) { case (r, s) => (r.split('.').last, s.totalTimeNs) }
      Fields(constrNs / 1e9, execNs / 1e9, analysis + phase(ANALYSIS), phase(OPTIMIZATION),
        phase(PLANNING), rule, ruleNs / 1e9, compiles - c0, jobs.get, tasks.get,
        wall.get / 1e3, cpu.get / 1e3, gc.get / 1e3,
        ManagementFactory.getThreadMXBean.getThreadCount,
        GraftShims.loadedStateStoreProviders())
    }
  }

  def main(args: Array[String]): Unit = {
    val passes = args.headOption.map(_.toInt).getOrElse(2)
    val only = args.lift(1).map(_.split(",").toSeq)
    val spark = HarnessSession.build()
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    SparkEntry.warm(spark, dir)
    val q = SparkEntry.queries
    val names = only.getOrElse(q.keys.toSeq.sorted)
    (1 to passes).foreach { pass =>
      names.foreach(n => println(line(pass, n, measure(spark, n)(q(n)(spark, dir)))))
    }
    spark.stop()
  }
}
