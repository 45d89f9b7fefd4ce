package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: a named interval with the span that caused it. Times are epoch
  * nanoseconds; `attrs` holds the counts recorded at the same boundary. */
final case class Span(id: Long, parent: Long, name: String, kind: String,
                      start: Long, end: Long, attrs: Map[String, Double])

/** In-memory span recorder for one benchmark process.
  *
  * Driver spans (workload, operation, layer call) are opened around the
  * benchmark's calls into the program. While a span is open its id is the
  * `perfbench.span` local property, so every Spark job it launches names it
  * as parent. Layer calls made inside the program (`Pipeline.run`'s module
  * calls) come from stack samples instead ([[sampled]]); a job then belongs
  * to the sampled layer span whose interval holds its start. A SparkListener
  * turns SQL executions, jobs and stages into child spans and sums task
  * metrics per stage; a QueryExecutionListener adds the Catalyst phases of
  * each execution. Nothing is written until [[dump]].
  *
  * A disabled recorder records nothing; ops still time themselves. */
final class Trace(spark: SparkSession, enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = mutable.Stack[Long](0L)
  private val nanoBase = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private def now(): Long = System.nanoTime() + nanoBase
  private val sc = spark.sparkContext

  private val listener = new SparkListener {
    private val jobOf = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, SparkListenerJobStart]()
    private val stageTasks = new java.util.concurrent.ConcurrentHashMap[(Int, Int), Array[Double]]()

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobStart.put(e.jobId, e)
      e.stageIds.foreach(s => jobOf.putIfAbsent(s, e.jobId.toLong))
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val s = Option(jobStart.remove(e.jobId))
      val props = s.flatMap(j => Option(j.properties))
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
      val failed = e.jobResult match { case JobSucceeded => 0.0; case _ => 1.0 }
      spans.add(Span(ids.incrementAndGet(), prop("perfbench.span").map(_.toLong).getOrElse(0L),
        prop("callSite.short").getOrElse("job"), "job",
        s.map(_.time).getOrElse(e.time) * 1000000L, e.time * 1000000L,
        Map("job_id" -> e.jobId.toDouble, "failed" -> failed,
          "execution_id" -> prop("spark.sql.execution.id").map(_.toDouble).getOrElse(-1.0))))
    }

    // per stage attempt: tasks, failed, run ms, cpu ns, gc ms, shuffle
    // write / read bytes, spill bytes, input records / bytes, output bytes
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val a = stageTasks.computeIfAbsent((e.stageId, e.stageAttemptId), _ => new Array[Double](11))
      val m = e.taskMetrics
      a.synchronized {
        a(0) += 1
        if (!e.taskInfo.successful) a(1) += 1
        if (m != null) {
          a(2) += m.executorRunTime; a(3) += m.executorCpuTime; a(4) += m.jvmGCTime
          a(5) += m.shuffleWriteMetrics.bytesWritten
          a(6) += m.shuffleReadMetrics.totalBytesRead
          a(7) += m.memoryBytesSpilled + m.diskBytesSpilled
          a(8) += m.inputMetrics.recordsRead; a(9) += m.inputMetrics.bytesRead
          a(10) += m.outputMetrics.bytesWritten
        }
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val a = Option(stageTasks.remove((i.stageId, i.attemptNumber()))).getOrElse(new Array[Double](11))
      val keys = Seq("tasks", "failed_tasks", "task_ms", "cpu_ns", "gc_ms", "shuffle_write_bytes",
        "shuffle_read_bytes", "spill_bytes", "records_read", "bytes_read", "bytes_written")
      spans.add(Span(ids.incrementAndGet(), -1L, i.name, "stage",
        i.submissionTime.getOrElse(0L) * 1000000L, i.completionTime.getOrElse(0L) * 1000000L,
        keys.zip(a).toMap ++ Map("stage_id" -> i.stageId.toDouble,
          "job_id" -> jobOf.getOrDefault(i.stageId, -1L).toDouble)))
    }

    private val execStart = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => execStart.put(s.executionId, s.time)
      case x: SparkListenerSQLExecutionEnd =>
        val t0 = Option(execStart.remove(x.executionId)).map(_.longValue).getOrElse(x.time)
        spans.add(Span(ids.incrementAndGet(), -1L, "execution", "execution", t0 * 1000000L,
          x.time * 1000000L, Map("execution_id" -> x.executionId.toDouble)))
      case _ =>
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def phases(qe: QueryExecution): Unit =
      qe.tracker.phases.foreach { case (phase, p) =>
        spans.add(Span(ids.incrementAndGet(), -1L, phase, "phase", p.startTimeMs * 1000000L,
          p.endTimeMs * 1000000L, Map("execution_id" -> qe.id.toDouble)))
      }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phases(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = phases(qe)
  }

  private var attached = false
  /** Register the listeners; the untraced ops of a traced run detach them. */
  def attach(): Unit = if (enabled && !attached) {
    sc.addSparkListener(listener); spark.listenerManager.register(qeListener); attached = true
  }
  def detach(): Unit = if (attached) {
    org.apache.spark.PerfbenchBus.drain(sc)
    sc.removeSparkListener(listener); spark.listenerManager.unregister(qeListener); attached = false
  }

  private def codegen(): (Double, Double) = {
    // The compile-time histogram keeps every sample until it holds 1028;
    // past that the mean stands in for the lost ones.
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    val vs = h.getSnapshot.getValues
    val ms = if (h.getCount <= vs.length) vs.sum.toDouble else h.getSnapshot.getMean * h.getCount
    (ms, CodegenMetrics.METRIC_GENERATED_CLASS_BYTECODE_SIZE.getCount.toDouble)
  }

  /** Run `body` inside a span named `name` of kind `kind`. When tracing is
    * on, jobs launched inside name it as parent and the codegen counters are
    * read at both ends. */
  def span[T](name: String, kind: String, attrs: Map[String, Double] = Map.empty)(body: => T): T =
    if (!attached) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.top
      val prevProp = sc.getLocalProperty("perfbench.span")
      val (cg0, cl0) = codegen()
      stack.push(id)
      sc.setLocalProperty("perfbench.span", id.toString)
      val t0 = now()
      try body
      finally {
        val t1 = now()
        stack.pop()
        sc.setLocalProperty("perfbench.span", prevProp)
        val (cg1, cl1) = codegen()
        spans.add(Span(id, parent, name, kind, t0, t1,
          attrs ++ Map("compile_ms" -> (cg1 - cg0), "classes" -> (cl1 - cl0))))
      }
    }

  /** Runs `body` on this thread while a sampler thread reads its stack every
    * [[SampleMs]] ms. `layerOf` names the call a stack is in, with a key
    * that tells two calls apart; each run of samples with the same answer
    * becomes a layer span under the open span. The calls are timed inside
    * the program's own code, so none of it is copied here; a boundary is
    * known to within one sample. */
  def sampled[T](layerOf: Array[StackTraceElement] => Option[(String, Int)])(body: => T): T =
    if (!attached) body
    else {
      val target = Thread.currentThread()
      val parent = stack.top
      val running = new java.util.concurrent.atomic.AtomicBoolean(true)
      val sampler = new Thread(() => {
        var cur: Option[(String, Int)] = None
        var since = 0L
        def close(t: Long): Unit = cur.foreach { case (name, _) =>
          spans.add(Span(ids.incrementAndGet(), parent, name, "layer", since, t, Map("sampled" -> 1.0)))
        }
        while (running.get()) {
          val key = layerOf(target.getStackTrace)
          val t = now()
          if (key != cur) { close(t); cur = key; since = t }
          Thread.sleep(Trace.SampleMs)
        }
        close(now())
      }, "perfbench-sampler")
      sampler.setDaemon(true)
      sampler.start()
      try body
      finally { running.set(false); sampler.join() }
    }

  /** Records a layer span under the root whose interval was timed elsewhere
    * (`System.nanoTime` values). */
  def record(name: String, startNano: Long, endNano: Long): Unit =
    if (enabled) spans.add(Span(ids.incrementAndGet(), 0L, name, "layer", startNano + nanoBase,
      endNano + nanoBase, Map.empty))

  /** Records counts taken at a boundary as a zero-length child of the open span. */
  def count(name: String, attrs: Map[String, Double]): Unit =
    if (attached) spans.add(Span(ids.incrementAndGet(), stack.top, name, "count", now(), now(), attrs))

  /** Links the listener's spans into the tree layer > execution > job >
    * stage (and execution > phase): the listener knows only Spark's ids. */
  private def linked(all: Seq[Span]): Seq[Span] = {
    def id(s: Span, k: String) = s.attrs.get(k).map(_.toLong).getOrElse(-1L)
    // a job launched under a span with sampled layer children belongs to the
    // child whose interval (widened by the sampling error) holds its start
    val tol = (2 * Trace.SampleMs + 1) * 1000000L
    val sampledKids = all.filter(_.attrs.contains("sampled")).groupBy(_.parent)
      .map { case (p, ks) => p -> ks.sortBy(_.start) }
    def layerOf(j: Span): Long = sampledKids.get(j.parent)
      .flatMap(_.filter(_.start <= j.start + tol).lastOption.filter(j.start < _.end + tol))
      .fold(j.parent)(_.id)
    val jobs = all.filter(_.kind == "job").map(j => j.copy(parent = layerOf(j)))
    val execs = all.filter(_.kind == "execution").map(e => id(e, "execution_id") -> e).toMap
    val execLayer = jobs.filter(j => execs.contains(id(j, "execution_id")))
      .groupBy(j => id(j, "execution_id")).map { case (x, js) => x -> js.minBy(_.start).parent }
    val jobSpan = jobs.map(j => id(j, "job_id") -> j.id).toMap
    all.map { s => s.kind match {
      case "execution" => s.copy(parent = execLayer.getOrElse(id(s, "execution_id"), 0L))
      case "job" => execs.get(id(s, "execution_id")).fold(s.copy(parent = layerOf(s)))(e =>
        s.copy(parent = e.id))
      case "stage" => s.copy(parent = jobSpan.getOrElse(id(s, "job_id"), 0L))
      case "phase" => s.copy(parent = execs.get(id(s, "execution_id")).fold(0L)(_.id))
      case _ => s
    }}
  }

  /** Waits for the listener bus, then writes every span as one JSON line,
    * the workload's root span (id 0) first. */
  def dump(path: String, workload: String, start: Long): Unit = {
    detach()
    val w = new java.io.PrintWriter(path, "UTF-8")
    val root = Span(0L, -1L, workload, "workload", start, now(), Map.empty)
    try (root +: linked(spans.asScala.toSeq)).foreach { s =>
      val attrs = s.attrs.map { case (k, v) => s""""$k":${Json.num(v)}""" }.mkString(",")
      w.println(s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
        s""""kind":"${s.kind}","start":${s.start},"end":${s.end},"attrs":{$attrs}}""")
    } finally w.close()
  }
}

object Trace {
  /** Interval of the stack sampler, in ms. */
  val SampleMs = 10L
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"; case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
}
