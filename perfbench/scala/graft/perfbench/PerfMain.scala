package graft.perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.{HarnessSession, Pipeline}

/** The timed half of the benchmark: one JVM runs one workload and writes a
  * JSON result (and, when traced, a span file) for `perfbench/run.py`, which
  * generated the inputs and checks the outputs.
  *
  *   PerfMain --workload <etl_daily|query_suite> --work <dir> --seconds <s>
  *            --trace <0|1> [--seed <n>] [--setup-only 1]
  *
  * Every operation calls the program's public entry points (`Pipeline.run`,
  * `SparkEntry.queries` + the noop sink). Traced, ops alternate between
  * untraced and traced; a traced ETL op runs `Pipeline.run` itself while
  * [[Trace.sampled]] reads the thread's stack, which is what splits its time
  * by module call (see [[pipelineLayer]]). `--setup-only` stops after set-up. */
object PerfMain {

  /** One timed operation: wall and process CPU seconds, and its outcome. */
  final case class Op(phase: String, name: String, seconds: Double, cpu: Double, ok: Boolean,
                      outcome: String, traced: Boolean, input: Int)

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** CPU time of every thread of this JVM (executors, JIT, GC), in ns. */
  def cpuNanos(): Long = os.getProcessCpuTime

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val workload = opt("workload")
    val work = opt("work")
    val seconds = opt("seconds").toDouble
    val traced = opt.get("trace").contains("1")
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

    val b0 = System.nanoTime()
    val spark = HarnessSession.build(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    val b1 = System.nanoTime()
    val tr = new Trace(spark, traced)
    tr.record("session.build", b0, b1)
    tr.attach()
    val warmS = if (workload == "query_suite") {
      val w0 = System.nanoTime()
      tr.span("session.warm", "layer")(QuerySuite.warm(spark, opt("data")))
      (System.nanoTime() - w0) / 1e9
    } else 0.0
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    val ops = ArrayBuffer.empty[Op]
    if (!opt.get("setup-only").contains("1")) workload match {
      case "etl_daily" => runEtl(spark, tr, work, seconds, traced, ops)
      case "query_suite" =>
        QuerySuite.run(spark, tr, opt("data"), work, opt("seed").toLong, seconds, traced, ops)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    if (traced) tr.dump(s"$work/spans.jsonl", workload, jvmStartMs * 1000000L)

    import scala.jdk.CollectionConverters._
    val confs = spark.conf.getAll.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }.mkString("{", ",", "}")
    val jvmArgs = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .filterNot(_.startsWith("--add-opens")).map(Json.str).mkString("[", ",", "]")
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(g => Json.str(g.getName))
      .mkString("[", ",", "]")
    val opsJs = ops.map(o => s"""{"phase":"${o.phase}","name":${Json.str(o.name)},""" +
      s""""seconds":${Json.num(o.seconds)},"cpu":${Json.num(o.cpu)},"ok":${o.ok},""" +
      s""""outcome":${Json.str(o.outcome)},""" +
      s""""traced":${o.traced},"input":${o.input}}""").mkString("[", ",", "]")
    val out = s"""{"setup_s":${Json.num(setupS)},"session_build_s":${Json.num((b1 - b0) / 1e9)},""" +
      s""""session_warm_s":${Json.num(warmS)},"spark_version":${Json.str(spark.version)},""" +
      s""""java_version":${Json.str(System.getProperty("java.version"))},""" +
      s""""jvm_args":$jvmArgs,"gc":$gcs,"cores":${spark.sparkContext.defaultParallelism},""" +
      s""""peak_rss_mb":${Json.num(peakRssMb())},"confs":$confs,"ops":$opsJs}"""
    spark.stop()
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$work/result.json"), out)
  }

  /** ETL op 0 is cold and op 1 still warms the JIT (a day runs ~30% slower
    * than the ones after it): both are reported, neither is a warm sample. */
  private def phase(i: Int): String = i match { case 0 => "cold"; case 1 => "warmup"; case _ => "warm" }

  /** Whether one more op of `last` seconds still ends inside the window. */
  def fits(warmStart: Long, last: Double, seconds: Double): Boolean =
    (System.nanoTime() - warmStart) / 1e9 + last <= seconds

  /** etl_daily: one `Pipeline.run` per landed day, in arrival order. Warm
    * ops run while the next one still fits in `seconds` and the generated
    * days last, and at least three: warm days still speed up op by op, so a
    * count that varies with the host would move the median more than the
    * host does. After each op, outside its timing, the output is snapshot
    * for the oracle, which checks every op's warehouse state. */
  private def runEtl(spark: SparkSession, tr: Trace, work: String, seconds: Double,
                     traced: Boolean, ops: ArrayBuffer[Op]): Unit = {
    val inputs = scala.io.Source.fromFile(s"$work/manifest.tsv").getLines()
      .map(_.split("\t")(0)).toIndexedSeq
    require(inputs.size >= 5, s"need at least 5 generated days, got ${inputs.size}")
    val (users, songs, out) = (s"$work/users.csv", s"$work/songs.csv", s"$work/out")
    var i = 0
    var warmStart = 0L
    while (i < inputs.size && (i < 5 || fits(warmStart, ops.last.seconds, seconds))) {
      // traced runs alternate, so tracing overhead is measured in-process
      val traceOp = traced && i % 2 == 0
      if (traceOp) tr.attach() else tr.detach()
      if (i == 2) warmStart = System.nanoTime()
      val opStartMs = System.currentTimeMillis()
      val (outcome, dt, cpu) = tr.span(s"op.$i", "op", Map("input" -> i.toDouble)) {
        val (t0, c0) = (System.nanoTime(), cpuNanos())
        val r = try {
          tr.sampled(pipelineLayer)(Pipeline.run(spark, inputs(i), users, songs, out)) match {
            case _: Pipeline.Completed => "Completed"
            case other => other.toString
          }
        } catch { case NonFatal(e) => s"${e.getClass.getSimpleName}: ${e.getMessage}" }
        val (dt, cpu) = ((System.nanoTime() - t0) / 1e9, (cpuNanos() - c0) / 1e9)
        if (traceOp) tr.count("sinks.output", outputCounts(out, opStartMs))
        (r, dt, cpu)
      }
      snapshot(out, f"$work/snap/op_$i%02d")
      ops += Op(phase(i), "etl_daily", dt, cpu, outcome == "Completed", outcome, traceOp, i)
      i += 1
    }
  }

  /** The module call a stack of `Pipeline.run` is in: the frame that run's
    * body calls directly, named by its module, and the line of run that
    * calls it (so two calls of one module stay two spans). Frames of run's
    * own code, or of a callee outside these modules, name no layer. */
  def pipelineLayer(st: Array[StackTraceElement]): Option[(String, Int)] = {
    val i = st.lastIndexWhere(f => f.getClassName == "graft.Pipeline$" && f.getMethodName == "run")
    if (i <= 0) None
    else {
      val callee = st(i - 1)
      val layer = (callee.getClassName, callee.getMethodName) match {
        case ("graft.io.Sources$", "inputExists") => Some("sources.probe")
        case ("graft.io.Sources$", _) => Some("sources.open")
        case ("graft.etl.Validate$", _) => Some("etl.validate")
        case ("graft.Pipeline$", "transform") => Some("etl.transform")
        case ("graft.io.Sinks$", _) => Some("sinks.write")
        case _ => None
      }
      layer.map(_ -> st(i).getLineNumber)
    }
  }

  /** Hard-links every file under `out` into `to`: Spark never rewrites a
    * file in place, so the links keep the state after this op. */
  private def snapshot(out: String, to: String): Unit = {
    val (src, dst) = (java.nio.file.Paths.get(out), java.nio.file.Paths.get(to))
    if (java.nio.file.Files.isDirectory(src)) {
      val files = java.nio.file.Files.walk(src)
      try files.filter(java.nio.file.Files.isRegularFile(_)).forEach { f =>
        val target = dst.resolve(src.relativize(f))
        java.nio.file.Files.createDirectories(target.getParent)
        java.nio.file.Files.createLink(target, f)
      } finally files.close()
    }
  }

  /** VmHWM: the most resident memory this process has held. */
  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  /** Data files (and their partitions) the op wrote, by modification time. */
  private def outputCounts(out: String, sinceMs: Long): Map[String, Double] = {
    val root = new java.io.File(out)
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk) else Seq(f)
    val files = walk(root).filter(f => f.lastModified >= sinceMs &&
      !f.getName.startsWith("_") && !f.getName.startsWith("."))
    Map("files" -> files.size.toDouble, "bytes" -> files.map(_.length.toDouble).sum,
      "partitions" -> files.map(_.getParent).distinct.size.toDouble)
  }
}
