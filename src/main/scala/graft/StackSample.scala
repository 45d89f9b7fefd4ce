package graft

import java.util.concurrent.{Executors, TimeUnit}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

/** Diagnostic arbiter: in-process stack histogram of one query (no jstack
  * attach) — `StackSample <name> [threadRegex] [frameRegex]`. Samples every
  * 20 ms over 3 runs, after one unsampled run. Found the r16 audio SPI
  * classpath-rescan lock.
  *  - `threadRegex` must match a thread's name from its start (default
  *    `Executor task launch`; `main`: the driver's action path;
  *    `'stream execution|.*microBatch|Executor task launch'`: a streaming
  *    query's micro-batch driver and its tasks).
  *  - `frameRegex` keeps only threads with a matching `Class.method` frame
  *    (`CodeGenerator.*[cC]ompile`: threads inside a Janino compile).
  *  - The key is the thread name with ids and digits collapsed, the context
  *    classloader and the top 8 frames. Spark keys the codegen cache on
  *    (context classloader, source): a new loader per run recompiles. */
object StackSample {
  // a stream execution thread is named after its query's id and run id
  private val uuid = "[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}"

  /** Histogram key of one thread's sample; None when a filter drops it. */
  def key(thread: String, loader: String, stack: Array[StackTraceElement],
      threads: Regex, frames: Option[Regex]): Option[String] =
    if (stack.isEmpty || threads.findPrefixOf(thread).isEmpty ||
        frames.exists(r => !stack.exists(f =>
          r.findFirstIn(s"${f.getClassName}.${f.getMethodName}").isDefined))) None
    else Some(s"${thread.replaceAll(uuid, "ID").replaceAll("[0-9]+", "N")} cl=$loader | " +
      stack.take(8).mkString(" <- "))

  def loaderId(cl: ClassLoader): String =
    if (cl == null) "null"
    else s"${cl.getClass.getSimpleName}@${Integer.toHexString(System.identityHashCode(cl))}"

  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("multimodal_decode_audio")
    val threads = args.lift(1).getOrElse("Executor task launch").r
    val frames = args.lift(2).map(_.r)
    val spark = HarnessSession.build()
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    def run(): Unit = {
      SparkEntry.queries(name)(spark, dir).write.format("noop").mode("overwrite").save()
      SparkEntry.release(spark, name)
    }
    run()
    val hist = mutable.HashMap.empty[String, Long] // sampler-only until it stops
    val sampler = Executors.newSingleThreadScheduledExecutor()
    sampler.scheduleWithFixedDelay(() => Thread.getAllStackTraces.asScala.foreach {
      case (t, st) => key(t.getName, loaderId(t.getContextClassLoader), st, threads, frames)
        .foreach(k => hist(k) = hist.getOrElse(k, 0L) + 1)
    }, 0, 20, TimeUnit.MILLISECONDS)
    try (1 to 3).foreach(_ => run())
    finally { sampler.shutdown(); sampler.awaitTermination(1, TimeUnit.MINUTES) }
    hist.toSeq.sortBy(-_._2).take(25).foreach { case (k, n) => println(s"HIST $n  $k") }
    spark.stop()
  }
}
