package graft
/** Diagnostic arbiter: in-process sampling of executor-task stacks
  * during one query — `StackSample <name>`. The sandbox blocks jstack
  * attach to backgrounded JVMs; this histograms Thread.getAllStackTraces
  * every 20 ms instead. Found the r16 audio SPI classpath-rescan lock. */
object StackSample {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("multimodal_decode_audio")
    // optional 2nd arg: thread-name prefix to sample instead of executor
    // task threads ("main" → the driver's action path incl. AQE threads)
    val prefix = if (args.length > 1) args(1) else "Executor task launch"
    val spark = HarnessSession.build()
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val q = SparkEntry.queries
    q(name)(spark, dir).write.format("noop").mode("overwrite").save()
    SparkEntry.release(spark, name)
    val hist = new java.util.concurrent.ConcurrentHashMap[String,
      java.util.concurrent.atomic.AtomicLong]()
    @volatile var sampling = true
    val sampler = new Thread(new Runnable {
      def run(): Unit = while (sampling) {
        import scala.jdk.CollectionConverters._
        Thread.getAllStackTraces.asScala.foreach { case (t, st) =>
          if (t.getName.startsWith(prefix) && st.nonEmpty) {
            val key = st.take(8).mkString(" <- ")
            hist.computeIfAbsent(key,
              _ => new java.util.concurrent.atomic.AtomicLong()).incrementAndGet()
          }
        }
        Thread.sleep(20)
      }
    })
    sampler.setDaemon(true); sampler.start()
    (1 to 3).foreach { _ =>
      q(name)(spark, dir).write.format("noop").mode("overwrite").save()
      SparkEntry.release(spark, name)
    }
    sampling = false
    import scala.jdk.CollectionConverters._
    hist.asScala.toSeq.sortBy(-_._2.get).take(15).foreach { case (k, v) =>
      println(s"HIST ${v.get}  $k") }
    spark.stop()
  }
}
