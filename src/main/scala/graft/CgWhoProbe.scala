package graft

/** Diagnostic arbiter: WHO recompiles — samples all threads during
  * repeated runs of one query and records (thread name, context
  * classloader) for any thread inside Janino compilation
  * (`CodeGenerator.doCompile`). Spark 4 keys the codegen cache on
  * (context classloader, source); a per-run classloader shows up here as
  * a changing classloader identity on the compiling thread. */
object CgWhoProbe {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("streaming_hourly_counts")
    val spark = HarnessSession.build()
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val q = SparkEntry.queries
    q(name)(spark, dir).write.format("noop").mode("overwrite").save()
    SparkEntry.release(spark, name)
    val seen = new java.util.concurrent.ConcurrentHashMap[String,
      java.util.concurrent.atomic.AtomicLong]()
    @volatile var sampling = true
    val sampler = new Thread(new Runnable {
      def run(): Unit = while (sampling) {
        import scala.jdk.CollectionConverters._
        Thread.getAllStackTraces.asScala.foreach { case (t, st) =>
          if (st.exists(f => f.getClassName.contains("codegen.CodeGenerator")
              && (f.getMethodName.contains("compile") ||
                  f.getMethodName.contains("Compile")))) {
            val cl = t.getContextClassLoader
            val key = s"${t.getName} cl=${if (cl == null) "null"
              else cl.getClass.getSimpleName + "@" +
                Integer.toHexString(System.identityHashCode(cl))}"
            seen.computeIfAbsent(key,
              _ => new java.util.concurrent.atomic.AtomicLong())
              .incrementAndGet()
          }
        }
        Thread.sleep(5)
      }
    })
    sampler.setDaemon(true); sampler.start()
    (1 to 3).foreach { i =>
      q(name)(spark, dir).write.format("noop").mode("overwrite").save()
      SparkEntry.release(spark, name)
    }
    sampling = false; Thread.sleep(50)
    import scala.jdk.CollectionConverters._
    seen.asScala.toSeq.sortBy(_._1).foreach { case (k, v) =>
      println(s"WHO ${v.get}%4d  $k")
    }
    spark.stop()
  }
}
