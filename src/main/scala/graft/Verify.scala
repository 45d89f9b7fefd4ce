package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * A query that THROWS leaves no parquet behind, and a compare that merely
  * iterates the dumps would silently omit it — an "all green" report over a
  * broken surface (exactly what masked the round-5 NTZ regression). So every
  * failure is also PERSISTED to `$outDir/_failures.json` (name → error), and
  * VerifyDumpSpec asserts that each queries key yields either a dump dir or
  * a failure record — a broken query can be red, never invisible. */
object Verify {

  /** JSON string escape: backslash, quote, and ALL control chars (<0x20)
    * — a tab or CR in builder-authored SQL (or an exception message) would
    * otherwise make the driver's json.load fail and silently zero the
    * round's correctness. */
  def jsonStr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def writeJsonMap(path: String, m: Map[String, String]): Unit =
    Files.writeString(Paths.get(path),
      m.map { case (k, v) => s"${jsonStr(k)}: ${jsonStr(v)}" }
        .mkString("{", ",", "}"))

  /** Dump every query in `qs`; returns the failure map (also persisted as
    * `$outDir/_failures.json` — written even when empty, so its absence
    * means "dump didn't finish", never "no failures"). */
  def dumpAll(spark: SparkSession, sfDir: String, outDir: String,
              qs: Map[String, (SparkSession, String) => DataFrame])
      : Map[String, String] = {
    new java.io.File(outDir).mkdirs()
    val failures = scala.collection.mutable.LinkedHashMap[String, String]()
    qs.foreach { case (name, fn) =>
      // NonFatal ONLY (same policy as SparkEntry.warm): an OOM/linkage
      // error must abort the JVM, not be recorded and cascade into ~70
      // misleading failures on a corrupted session with exit 0
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case scala.util.control.NonFatal(e) =>
        val msg = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}"
        System.err.println(s"[verify] $name failed: $msg")
        failures(name) = msg
      }
      // per-query scratch caches (dedup self-join sides) die with the
      // query; streaming queries also unload the state-store providers
      // their per-run checkpoints registered (JVM-global — they outlive
      // the query and degrade the whole session otherwise)
      finally SparkEntry.release(spark, name)
    }
    writeJsonMap(s"$outDir/_failures.json", failures.toMap)
    failures.toMap
  }

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional substring filter for fast local iteration on a few queries;
    // the driver passes no pattern and always dumps the full surface
    val pattern = if (args.length > 2) args(2) else ""
    val spark = HarnessSession.build()
    // echo the effective hostile-mode switches so a sweep's artifact
    // proves which mode actually ran (not just which flags were passed)
    System.err.println("[verify] effective modes: adaptive=" +
      spark.conf.get("spark.sql.adaptive.enabled") +
      " wholeStageCodegen=" + spark.conf.get("spark.sql.codegen.wholeStage") +
      " ansi=" + spark.conf.get("spark.sql.ansi.enabled") +
      " objectHashAgg=" +
      spark.conf.get("spark.sql.execution.useObjectHashAggregateExec") +
      " vecParquet=" +
      spark.conf.get("spark.sql.parquet.enableVectorizedReader") +
      " shufflePartitions=" +
      spark.conf.get("spark.sql.shuffle.partitions") +
      " memoryFraction=" + spark.conf.get("spark.memory.fraction", "0.6") +
      " forceSpillThreshold=" +
      spark.conf.get("spark.shuffle.spill.numElementsForceSpillThreshold",
        "none") +
      " maxHeapMb=" + (Runtime.getRuntime.maxMemory() / (1024 * 1024)) +
      // and every key the shared session definition sets: the artifact
      // shows the differential ran the bench's confs
      HarnessSession.defaults(sys.env, sys.props.toMap)
        .map { case (k, _) => s" $k=${spark.conf.get(k)}" }.mkString)
    // the bench's warm-up, so the differential checks the shared state
    // the benches time (enriched frame, edge table, bucketed tables)
    SparkEntry.warm(spark, sfDir)
    val failures = dumpAll(spark, sfDir, outDir,
      SparkEntry.queries.filter { case (name, _) =>
        pattern.isEmpty || name.contains(pattern) })
    writeJsonMap(s"$outDir/oracle_sql.json", SparkEntry.oracleSql)
    ops.Scratch.releaseRun(spark)
    spark.stop()
    // exit 0 even on failures: the driver's compare step must still run
    // over the partial dump (a non-zero exit here could be read as "no
    // results at all"). The failures are loud in _failures.json and in
    // tools/compare.py, which DOES exit non-zero on any FAIL.
    if (failures.nonEmpty)
      System.err.println(s"[verify] ${failures.size} queries failed: " +
        failures.keys.mkString(", "))
  }
}
