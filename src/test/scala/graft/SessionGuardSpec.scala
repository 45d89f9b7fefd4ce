package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every entry point builds its session through [[HarnessSession]], and only
  * its `install` puts graft's rules, functions and confs on a session: a
  * second builder or install point would drift from the one definition the
  * bench measures. Likewise state shared across a run's queries has one
  * owner, `ops.Scratch`, whose `releaseRun` frees it all. */
class SessionGuardSpec extends AnyFunSuite {
  private val builder = """SparkSession\s*\.\s*builder""".r

  private def scalaFiles(dir: String, recursive: Boolean): Seq[Path] = {
    val stream = if (recursive) Files.walk(Paths.get(dir)) else Files.list(Paths.get(dir))
    try stream.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
    finally stream.close()
  }

  test("HarnessSession is the only session builder in src and tools") {
    val files = scalaFiles("src/main/scala", recursive = true) ++
      scalaFiles("src/test/scala", recursive = true) ++ scalaFiles("tools", recursive = false)
    assert(files.exists(_.endsWith("graft/HarnessSession.scala")))
    val offenders = files.filterNot(_.endsWith("graft/HarnessSession.scala"))
      .filter(p => builder.findFirstIn(Files.readString(p)).isDefined)
    assert(offenders.isEmpty, s"build the session with HarnessSession.build: $offenders")
  }

  private val sessionState =
    """\bextraOptimizations\b|\bfunctionRegistry\b|\budf\s*\.\s*register\b|nanosAsLong""".r
  private val comment = """(?s)/\*.*?\*/|//[^\n]*""".r

  test("only HarnessSession.install changes graft's session state in src/main") {
    val offenders = scalaFiles("src/main/scala", recursive = true)
      .filterNot(_.endsWith("graft/HarnessSession.scala"))
      .flatMap { p =>
        val code = comment.replaceAllIn(Files.readString(p), "")
        sessionState.findAllIn(code).map(m => s"$p: $m").toSeq
      }
    assert(offenders.isEmpty, "install optimizer rules, SQL functions and session confs in " +
      s"HarnessSession.install, which every built session runs: $offenders")
  }

  private val sparkEntry = """\bSparkEntry\b""".r
  private val install = """\bHarnessSession\s*\.\s*install\s*\(""".r

  test("every tools/*.scala script that runs SparkEntry installs first") {
    // the scripts run on spark-shell's own session, which HarnessSession.build
    // never saw: without install, pipeline_pretrain fails to codegen
    val offenders = scalaFiles("tools", recursive = false).filter { p =>
      val code = comment.replaceAllIn(Files.readString(p), "")
      sparkEntry.findFirstMatchIn(code).exists(use =>
        !install.findFirstMatchIn(code).exists(_.start < use.start))
    }
    assert(offenders.isEmpty,
      s"call HarnessSession.install(spark) before naming SparkEntry: $offenders")
  }

  private val sessionMemo =
    """TrieMap\s*(?:\.\s*empty\s*)?\[\s*\(\s*(?:[\w.]+\.)?SparkSession\s*,\s*String\s*\)""".r

  test("run-scoped state keyed by (session, dir) lives only in ops.Scratch") {
    val offenders = scalaFiles("src/main/scala", recursive = true)
      .filterNot(_.endsWith("graft/ops/Scratch.scala"))
      .filter(p => sessionMemo.findFirstIn(comment.replaceAllIn(Files.readString(p), ""))
        .isDefined)
    assert(offenders.isEmpty, "memoize per (session, dir) with a Scratch.Memo, which " +
      s"Scratch.releaseRun frees: $offenders")
  }

  private val objectDecl = """\bobject\s+(\w+)""".r
  private val mainDecl = """\bdef\s+main\s*\(""".r

  test("src/main holds exactly the production, bench and diagnostic mains") {
    val mains = scalaFiles("src/main/scala", recursive = true).flatMap { p =>
      val src = Files.readString(p)
      val objects = objectDecl.findAllMatchIn(src).map(m => (m.start, m.group(1))).toSeq
      mainDecl.findAllMatchIn(src).flatMap(m => objects.filter(_._1 < m.start).lastOption)
        .map(_._2)
    }.toSet
    val kept = Set("PipelineMain", "Verify", "Bench", "BenchGrowth", "BenchOne", "SuiteAttr",
      "StackSample", "PlanDump")
    assert(mains == kept, "one instrumentation path, not a new main per question: add the " +
      "measurement as a SuiteAttr column or sample it with StackSample's thread and frame " +
      s"filters (added ${mains -- kept}, missing ${kept -- mains})")
  }
}
