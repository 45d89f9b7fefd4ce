package graft

import org.scalatest.funsuite.AnyFunSuite

/** StackSample's thread filter and histogram key, on synthetic stacks. */
class StackSampleSpec extends AnyFunSuite {
  private def frame(cls: String, method: String) =
    new StackTraceElement(cls, method, s"${cls.split('.').last}.scala", 1)
  private val park = Array(frame("jdk.internal.misc.Unsafe", "park"),
    frame("java.util.concurrent.locks.LockSupport", "park"))
  private val compile = Array(
    frame("org.codehaus.janino.UnitCompiler", "compileUnit"),
    frame("org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator$",
      "org$apache$spark$sql$catalyst$expressions$codegen$CodeGenerator$$doCompile"))
  private val executor = "Executor task launch".r

  test("the thread regex matches a name from its start") {
    val main = "main".r
    assert(StackSample.key("main", "cl", park, main, None).isDefined)
    assert(StackSample.key("Executor task launch worker-3", "cl", park, main, None).isEmpty)
    assert(StackSample.key("Executor task launch worker-3", "cl", park, executor, None)
      .isDefined)
    val stream = "stream execution|.*microBatch|Executor task launch".r
    assert(StackSample.key("stream execution thread for q [id = 1]", "cl", park, stream, None)
      .isDefined)
    assert(StackSample.key("driver microBatch 2", "cl", park, stream, None).isDefined)
    assert(StackSample.key("dispatcher-event-loop-1", "cl", park, stream, None).isEmpty)
  }

  test("the frame regex drops threads without a matching frame") {
    val frames = Some("CodeGenerator.*[cC]ompile".r)
    assert(StackSample.key("main", "cl", park, "main".r, frames).isEmpty)
    assert(StackSample.key("main", "cl", compile, "main".r, frames).isDefined)
    assert(StackSample.key("main", "cl", Array.empty, "main".r, None).isEmpty)
  }

  test("ids and digits collapse, so two executor or stream threads share one key") {
    val a = StackSample.key("Executor task launch worker for task 3.0 in stage 7.0 (TID 41)",
      "cl", compile, executor, None)
    val b = StackSample.key("Executor task launch worker for task 12.0 in stage 9.0 (TID 80)",
      "cl", compile, executor, None)
    assert(a.isDefined && a == b)
    assert(a.get.startsWith("Executor task launch worker for task N.N in stage N.N (TID N)"))
    def stream(id: String, run: String) = StackSample.key(
      s"stream execution thread for q [id = $id, runId = $run]", "cl", park, ".*".r, None)
    assert(stream("5f0e2a9c-3b1d-4c7e-9a2f-0b1c2d3e4f50", "a1b2c3d4-e5f6-4a7b-8c9d-0e1f2a3b4c5d") ==
      stream("0d9e8f7a-6b5c-4d3e-2f1a-0b9c8d7e6f5a", "ffeeddcc-bbaa-4998-8776-655443322110"))
  }

  test("two classloader identities give two keys") {
    val (l1, l2) = (new ClassLoader() {}, new ClassLoader() {})
    val keys = Seq(l1, l2, l1).map(l => StackSample.key("main", StackSample.loaderId(l),
      compile, "main".r, None))
    assert(keys.distinct.size == 2)
    assert(StackSample.loaderId(null) == "null")
  }
}
