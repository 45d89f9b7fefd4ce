package graft

/** spark-submit entry point for the reference pipeline — what an Airflow
  * task invokes (see deploy/airflow_music_streaming_dag.py). Exit codes
  * mirror the DAG's branch outcomes so the orchestrator can route:
  * 0 = loaded, 3 = no input batches (the reference's end_dag branch),
  * 4 = schema validation failed (end_dag_if_columns_missing). */
object PipelineMain {
  def main(args: Array[String]): Unit = {
    require(args.length == 4,
      "usage: PipelineMain <streamsGlob> <usersCsv> <songsCsv> <outDir>")
    val Array(streamsGlob, usersCsv, songsCsv, outDir) = args
    val spark = HarnessSession.build()
    val code = Pipeline.run(spark, streamsGlob, usersCsv, songsCsv, outDir) match {
      case Pipeline.NoStreams =>
        System.err.println("[pipeline] no stream batches found; stopping")
        3
      case Pipeline.InvalidColumns(errs) =>
        errs.foreach(e => System.err.println(
          s"[pipeline] ${e.table} missing columns: ${e.missing.mkString(", ")}"))
        4
      case _: Pipeline.Completed => 0
    }
    spark.stop()
    if (code != 0) sys.exit(code)
  }
}
