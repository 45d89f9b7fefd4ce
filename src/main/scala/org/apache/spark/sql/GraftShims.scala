package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge between graft's custom Catalyst expressions and the public Column
  * API. `classic.ExpressionUtils` is private[sql] in Spark 4, so the
  * conversion lives in this package — the conventional extension point for
  * libraries adding native expressions (no Spark internals are modified). */
object GraftShims {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Where `name`'s data lives (or would live): the catalog's recorded
    * location when the table exists, else the path the catalog would assign
    * to it — the directory a managed table from a PREVIOUS process left
    * behind even though the current in-memory catalog has no entry for it.
    * `sessionState` is private[sql], hence this shim. */
  def tableLocation(spark: SparkSession, name: String): java.net.URI = {
    val ss = spark.asInstanceOf[classic.SparkSession].sessionState
    val id = ss.sqlParser.parseTableIdentifier(name)
    if (ss.catalog.tableExists(id)) ss.catalog.getTableMetadata(id).location
    else ss.catalog.defaultTablePath(id)
  }

  /** A LAZY local checkpoint that does NOT propagate the origin plan's
    * statistics — the iterative-algorithm twin of
    * `Dataset.localCheckpoint(false)`.
    *
    * Why it exists: Spark 4's `Dataset.checkpoint` stamps the new
    * `LogicalRDD` with `originStats` = the checkpointed plan's
    * estimated statistics (SPARK-39748, to keep broadcast decisions
    * after a checkpoint). For an ITERATIVE algorithm that checkpoints
    * every round, those stats COMPOUND: a round plan referencing the
    * previous label table k times has sizeInBytes ≈ prev^k, so the
    * estimate's bit-length grows k-fold per round — and when any leaf
    * carries `spark.sql.defaultSizeInBytes` (= Long.MaxValue for a
    * catalog table with no stats), round ~10's estimate is a BigInteger
    * of 10^8+ bits and a SINGLE stats walk (JoinSelection's
    * canBroadcastBySize, InjectRuntimeFilter) pins the driver for
    * minutes to hours inside Toom-Cook multiplication. Caught live on
    * the storelife growth axis: connectedComponents over edges drawn
    * from the signature-store TABLE hung the driver 18+ minutes in
    * SizeInBytesOnlyStatsPlanVisitor. A stats-free LogicalRDD falls
    * back to defaultSizeInBytes per ROUND — constant, never
    * compounding, exactly Spark 3's behavior these loops were designed
    * against.
    *
    * Mirrors checkpoint's mechanics otherwise: same materialize-on-
    * first-action laziness (the convergence check right after
    * materializes it), same output partitioning/ordering preservation
    * (skipping them would add one exchange per round). */
  def statsFreeLocalCheckpoint(df: Dataset[Row]): Dataset[Row] = {
    val cds = df.asInstanceOf[classic.Dataset[Row]]
    val internalRdd = cds.queryExecution.toRdd.map(_.copy())
    internalRdd.localCheckpoint()
    rowsFrame(cds, internalRdd, keepStats = false)
  }

  /** `df`'s rows, computed now and kept as deserialized `UnsafeRow`s at
    * MEMORY_AND_DISK, plus a frame that reads them. The caller releases the
    * rows with `rdd.unpersist()`; until then every plan over the frame reads
    * the kept rows instead of recomputing `df`.
    *
    * Why rows and not `Dataset.persist`: the columnar cache builds
    * compressed column batches (dictionary and run-length statistics for
    * every string column of every batch) and each scan of it decodes them
    * back into rows. A cache read a handful of times pays that encoding for
    * nothing; here the stored rows are read as they are.
    *
    * - One job materializes the rows, inside a SQL execution of `df`'s
    *   plan, so listeners see `df`'s scans and metrics as for any query,
    *   and later plans over the frame start with every block in place
    *   (several plans computing one block at once would wait on its lock).
    *   If that job fails the rows are released before the error is
    *   rethrown.
    * - The lineage is kept: after `unpersist()` the frame, and any frame
    *   built on it, recomputes `df`. A local checkpoint would cut it.
    * - The frame keeps `df`'s estimated statistics (as `Dataset.checkpoint`
    *   does), so later plans over it make the same broadcast choices.
    *
    * `Dataset.ofRows` and `LogicalRDD` are private[sql], hence the shim. */
  def rowCache(df: Dataset[Row]): (Dataset[Row], org.apache.spark.rdd.RDD[_]) = {
    val cds = df.asInstanceOf[classic.Dataset[Row]]
    val qe = cds.queryExecution
    val rows = execution.SQLExecution.withNewExecutionId(qe, Some("rowCache")) {
      val rdd = qe.toRdd.map(_.copy())
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try rdd.count() catch { case e: Throwable => rdd.unpersist(); throw e }
      rdd
    }
    (rowsFrame(cds, rows, keepStats = true), rows)
  }

  /** A frame over `rows`, the materialized rows of `cds`: a `LogicalRDD`
    * with `cds`'s output, output partitioning and ordering (skipping them
    * would add an exchange downstream), and `cds`'s estimated statistics
    * only when `keepStats`. */
  private def rowsFrame(cds: classic.Dataset[Row],
      rows: org.apache.spark.rdd.RDD[catalyst.InternalRow],
      keepStats: Boolean): Dataset[Row] = {
    val qe = cds.queryExecution
    val physical = qe.executedPlan
    def firstLeafPartitioning(p: catalyst.plans.physical.Partitioning)
        : catalyst.plans.physical.Partitioning = p match {
      case c: catalyst.plans.physical.PartitioningCollection =>
        firstLeafPartitioning(c.partitionings.head)
      case other => other
    }
    val (stats, constraints) =
      if (keepStats)
        execution.LogicalRDD.rewriteStatsAndConstraints(qe.analyzed, qe.optimizedPlan)
      else (None, None)
    classic.Dataset.ofRows(cds.sparkSession,
      execution.LogicalRDD(qe.analyzed.output, rows,
        firstLeafPartitioning(physical.outputPartitioning),
        physical.outputOrdering, cds.isStreaming)(
        cds.sparkSession, stats, constraints))
  }

  /** The table's bucket count (None when the table exists unbucketed).
    * Store maintenance reads this so appends and compaction rewrites
    * always match the layout the store was CREATED with, whatever
    * bucket count the caller picked then. `sessionState` is
    * private[sql], hence this shim. */
  def tableBuckets(spark: SparkSession, name: String): Option[Int] = {
    val ss = spark.asInstanceOf[classic.SparkSession].sessionState
    val id = ss.sqlParser.parseTableIdentifier(name)
    ss.catalog.getTableMetadata(id).bucketSpec.map(_.numBuckets)
  }

  /** Unload every loaded streaming state-store provider and stop the
    * state-store maintenance machinery. Safe to call between queries: the
    * next stateful stream lazily re-creates what it needs
    * (`StateStore.get` restarts maintenance on demand).
    *
    * Why this exists: each stateful streaming query run against a FRESH
    * checkpoint dir registers new `StateStoreProviderId`s (one per shuffle
    * partition per stateful operator) in the executor-global provider map;
    * unloading normally waits on the 60 s maintenance cycle noticing the
    * coordinator deactivated the run. A harness that starts hundreds of
    * short AvailableNow streams, each with its own temp checkpoint,
    * accumulates providers (heap for HDFS-backed stores, NATIVE memory for
    * RocksDB) faster than maintenance drains them — which progressively
    * degrades the whole JVM. Must NOT be called while a streaming query is
    * actively running (its executors would lose their stores mid-batch and
    * pay a reload). */
  def stopStateStores(): Unit =
    execution.streaming.state.StateStore.stop()

  /** Number of state-store providers currently loaded in this JVM —
    * diagnostic twin of [[stopStateStores]] (the map itself is private, so
    * this goes through reflection; returns -1 if the field moves in a
    * future Spark). */
  def loadedStateStoreProviders(): Int =
    try {
      val cls = execution.streaming.state.StateStore.getClass
      val f = cls.getDeclaredField("loadedProviders")
      f.setAccessible(true)
      f.get(execution.streaming.state.StateStore)
        .asInstanceOf[scala.collection.mutable.HashMap[_, _]].size
    } catch { case scala.util.control.NonFatal(_) => -1 }

  /** Whether Spark's file listing skips a file or directory of this name
    * (`_`- and `.`-prefixed names, in-flight `._COPYING_` copies), so a
    * driver-side listing matches the files a scan reads. `HadoopFSUtils`
    * is private[spark], hence the shim. */
  def hiddenPathName(name: String): Boolean =
    org.apache.spark.util.HadoopFSUtils.shouldFilterOutPathName(name)

  /** The all-string schema Spark's CSV header inference (`header=true`, no
    * type inference) derives from the first of `files` that holds a
    * non-blank line: that line as Spark's line reader reads it (codec,
    * encoding, blank lines), split by Spark's CSV parser (quoting, BOM) and
    * named by its `makeSafeHeader` (blank and duplicate names, case
    * sensitivity) — the steps of `TextInputCSVDataSource.inferFromDataset`,
    * on the driver and with no Spark job. No such line means no columns,
    * as with inference. The CSV reader internals are private to Spark,
    * hence the shim. */
  def csvHeaderSchema(spark: SparkSession, files: Seq[org.apache.hadoop.fs.Path])
      : types.StructType = {
    import execution.datasources.csv.CSVUtils
    val ss = spark.asInstanceOf[classic.SparkSession].sessionState
    val options = new catalyst.csv.CSVOptions(Map("header" -> "true"),
      ss.conf.csvColumnPruning, ss.conf.sessionLocalTimeZone)
    val hadoopConf = ss.newHadoopConf()
    val line = files.iterator
      .flatMap(CSVUtils.readHeaderLine(_, options, hadoopConf)).nextOption()
    val row = line.flatMap(l => Option(
      new com.univocity.parsers.csv.CsvParser(options.asParserSettings).parseLine(l)))
    types.StructType(row.toSeq.flatMap(r =>
      CSVUtils.makeSafeHeader(r, ss.conf.caseSensitiveAnalysis, options))
      .map(types.StructField(_, types.StringType)))
  }

  /** Block until the async listener bus has delivered every queued
    * event. A SparkListener accumulating task metrics over a code
    * region reads ZEROS (or a prior region's stragglers) without this —
    * task-end events are posted asynchronously. `listenerBus` is
    * private[spark], hence the shim. */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
