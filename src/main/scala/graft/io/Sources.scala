package graft.io

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, GraftShims, SparkSession}
import org.apache.spark.sql.types.StructType

/** Readers (SURVEY §2.1 S1-S4).
  *
  * Design for scale: every reader takes an explicit schema (no inference pass),
  * and multi-file reads go through Spark's native multi-path CSV/parquet scan —
  * one distributed job, per-file headers handled by the source, instead of the
  * reference's driver-side read-all-then-string-concat
  * (reference: dags/music_streaming_services_dag.py:26-41), which caps input at
  * driver RAM and embeds stale header lines as data rows (SURVEY §2.11-1).
  */
object Sources {

  /** S1 — input probe: does the input location contain any objects?
    * The reference branches the DAG on S3 `list_keys`
    * (reference: dags/music_streaming_services_dag.py:15-23). Hadoop FS makes
    * this storage-agnostic (s3a://, hdfs://, file://). */
  def inputExists(spark: SparkSession, dir: String): Boolean = {
    val p = new Path(dir)
    val fs = FileSystem.get(p.toUri, spark.sparkContext.hadoopConfiguration)
    // globStatus, not exists(): the location is routinely a glob
    // ("batches/*.csv") — exists() on a glob is always false and would
    // wrongly end the run. For literal paths globStatus behaves like
    // exists+list.
    val matches = Option(fs.globStatus(p)).map(_.toSeq).getOrElse(Nil)
    matches.exists(s => s.isDirectory && {
      val inner = fs.listStatus(s.getPath)
      inner.exists(f => (f.isFile && f.getLen > 0) || f.isDirectory)
    }) || matches.exists(s => s.isFile && s.getLen > 0)
  }

  /** S2 + S4 — CSV scan over one or many paths/globs, keeping the files' own
    * header columns (all strings). Replaces the reference's
    * read-concat-rewrite (reference: dags/music_streaming_services_dag.py:26-41):
    * Spark globs, unions by position (UNION ALL semantics, O5) and strips each
    * file's header row correctly. Kept schemaless so column validation (F1)
    * sees what's actually in the files — an imposed schema would mask missing
    * or reordered columns.
    *
    * Opening runs no Spark job: the columns come from [[headerSchema]], a
    * driver-side read of one header line, and the scan is declared with that
    * all-string schema. Spark's own header inference runs a job per call,
    * before any data is read. */
  def csvRaw(spark: SparkSession, paths: String*): DataFrame =
    spark.read.schema(headerSchema(spark, paths)).option("header", "true")
      .csv(paths: _*)

  /** The columns Spark's CSV header inference gives `paths`, as an
    * all-string schema, without a Spark job.
    *
    * Inference reads the first non-blank line of the first file split, and
    * splits are ordered by size, largest first: that is the first non-blank
    * line of the largest non-hidden, non-empty file the paths match (ties in
    * listing order, as Spark lists them). That line is read on the driver
    * and named by Spark's own CSV code (`GraftShims.csvHeaderSchema`). No
    * matched file with a non-blank line means no columns, as with inference
    * over empty files; a path that matches nothing also yields none here,
    * and the scan declared on it then fails with Spark's path-not-found
    * error. */
  private def headerSchema(spark: SparkSession, paths: Seq[String]): StructType = {
    val conf = spark.sparkContext.hadoopConfiguration
    // Spark's listing rule: hidden names are skipped below a root and for
    // a root that is a file; a root directory is listed whatever its name
    def hidden(s: FileStatus) = GraftShims.hiddenPathName(s.getPath.getName)
    def leaves(fs: FileSystem, dir: FileStatus): Seq[FileStatus] =
      fs.listStatus(dir.getPath).toSeq.filterNot(hidden).flatMap(s =>
        if (s.isDirectory) leaves(fs, s) else Seq(s))
    val files = paths.flatMap { p =>
      val path = new Path(p)
      val fs = path.getFileSystem(conf)
      Option(fs.globStatus(path)).toSeq.flatten.flatMap(s =>
        if (s.isDirectory) leaves(fs, s) else Seq(s).filterNot(hidden))
    }
    GraftShims.csvHeaderSchema(spark,
      files.filter(_.getLen > 0).sortBy(-_.getLen).map(_.getPath))
  }

  /** Conform a raw (string-typed) frame to a declared schema BY NAME: select
    * the declared columns in order and cast. Column order in the file is
    * irrelevant (the reference's check is order-insensitive, SURVEY §2.3 F1);
    * extra columns are dropped. Call after Validate.requiredColumns. */
  def conform(df: DataFrame, schema: StructType): DataFrame =
    df.select(schema.fields.toSeq.map(f =>
      org.apache.spark.sql.functions.col(f.name).cast(f.dataType).as(f.name)): _*)

  /** CSV scan conformed to an explicit schema (no validation step). */
  def csv(spark: SparkSession, schema: StructType, paths: String*): DataFrame =
    conform(csvRaw(spark, paths: _*), schema)

  /** Parquet scan for the driver testdata tables.
    *
    * `events.ts` has shipped in THREE physical shapes across fixture
    * regenerations, and all must land as session-zoned `TimestampType`
    * (the type `unix_millis`, `withWatermark`, and every event-time
    * consumer requires):
    *  - TIMESTAMP(NANOS,false): Spark rejects it by default
    *    (PARQUET_TYPE_ILLEGAL), so nanos are read as epoch-nano longs and
    *    rebuilt at microsecond precision (lossless — the generator emits
    *    microsecond-resolution values; integer `div`, no float path);
    *  - TIMESTAMP(MICROS,isAdjustedToUTC=false): Spark reads TIMESTAMP_NTZ,
    *    which event-time analysis rejects. Session timezone is UTC, so a
    *    cast to TimestampType preserves every wall-clock field and matches
    *    DuckDB's naive reads bit-for-bit;
    *  - TIMESTAMP(MICROS,isAdjustedToUTC=true): already TimestampType,
    *    passes through.
    * Normalization is by ACTUAL column type, not table name or fixture
    * vintage; all three shapes are pinned in TimestampShapeSpec. */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = s"$sfDir/$name.parquet"
    // Explicit schema per the object scaladoc's no-inference-pass rule —
    // which this entry point itself violated until r16: a schema-less
    // spark.read.parquet runs a ~40 ms schema-inference JOB per call
    // ("parquet at Sources.scala" in the job listener), and the bench
    // pays it once per table reference per query per pass. The schema is
    // a pure function of the on-disk file (read once under the same
    // nanosAsLong conf the scan uses), memoized exactly like the footer
    // annotation below — metadata, not data: every query still computes
    // from the parquet bytes.
    val schema = schemaCache.computeIfAbsent(path,
      p => spark.read.parquet(p).schema)
    normalizeTs(spark.read.schema(schema).parquet(path),
      tsIsNanosAnnotated(spark, path))
  }

  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, StructType]()

  /** The memoized on-disk schema of a fixture parquet path — for callers
    * that need a schema WITHOUT a scan (the streaming sources must pass
    * one to `readStream`), so they stop paying the per-call
    * schema-inference job `table` no longer pays. Read under the same
    * nanosAsLong conf every consumer uses. */
  def parquetSchema(spark: SparkSession, path: String): StructType = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schemaCache.computeIfAbsent(path, p => spark.read.parquet(p).schema)
  }

  /** Normalize a `ts` column (if present) to session-zoned TimestampType —
    * see [[table]] for the three physical shapes this absorbs.
    *
    * The LongType branch fires only when `longTsIsNanos` proves the
    * physical column really is TIMESTAMP(NANOS) read under
    * `nanosAsLong` — Spark's Catalyst schema erases that annotation to a
    * bare LongType, indistinguishable from a legitimate long `ts`
    * (epoch-millis, a sequence number) that a nanos rebuild would silently
    * corrupt. Callers reading parquet pass [[tsIsNanosAnnotated]] of the
    * path; the parameter is by-name so the footer is only opened when a
    * LongType `ts` is actually present. */
  def normalizeTs(df: DataFrame, longTsIsNanos: => Boolean = true)
      : DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    df.schema.find(_.name == "ts").map(_.dataType) match {
      // integer `div`, not `/`: epoch-nanos exceed 2^53, double division
      // would corrupt the low microseconds.
      case Some(LongType) if longTsIsNanos =>
        df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case Some(TimestampNTZType) =>
        df.withColumn("ts", col("ts").cast("timestamp"))
      case _ => df
    }
  }

  /** Does the parquet data at `path` (file or directory of part files)
    * carry a `ts` column annotated TIMESTAMP(unit=NANOS)? This is the
    * ground truth the Catalyst schema loses under `nanosAsLong` (both a
    * nanos timestamp and a plain BIGINT surface as LongType) — one footer
    * open per distinct path, memoized because fixture files don't change
    * within a session. */
  def tsIsNanosAnnotated(spark: SparkSession, path: String): Boolean =
    nanosCache.computeIfAbsent(path, { p =>
      import org.apache.parquet.hadoop.ParquetFileReader
      import org.apache.parquet.hadoop.util.HadoopInputFile
      import org.apache.parquet.schema.LogicalTypeAnnotation
      try {
        val hconf = spark.sparkContext.hadoopConfiguration
        val root = new org.apache.hadoop.fs.Path(p)
        val fs = root.getFileSystem(hconf)
        val file =
          if (!fs.getFileStatus(root).isDirectory) Some(root)
          else fs.listStatus(root).map(_.getPath)
            .find(f => !f.getName.startsWith("_") && !f.getName.startsWith("."))
        file.exists { f =>
          val r = ParquetFileReader.open(HadoopInputFile.fromPath(f, hconf))
          val schema = try r.getFooter.getFileMetaData.getSchema
          finally r.close()
          schema.containsField("ts") && {
            val t = schema.getType(schema.getFieldIndex("ts"))
            t.isPrimitive && (t.getLogicalTypeAnnotation match {
              case a: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
                a.getUnit == LogicalTypeAnnotation.TimeUnit.NANOS
              case _ => false
            })
          }
        }
      } catch { case scala.util.control.NonFatal(_) => false }
    })

  private val nanosCache =
    new java.util.concurrent.ConcurrentHashMap[String,
      java.lang.Boolean]()

  /** Redistribute a (narrow, already-projected) frame across the cluster's
    * default parallelism. Single-file / single-row-group inputs arrive as ONE
    * scan partition — any CPU-heavy map pipeline (hashing, shingling, vector
    * math) would run on one core until its first shuffle. Call this after
    * projecting down to the columns the pipeline needs, so the exchange moves
    * the minimum bytes.
    *
    * The exchange is GUARDED two ways:
    *  - a frame whose plan already contains a wide (shuffle-introducing)
    *    operator is returned untouched WITHOUT probing — its parallelism is
    *    already shuffle-partition-wide, and probing `df.rdd` under AQE
    *    would eagerly execute the upstream stages at plan-construction
    *    time (the very driver-side-work smell the sign-LSH dims probe was
    *    removed for);
    *  - a narrow scan-rooted frame (where the `df.rdd` partition count is
    *    a pure planning question, no job) skips the exchange when it
    *    already has ≥ `minPartitions` (default: cluster parallelism) scan
    *    partitions — on a real many-split 100 TB input scatter is a no-op
    *    instead of a gratuitous full shuffle.
    * Both cases are asserted in PlanSpec. */
  def scatter(df: DataFrame, minPartitions: Int = -1): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical._
    // "wide" = genuinely shuffle-partition-wide. A coalesce
    // (Repartition(shuffle=false)), a partition-local sort, or an
    // empty-partitionBy window can still sit at 1 partition — those fall
    // through to the probe+exchange path below.
    val wide = df.queryExecution.analyzed.collectFirst {
      case p @ (_: Join | _: Aggregate | _: Distinct | _: Deduplicate |
                _: RepartitionByExpression) => p
      case w: Window if w.partitionSpec.nonEmpty => w
      case s: Sort if s.global => s
      case r: Repartition if r.shuffle => r
    }.isDefined
    if (wide) df
    else {
      val target =
        if (minPartitions > 0) minPartitions
        else df.sparkSession.sparkContext.defaultParallelism
      if (df.rdd.getNumPartitions >= target) df else df.repartition(target)
    }
  }

  /** S3 — JDBC table scan (reference: dags/music_streaming_services_dag.py:45-81
    * does `SELECT * FROM users/songs` through a psycopg2 cursor, materializing
    * everything on one node). The Spark JDBC source pushes projection/predicates
    * into the database and can parallelize by a partition column
    * (partitionColumn/lowerBound/upperBound/numPartitions via `options`).
    * Verified end-to-end against embedded Derby in JdbcRoundTripSpec. */
  def jdbc(spark: SparkSession, url: String, tableName: String,
           options: Map[String, String] = Map.empty): DataFrame = {
    val r = spark.read.format("jdbc")
      .option("url", url).option("dbtable", tableName)
    options.foldLeft(r) { case (b, (k, v)) => b.option(k, v) }.load()
  }
}
