package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, MapState, OutputMode,
  StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** Per-key running totals on the MODERN arbitrary-state API
  * (`transformWithState`, Spark 4) — the successor to
  * flatMapGroupsWithState that [[Sessionize.streaming]] uses. Differences
  * that matter at scale, demonstrated here: state is a typed handle
  * created in `init` (not a whole-group case class the runtime
  * round-trips every batch), per-state TTL is declarative
  * (`TTLConfig`), and the API requires the RocksDB state-store provider —
  * the store that keeps 100 TB-scale state off the executor heap and
  * makes checkpoints incremental (changelog), vs the default HDFS-backed
  * store's full-snapshot uploads and heap residency.
  *
  * The processor keeps ONE long per key — running event total — and
  * emits the updated total once per (key, batch): update-mode output,
  * downstream-upsertable by key.
  */
object RunningCounts {

  final case class Total(user_id: Long, total: Long)

  class Processor extends StatefulProcessor[Long, Long, Total] {
    @transient private var count: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      count = getHandle.getValueState[Long]("count",
        Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[Long],
                                 timerValues: TimerValues): Iterator[Total] = {
      val n = (if (count.exists()) count.get() else 0L) + rows.size
      count.update(n)
      Iterator.single(Total(key, n))
    }
  }

  final case class TypeCount(user_id: Long, event_type: String, n: Long)

  /** MapState twin of [[Processor]]: per user, a keyed sub-map of
    * event_type → running count. MapState stores each (user, type) pair
    * as its OWN state-store entry — updating one type never rewrites
    * the user's whole map (a ValueState[Map] would round-trip the full
    * map per update), which is the property that keeps wide per-key
    * maps cheap in RocksDB at scale. */
  class TypeProcessor extends StatefulProcessor[Long, (Long, String),
      TypeCount] {
    @transient private var counts: MapState[String, Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      counts = getHandle.getMapState[String, Long]("type_counts",
        Encoders.STRING, Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[(Long, String)],
                                 timerValues: TimerValues)
        : Iterator[TypeCount] = {
      rows.foreach { case (_, t) =>
        val cur = if (counts.containsKey(t)) counts.getValue(t) else 0L
        counts.updateValue(t, cur + 1L)
      }
      counts.iterator().map { p => TypeCount(key, p._1, p._2) }
    }
  }

  /** Per-(user, type) running counts via MapState (update mode). */
  def typeTotals(pairs: Dataset[(Long, String)]): Dataset[TypeCount] = {
    implicit val keyEnc: Encoder[Long] = Encoders.scalaLong
    implicit val inEnc: Encoder[(Long, String)] =
      Encoders.tuple(Encoders.scalaLong, Encoders.STRING)
    implicit val outEnc: Encoder[TypeCount] = Encoders.product[TypeCount]
    pairs.groupByKey(_._1)
      .transformWithState(new TypeProcessor, TimeMode.None(),
        OutputMode.Update())
  }

  /** [[typeTotals]] over everything currently in `dir` (AvailableNow):
    * the single delivered batch makes each emitted (user, type) row its
    * full count — the plain GROUP BY twin DuckDB checks. */
  def runTypesAvailableNow(spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
      StreamConf.sized(spark, StreamConf.RocksDb) {
    import org.apache.spark.sql.functions.col
    // nanos-vintage fixtures need the nanosAsLong conf even though `ts`
    // is never selected (PARQUET_TYPE_ILLEGAL otherwise; the session
    // carries it from HarnessSession.install) — the memoized
    // Sources.parquetSchema skips the per-call inference job
    val schema =
      graft.io.Sources.parquetSchema(spark, s"$dir/events.parquet")
    implicit val inEnc: Encoder[(Long, String)] =
      Encoders.tuple(Encoders.scalaLong, Encoders.STRING)
    val pairs = spark.readStream.schema(schema).parquet(s"$dir/events.*")
      .select(col("user_id"), col("event_type")).as[(Long, String)]
    val q = typeTotals(pairs)
      .writeStream.format("memory").queryName("graft_tws_types")
      .outputMode("update")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table("graft_tws_types").orderBy("user_id", "event_type")
  }

  final case class IdleSession(user_id: Long, n_events: Long, last_ms: Long)

  /** Event-time TIMERS on the modern state API: a gap-based session
    * that emits when the WATERMARK passes last-event + gap — i.e. the
    * engine calls [[handleExpiredTimer]], not a new input row. This is
    * the push-based expiry that replaces flatMapGroupsWithState's
    * GroupStateTimeout: timers are first-class per-key state (register/
    * delete/list), checkpointed with the store, and fire exactly once
    * per expiry even if the key never appears again — which is what
    * lets 100 TB-scale session state drain itself instead of leaking
    * keys that went quiet. Stale timers (superseded by a later event)
    * are detected by comparing the firing time against last + gap. */
  class IdleSessionProcessor(gapMs: Long)
      extends StatefulProcessor[Long, (Long, Long), IdleSession] {
    @transient private var n: ValueState[Long] = _
    @transient private var last: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      n = getHandle.getValueState[Long]("n", Encoders.scalaLong,
        TTLConfig.NONE)
      last = getHandle.getValueState[Long]("last", Encoders.scalaLong,
        TTLConfig.NONE)
    }

    override def handleInputRows(key: Long, rows: Iterator[(Long, Long)],
                                 timerValues: TimerValues)
        : Iterator[IdleSession] = {
      var cnt = if (n.exists()) n.get() else 0L
      var mx = if (last.exists()) last.get() else Long.MinValue
      rows.foreach { case (_, t) => cnt += 1; if (t > mx) mx = t }
      n.update(cnt)
      last.update(mx)
      // one live timer per key: re-arm at the new idle deadline
      getHandle.listTimers().foreach(t => getHandle.deleteTimer(t.asInstanceOf[Long]))
      getHandle.registerTimer(mx + gapMs)
      Iterator.empty
    }

    override def handleExpiredTimer(key: Long, timerValues: TimerValues,
                                    expiredTimerInfo: ExpiredTimerInfo)
        : Iterator[IdleSession] = {
      val mx = if (last.exists()) last.get() else Long.MinValue
      if (expiredTimerInfo.getExpiryTimeInMs >= mx + gapMs && n.exists()) {
        val out = IdleSession(key, n.get(), mx)
        n.clear(); last.clear()
        Iterator.single(out)
      } else Iterator.empty // stale timer: a later event re-armed
    }
  }

  /** Gap-closed sessions over (key, event-time-ms) pairs; emission is
    * timer-driven (watermark-gated), not input-driven. */
  def idleSessions(pairs: Dataset[(Long, Long)], gapMs: Long)
      : Dataset[IdleSession] = {
    implicit val keyEnc: Encoder[Long] = Encoders.scalaLong
    implicit val outEnc: Encoder[IdleSession] = Encoders.product[IdleSession]
    pairs.groupByKey(_._1)
      .transformWithState(new IdleSessionProcessor(gapMs),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** Running totals over a stream of keys (update mode: one row per key
    * per batch that saw the key, carrying the cumulative total). */
  def runningTotals(keys: Dataset[Long]): Dataset[Total] = {
    implicit val keyEnc: Encoder[Long] = Encoders.scalaLong
    implicit val outEnc: Encoder[Total] = Encoders.product[Total]
    keys.groupByKey(identity)
      .transformWithState(new Processor, TimeMode.None(), OutputMode.Update())
  }

  /** [[runningTotals]] over everything currently in `dir`'s events table
    * (AvailableNow): the single delivered batch makes each key's one
    * update-mode emission its full total, so the result must equal a
    * plain per-user batch count — the DuckDB twin. Cross-batch
    * accumulation is RunningCountsSpec's job; this entry data-checks the
    * operator (and the RocksDB provider path) on real data. */
  def runAvailableNow(spark: org.apache.spark.sql.SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame =
      StreamConf.sized(spark, StreamConf.RocksDb) {
    import org.apache.spark.sql.functions.col
    // see runTypesAvailableNow: memoized probe, nanos conf inside
    val schema =
      graft.io.Sources.parquetSchema(spark, s"$dir/events.parquet")
    implicit val keyEnc: Encoder[Long] = Encoders.scalaLong
    val users = spark.readStream.schema(schema).parquet(s"$dir/events.*")
      .select(col("user_id")).as[Long]
    val q = runningTotals(users)
      .writeStream.format("memory").queryName("graft_tws_totals")
      .outputMode("update")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table("graft_tws_totals").orderBy("user_id")
  }
}
