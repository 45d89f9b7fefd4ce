package graft.ops

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one owner of state that outlives the plan that made it.
  *
  * Per-query scratch: frames persisted because one query plan consumes
  * them more than once (self-join sides, a sorted frame read by both
  * zipWithIndex's count job and the downstream scan). The persist must
  * outlive the query's ACTION — which happens after the builder returns —
  * so builders can't unpersist; each persist registers here and the runner
  * calls [[releaseAll]] once the action completes (through
  * `SparkEntry.release`, or `Dedup.releaseScratch` directly).
  *
  * Run-scoped memos: materializations shared across the queries of one
  * run (the enriched events frame, the KPI tables, the co-purchase edges,
  * MinHash signatures/candidates/clusters, trained IVF and PCA models, the
  * token scratch, the bucketed tables). Each is a [[Memo]] keyed by
  * (session, sf dir) that knows how to free its values; [[releaseRun]]
  * frees every entry of one session, so a runner's teardown is one call
  * and a long-lived session frees what a run built without knowing which
  * query families ran. */
object Scratch {

  private val registry = scala.collection.concurrent.TrieMap
    .empty[DataFrame, Unit]

  // MEMORY_AND_DISK (the Dataset.persist default, made explicit): under
  // full-suite memory pressure an evicted scratch partition is re-read
  // from local disk, never recomputed through the subtree it exists to
  // avoid — the warm-slower-than-cold failure mode.
  def persist(df: DataFrame): DataFrame = {
    val p = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    registry.put(p, ()); p
  }

  /** Unpersist every registered per-query scratch frame; called between
    * queries. */
  def releaseAll(): Unit =
    registry.keys.foreach { df =>
      registry.remove(df)
      try df.unpersist() catch { case _: Throwable => () }
    }

  private val memos = new java.util.concurrent.CopyOnWriteArrayList[Memo[_]]

  /** A run-scoped memo: one value per (session, sf dir), built on first use
    * and kept until [[releaseRun]] runs `release` on it. */
  final class Memo[A](release: A => Unit) {
    private val entries = scala.collection.concurrent.TrieMap
      .empty[(SparkSession, String), A]
    memos.add(this)

    /** The entry for (s, dir), built by `build` if there is none. */
    def apply(s: SparkSession, dir: String)(build: => A): A =
      entries.getOrElseUpdate((s, dir), build)

    def get(s: SparkSession, dir: String): Option[A] = entries.get((s, dir))

    private[Scratch] def releaseSession(s: SparkSession): Unit =
      entries.keys.filter(_._1 eq s).foreach { k =>
        entries.remove(k).foreach(a =>
          try release(a) catch { case NonFatal(_) => () })
      }
  }

  /** Drop every memo entry of session `s` and run its release: persisted
    * frames are unpersisted, checkpointed frames and trained models lose
    * their last reference (the ContextCleaner reclaims the blocks), and
    * the next use builds afresh. */
  def releaseRun(s: SparkSession): Unit =
    memos.forEach(_.releaseSession(s))
}
