package graft.queries

import graft.{SparkEntry, SparkSpec}

/** Post-run oracles for trained models (PCA basis, IVF centroids) must
  * render the artifact of the LAST (session, dir) actually queried — a
  * global slot would pair dir A's result with dir B's literals after a
  * second corpus runs in the same JVM (ADVICE r5 low: false-oracle-match
  * risk). Pins the per-(session, dir) keying and the Scratch.releaseRun
  * teardown. */
class TrainedModelMemoSpec extends SparkSpec {

  private val dirA = "/root/testdata/sf0.001"
  private val dirB = "/root/testdata/sf0.01"

  test("pca oracle follows the last-queried dir and is stable per dir") {
    val fn = SparkEntry.queries("pca_project")
    fn(spark, dirA) // plan construction fits + stashes the model
    val a1 = SparkEntry.oracleSql.get("pca_project")
    assert(a1.isDefined, "oracle must render after a run")
    fn(spark, dirB)
    val b = SparkEntry.oracleSql.get("pca_project")
    assert(b.isDefined && b != a1,
      "different corpus must render a different basis")
    fn(spark, dirA)
    val a2 = SparkEntry.oracleSql.get("pca_project")
    assert(a2 == a1, "memoized fit must render identically for its dir")
  }

  // The name is kept from the per-module coolIvf teardown, which
  // Scratch.releaseRun replaced; the assertions are unchanged.
  test("coolIvf drops trained-model memos so no stale oracle can render") {
    SparkEntry.queries("pca_project")(spark, dirA)
    SparkEntry.queries("sim_ivf_trained_topk")(spark, dirA)
    assert(SparkEntry.oracleSql.contains("pca_project"))
    assert(SparkEntry.oracleSql.contains("sim_ivf_trained_topk"))
    graft.ops.Scratch.releaseRun(spark)
    val after = SparkEntry.oracleSql
    assert(!after.contains("pca_project"))
    assert(!after.contains("sim_ivf_trained_topk"))
    assert(!after.contains("dedup_semantic"))
  }
}
