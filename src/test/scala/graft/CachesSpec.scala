package graft

import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.util.Caches

/** The two cache lifetimes behind the bench's per-query honesty:
  * transient persists must die at clearTransient (no stale plan-matching
  * across queries), shared indexes must survive it (the materialized-view
  * family), and a global clearCache must only force a re-persist of the
  * SAME shared plan, never a rebuild into a second copy.
  */
class CachesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("transientPersist registers for clearTransient; double-unpersist is safe") {
    import spark.implicits._
    val df = Caches.transientPersist(Seq(1, 2, 3).toDF("x"))
    df.count()
    assert(df.storageLevel != StorageLevel.NONE)
    Caches.clearTransient()
    assert(df.storageLevel == StorageLevel.NONE)
    Caches.clearTransient() // empty queue: no-op, no throw

    // a frame whose last user reference is gone must still be dropped:
    // CacheManager pins the persisted plan, so only the registry's own
    // reference lets clearTransient reach it after a GC. Tracked by RDD
    // id: the context holds persisted RDDs weakly, so the GC may also
    // drop unrelated leftovers and move the plain count.
    def persisted = spark.sparkContext.getPersistentRDDs.keySet
    val before = persisted
    def persistAndDrop(): Unit = {
      Caches.transientPersist(Seq(System.nanoTime()).toDF("y")).count(): Unit
    }
    persistAndDrop()
    val added = persisted -- before
    assert(added.size == 1)
    System.gc()
    Caches.clearTransient()
    assert((persisted & added).isEmpty, "transient cache outlived clearTransient")
  }

  test("sharedIndex survives clearTransient, memoizes, and re-persists after a global clear") {
    import spark.implicits._
    var builds = 0
    def build() = { builds += 1; Seq((1L, "a"), (2L, "b")).toDF("k", "v") }
    val key = s"spec-shared-${System.nanoTime()}"
    val a = Caches.sharedIndex(spark, key)(build())
    a.count()
    assert(builds == 1)
    assert(a.storageLevel != StorageLevel.NONE)

    // a transient clear must NOT touch the shared index
    Caches.clearTransient()
    assert(a.storageLevel != StorageLevel.NONE)

    // memoized: same frame back, no rebuild
    val b = Caches.sharedIndex(spark, key)(build())
    assert(builds == 1)
    assert(b eq a)

    // pass boundary: global clear drops the data; the next access
    // RE-RUNS the build closure — a build may transientPersist its own
    // intermediates (lmScores' inst, substringRuns' prof) whose
    // registrations died with the clear, so re-persisting the stale
    // frame would materialize with them uncached (each intermediate's
    // subplan re-executed once per consumer). The rebuilt frame
    // replaces the memo entry.
    spark.sqlContext.clearCache()
    assert(a.storageLevel == StorageLevel.NONE)
    val c = Caches.sharedIndex(spark, key)(build())
    assert(builds == 2)
    assert(c ne a)
    assert(c.storageLevel != StorageLevel.NONE)
    c.unpersist()
  }

  test("invalidateShared drops exactly the entries keyed on the written index dir") {
    import spark.implicits._
    val dir = s"/tmp/graft-spec-idx-${System.nanoTime()}"
    val hit = Caches.sharedIndex(spark, s"specK:x@idx=$dir")(
      Seq(1L).toDF("k"))
    val vhit = Caches.sharedIndex(spark, s"specK:y@vidx=$dir")(
      Seq(2L).toDF("k"))
    val miss = Caches.sharedIndex(spark, s"specK:z@idx=$dir-other")(
      Seq(3L).toDF("k"))
    hit.count(); vhit.count(); miss.count()
    Caches.invalidateShared(dir)
    // the two entries keyed on THIS dir are gone (unpersisted and
    // forgotten — the next access rebuilds); the other-index entry and
    // its cache survive
    assert(hit.storageLevel == StorageLevel.NONE)
    assert(vhit.storageLevel == StorageLevel.NONE)
    assert(miss.storageLevel != StorageLevel.NONE)
    var rebuilt = false
    Caches.sharedIndex(spark, s"specK:x@idx=$dir") {
      rebuilt = true; Seq(1L).toDF("k")
    }
    assert(rebuilt)
    miss.unpersist()
  }

  test("exactHashesK: promoted kernel is cached, value-identical, and memoized") {
    val d = TestSpark.sfDir
    val raw = graft.queries.TrainingOps.exactHashes(spark, d)
      .orderBy("doc_id").collect()
    val k = graft.queries.TrainingOps.exactHashesK(spark, d)
    k.count()
    assert(k.storageLevel != StorageLevel.NONE, "promoted kernel not cached")
    assert(k.orderBy("doc_id").collect().sameElements(raw))
    // memoized: the second consumer gets the same frame
    assert(graft.queries.TrainingOps.exactHashesK(spark, d) eq k)
    spark.sqlContext.clearCache()
  }
}
