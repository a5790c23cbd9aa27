package graft.util

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Cache registry separating two cache lifetimes the engine uses:
  *
  *  - TRANSIENT: a query-internal intermediate (a materialized-CTE
  *    analog — the LSH candidate edge list, a scanned fixture tree).
  *    These must NOT outlive their query in a benchmark: Spark's
  *    CacheManager matches by canonicalized plan, so a stale cached
  *    intermediate from one query would silently satisfy an identical
  *    subplan in the next and corrupt per-query timings. Bench drops
  *    them via [[clearTransient]] between queries.
  *
  *  - SHARED INDEX: a long-lived, reused derived dataset (the hashed
  *    shingle index behind the q29/q31/q51 dedup family) — the Spark
  *    analog of a materialized view or the reference's precomputed
  *    `contract`/`function` tables (`/root/reference/src/db.rs:65-84`).
  *    Built once per (session, key) and rebuilt on demand after any
  *    global cache clear; the three family queries reuse one copy
  *    instead of re-scanning and re-hashing the corpus three times. At
  *    100 TB this is the difference between one tokenize+hash pass over
  *    the corpus and three.
  *
  * Memoization mirrors [[Tables]]: weakly keyed by session (a DataFrame
  * strongly references its session, so strong values would pin the key —
  * soft references break the cycle and let memory pressure evict).
  */
object Caches {

  private val transients =
    new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()

  private val shared =
    new java.util.WeakHashMap[SparkSession,
      scala.collection.concurrent.TrieMap[String, java.lang.ref.SoftReference[DataFrame]]]()

  // ---- kernel-cost attribution --------------------------------------
  // Under the shared-kernel discipline a query's cost is MARGINAL: the
  // first consumer constructs (and, at its timed action, materializes)
  // every kernel it names; later consumers ride the cache. A caller that
  // labels the current consumer around each query (perfbench's
  // RegistrySweep, for its `caches.kernel_builds` count) can read back
  // from the rebuild branch below which consumer paid each kernel's build.
  private val buildLog =
    new java.util.WeakHashMap[SparkSession,
      scala.collection.concurrent.TrieMap[String, String]]()
  @volatile private var currentConsumer: Option[String] = None

  /** Label the consumer whose plan construction is running (the caller
    * sets a query label around each `fn` call; None outside).
    */
  def setConsumer(name: Option[String]): Unit = currentConsumer = name

  /** kernel name → the consumer that (re)built it, for `s`. Snapshot of
    * the LAST (re)build of each kernel, across every label ever set in
    * the session.
    */
  def kernelBuilds(s: SparkSession): Map[String, String] =
    shared.synchronized {
      Option(buildLog.get(s)).map(_.toMap).getOrElse(Map.empty)
    }

  private def logBuild(s: SparkSession, name: String): Unit =
    currentConsumer.foreach { c =>
      shared.synchronized {
        var m = buildLog.get(s)
        if (m == null) {
          m = scala.collection.concurrent.TrieMap.empty[String, String]
          buildLog.put(s, m)
        }
        m.put(name, c)
      }
    }

  /** Persist a query-internal intermediate and register it for
    * [[clearTransient]]. Use this instead of bare `.persist()` in query
    * code: self-unpersisting paths may still do so early (the registry
    * tolerates double-unpersist), but anything left over is reclaimed at
    * the next clear instead of leaking — or worse, plan-matching — into
    * the next query. The registry holds STRONG references: Spark's
    * CacheManager keeps every persisted plan strongly until it is
    * unpersisted, so ContextCleaner never reclaims a cached frame whose
    * last user reference died — a weakly held registration would only
    * lose the handle [[clearTransient]] needs to drop it.
    */
  def transientPersist(df: DataFrame): DataFrame = {
    transients.add(df)
    df.persist()
  }

  /** Drop every registered transient cache. Cheap when nothing is
    * registered; safe on already-unpersisted frames.
    */
  def clearTransient(): Unit = {
    var df = transients.poll()
    while (df != null) {
      df.unpersist(blocking = false)
      df = transients.poll()
    }
  }

  /** Drop (and unpersist) every shared-index entry — in ANY session —
    * whose key names the given index directory (the `@idx=dir` /
    * `@vidx=dir` seam-key convention). Sink's index-mutating write
    * paths call this (r19, closing an r18 ADVICE item): the promoted
    * kernels are session-lifetime cached, so a long-lived session that
    * appends/compacts/deletes against a named index mid-session must
    * not keep serving verdict frames derived from the superseded
    * generation. The dir string must match the seam conf's value
    * byte-for-byte — the same equality [[graft.queries]] uses to build
    * the key, so a hit here is exactly a kernel that read this index.
    */
  def invalidateShared(dir: String): Unit = shared.synchronized {
    import scala.jdk.CollectionConverters._
    val tags = Seq(s"@idx=$dir", s"@vidx=$dir")
    // the seam tag always ends the key, so matching the key's END keeps
    // invalidating /a/idx from also hitting /a/idx2 (prefix collision)
    def hit(k: String): Boolean = tags.exists(k.endsWith)
    shared.values.asScala.foreach { m =>
      m.keys.filter(hit).foreach { k =>
        m.remove(k).flatMap(r => Option(r.get))
          .foreach(_.unpersist(blocking = false))
      }
    }
  }

  /** Memoized shared index: builds `build` once per (session, name),
    * persists it, and RE-RUNS the build if a global cache clear (or
    * soft-ref eviction) dropped the persisted data — re-running (rather
    * than re-persisting the stale frame) re-establishes any transient
    * intermediates the build persists for its own materialization.
    * Callers get one cached copy per session regardless of how many
    * queries consume it. The build runs under the per-session lock so
    * concurrent first callers cannot both pay the corpus pass — `build`
    * only CONSTRUCTS the plan (fast); materialization happens lazily at
    * the callers' actions.
    */
  def sharedIndex(s: SparkSession, name: String)(build: => DataFrame): DataFrame = {
    val perSession = shared.synchronized {
      var m = shared.get(s)
      if (m == null) {
        m = scala.collection.concurrent.TrieMap
          .empty[String, java.lang.ref.SoftReference[DataFrame]]
        shared.put(s, m)
      }
      m
    }
    perSession.synchronized {
      Option(perSession.get(name).orNull).flatMap(r => Option(r.get)) match {
        case Some(df) if df.storageLevel != StorageLevel.NONE => df
        case _ =>
          // first call, soft-ref eviction, OR a global clearCache (bench
          // pass boundary) dropped the persisted data. RE-RUN the build
          // closure rather than re-persisting the stale frame: a build
          // may transientPersist its own intermediates (lmScores' inst,
          // substringRuns' prof), and those registrations died with the
          // clear — re-persisting only the outer frame would silently
          // materialize with the intermediates uncached, running each
          // intermediate's subplan once per consumer (the exact
          // multi-pass regression the inner persists exist to prevent)
          val df = build.persist()
          perSession.put(name, new java.lang.ref.SoftReference(df))
          logBuild(s, name)
          df
      }
    }
  }
}
