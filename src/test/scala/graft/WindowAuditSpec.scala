package graft

import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Scale pins for the two r19-verdict invariants no other spec held:
  *
  *  1. UNPARTITIONED WINDOWS (the `WindowExec: No Partition Defined`
  *     warning): a window with an empty partitionSpec moves its whole
  *     input through ONE task — at 100 TB an unbounded one is a
  *     single-partition collapse. Every such window in the registry
  *     must have a WRITTEN input bound; this spec enumerates them from
  *     the optimized logical plans of all registry queries, so a new
  *     one (or a refactor that un-keys an existing window) fails the
  *     suite until its bound is argued here and in OPTIMIZATION_r19.md.
  *     The allowed sites and their bounds:
  *      - q66/q81 (packSequences `acrossBuckets`): input is the per-pid
  *        offsets table — |docs|/1024 rows by construction (pid =
  *        doc_id DIV 1024); the corpus-sized running total runs
  *        PARTITIONED per pid, only bucket offsets cross one task.
  *      - q92 (score-histogram cumulate): input is the per-bin
  *        histogram — ≤ 2^20+1 rows regardless of corpus size
  *        (lm_score is a mean of probabilities ≤ 1, so floor(score·2^20)
  *        has at most 2^20+1 distinct values).
  *      - q94 (water-fill prefix): input is the per-source caps table —
  *        |sources| rows (low-cardinality by schema).
  *
  *  2. POSTINGS DISTINCTNESS (the r18 count()-for-countDistinct family):
  *     contaminationHits, noveltyFrame, q111 and q124's docSizes spread
  *     compute correct integers ONLY IF shinglePostings is distinct per
  *     (doc_id, h1) on BOTH seam paths — set-semantics `shingles()`
  *     guarantees it in-session, and the healthy-index contract
  *     guarantees it for a persisted index. A future index writer
  *     change that duplicated postings would silently corrupt five
  *     queries at scale; this pin makes it loud.
  */
class WindowAuditSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Queries allowed to carry an unpartitioned window, with the bound
    * argued in the scaladoc above.
    */
  private val BoundedUnpartitioned = Set(
    "q66_sequence_pack", "q81_bpe_apply_pack", // |docs|/1024 offsets rows
    "q92_quality_buckets", // ≤ 2^20+1 histogram bins
    "q94_epoch_plan") // |sources| caps rows

  test("every unpartitioned window in the registry has a written bound") {
    val offenders = TestSpark.registryRunnableHere.flatMap { q =>
      val plan = q.fn(spark, TestSpark.sfDir).queryExecution.optimizedPlan
      val unpart = plan.collect {
        case w: LWindow if w.partitionSpec.isEmpty => w
      }
      if (unpart.nonEmpty) Some(q.name -> unpart.size) else None
    }
    val unexpected = offenders.filterNot(o => BoundedUnpartitioned(o._1))
    assert(unexpected.isEmpty,
      s"unpartitioned windows without a written bound: $unexpected — " +
        "either re-key the window or argue its input bound in " +
        "WindowAuditSpec/OPTIMIZATION_r19.md")
    // the allowed set must also all still EXIST (a stale allowance is a
    // silently weakened pin)
    val present = offenders.map(_._1).toSet
    assert(BoundedUnpartitioned.subsetOf(present),
      s"allowed unpartitioned-window sites no longer present: " +
        s"${BoundedUnpartitioned -- present} — prune the allowance")
  }

  test("shinglePostings is distinct per (doc_id, h1) on the session path") {
    val dup = graft.queries.TrainingOps.shinglePostings(spark, TestSpark.sfDir)
      .groupBy("doc_id", "h1").count().filter(col("count") > 1).count()
    assert(dup == 0L,
      s"$dup duplicated (doc_id, h1) postings on the session path — the " +
        "r18 count()-for-countDistinct rewrites (contaminationHits, " +
        "noveltyFrame, q111, q124 docSizes) are now computing wrong integers")
  }

  test("shinglePostings is distinct per (doc_id, h1) on the fpIndex seam path") {
    assert(spark.conf.getOption("spark.graft.fpIndex").isEmpty)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-winaudit-idx").toString
    graft.sink.Sink.writeFingerprints(
      graft.util.Tables.documents(spark, TestSpark.sfDir)
        .select(col("doc_id"), col("text")), dir)
    spark.conf.set("spark.graft.fpIndex", dir)
    try {
      val dup = graft.queries.TrainingOps
        .shinglePostings(spark, TestSpark.sfDir)
        .groupBy("doc_id", "h1").count().filter(col("count") > 1).count()
      assert(dup == 0L,
        s"$dup duplicated (doc_id, h1) postings under the index seam — " +
          "the persisted index violates the healthy-index distinctness " +
          "contract the count() rewrites depend on")
    } finally spark.conf.unset("spark.graft.fpIndex")
  }
}
