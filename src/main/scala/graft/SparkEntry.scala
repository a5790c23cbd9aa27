package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.{AnalyticsOps, AuditOps, ContractQueries, Q, ReferenceOps, TrainingOps}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` maps every implemented operator from SURVEY.md §2 (plus the
  * large-scale training-data extensions) to a DataFrame query over the
  * testdata tables; `oracleSql` carries the DuckDB-equivalent SQL the driver
  * hash-compares against at sf0.01.
  */
object SparkEntry {

  /** The pair-expansion partition class (see [[graft.queries.Q]]'s
    * `pairExpansion` doc): queries whose reduce-side AGGREGATION STATE
    * is pair-volume — the inverted-index shingle self-join
    * (pairIntersections): q31/q76 directly, q99's calibration on top of
    * it. Experimentally: q31 at sf10 spills at the cores floor (59 s vs
    * the 26.5 s derived-count floor).
    *
    * The criterion is measured spill risk (reduce-side STATE), not
    * enumeration work: the r13 sf10 A/B showed the other pair-SHAPED
    * kernels run as fast or faster at cores — cellPairCos consumers
    * (q33 2.6/2.5, q85 3.4 vs 5.5 at 512) because the in-join window
    * prunes output to the bounded retained region before anything
    * accumulates, and the positional-runs family (q80 3.9 vs 4.7)
    * because run volume is overlap-bounded; their bounded state is a
    * design property, so cores is safe by construction at any scale,
    * and tagging them only bought wave tax. lshPairs consumers are
    * likewise untagged (band-collision candidates output-bounded; the
    * r12 q108 A/B: 16.59 s at 32 vs 3× in waves at 544). Tagged here
    * (not at each Q literal) so the class reads as one reviewable list.
    */
  private val pairExpansion = Set(
    "q31_ngram_jaccard", "q76_containment", "q99_minhash_error")
  // r13c candidates MEASURED OUT of the class by the interleaved
  // in-JVM A/B (interleaving the arms in one JVM removes the
  // window drift which first misread q119 as spilling: back-to-back
  // ScaleCheck JVMs read 57 s and 4.3 s for the SAME cores posture):
  // q119 sf10 min 4.09 s at 32 vs 5.38 at 512, q121 4.51 vs 15.60 —
  // the dup-span owner aggregation and the novelty membership join
  // both fit the cores floor; derived counts only buy wave tax.
  // BASELINE.md r13c records the full A/B.

  /** Every registered query, in registry order. */
  def registry: Seq[Q] =
    (ReferenceOps.all ++ TrainingOps.all ++ AnalyticsOps.all ++ AuditOps.all ++
      ContractQueries.all)
      .map(q => if (pairExpansion(q.name)) q.copy(pairExpansion = true) else q)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * TPC-H-Q1-shaped scan→filter→group-agg on lineitem (SURVEY §7.2 M1).
    */
  def entry(spark: SparkSession): DataFrame =
    queries("q10_agg_pricing")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.fn).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops (driver
    * records a weaker rows-only check for those).
    */
  def oracleSql: Map[String, String] =
    registry.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
