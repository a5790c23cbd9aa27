package graft

import org.scalatest.funsuite.AnyFunSuite

/** X103 — the semantic tier's standing-corpus index (the X76/X91/X97
  * lifecycle applied to embeddings): build/append/compact the
  * cell-partitioned vector table, probe a batch against it, and ride it
  * from q118 via the `spark.graft.vecIndex` seam. Pins:
  *  (a) seam identity: q118 under the seam (index built from the
  *      standing subset) is value-identical to the session-kernel path;
  *  (b) the seam plan really reads the index (no in-session pair
  *      kernel);
  *  (c) append + compaction leave probes byte-identical (the X91
  *      discipline);
  *  (d) the self-match guard and batch exclusion behave like the
  *      lexical probe's.
  */
class VectorIndexSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val d = TestSpark.sfDir

  import org.apache.spark.sql.functions._

  test("pair seam: q115/q116/q118/q130 over the full-corpus index's pairs table are value-identical to the session kernel") {
    assert(spark.conf.getOption("spark.graft.vecIndex").isEmpty)
    val qs = Seq("q115_semantic_contamination", "q116_dedup_tier_agreement",
      "q118_incremental_semantic",
      // r15: the vector-index datasheet — under the seam it must be
      // pure index reads (vectors for occupancy, pairs for the
      // threshold tier; no quantize, no dot products, no embeddings)
      "q130_vector_index_stats")
    val session = qs.map(q =>
      q -> SparkEntry.queries(q)(spark, d).collect().map(_.toString).toSeq)
      .toMap

    val idx = java.nio.file.Files.createTempDirectory("graft-vecidx-")
      .toString + "/idx"
    // r14: the index is the CORPUS artifact (the `fingerprint` command's
    // convention) — built from all embeddings; consumers apply their own
    // split conventions (q118's %10, q115's %50)
    graft.sink.Sink.writeVectorIndex(
      graft.util.Tables.embeddings(spark, d), idx)

    // file sources from the ANALYZED plan: `inputFiles` and the executed
    // plan both see the cache-substituted InMemoryRelation (the seam
    // frame is a persisted shared index), which has no file sources —
    // the pre-substitution analyzed plan still shows the real reads
    def reads(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.queryExecution.analyzed.collect {
        case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          l.relation match {
            case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              h.location.rootPaths.map(_.toString)
            case _ => Seq.empty[String]
          }
      }.flatten
    spark.conf.set("spark.graft.vecIndex", idx)
    try qs.foreach { q =>
      val df = SparkEntry.queries(q)(spark, d)
      assert(reads(df).exists(_.contains("vecidx")),
        s"$q seam plan must scan the vector index: ${reads(df)}")
      // the seam must not sneak the pair KERNEL back in: no dot-product
      // expression anywhere in the pre-substitution plan (pairs are
      // pre-computed in the index)
      assert(!df.queryExecution.analyzed.toString.contains("graft_dot_long"),
        s"$q seam plan recomputes dot products")
      // q115 is a pure filter over the pair cache, q130 a pure index
      // aggregation — under the seam neither may touch the embeddings
      // table at all
      if (q == "q115_semantic_contamination" || q == "q130_vector_index_stats")
        assert(!reads(df).exists(_.contains("embeddings")),
          s"$q under the seam must not read the embeddings table")
      assert(df.collect().map(_.toString).toSeq == session(q), q)
    } finally spark.conf.unset("spark.graft.vecIndex")
    // the seam is scoped: unsetting restores the kernel path
    assert(SparkEntry.queries("q118_incremental_semantic")(spark, d)
      .collect().map(_.toString).toSeq
      == session("q118_incremental_semantic"))
  }

  test("pair seam: an APPEND-maintained index gives identical consumer results (superset-closed retention)") {
    assert(spark.conf.getOption("spark.graft.vecIndex").isEmpty)
    val qs = Seq("q115_semantic_contamination", "q116_dedup_tier_agreement",
      "q118_incremental_semantic",
      // r15: the datasheet's threshold metrics are superset-closed by
      // construction — this is the test that keeps the raw retained-row
      // count OUT of the metric set (it is not contract-stable)
      "q130_vector_index_stats")
    val session = qs.map(q =>
      q -> SparkEntry.queries(q)(spark, d).collect().map(_.toString).toSeq)
      .toMap
    // build from one subset, append the rest in two batches, compact —
    // the maintained-artifact lifecycle; per-build retention ranks make
    // the pairs table a SUPERSET of the full build's, and every
    // consumer must be blind to the difference
    val emb = graft.util.Tables.embeddings(spark, d)
    val idx = java.nio.file.Files.createTempDirectory("graft-vecidx-app-")
      .toString + "/idx"
    graft.sink.Sink.writeVectorIndex(emb.filter(col("vec_id") % 3 === 0), idx)
    graft.sink.Sink.appendVectorIndex(
      emb.filter(col("vec_id") % 3 === 1), idx, "b1")
    graft.sink.Sink.appendVectorIndex(
      emb.filter(col("vec_id") % 3 === 2), idx, "b2")

    def check(tag: String): Unit = {
      spark.conf.set("spark.graft.vecIndex", idx)
      try qs.foreach { q =>
        assert(SparkEntry.queries(q)(spark, d)
          .collect().map(_.toString).toSeq == session(q), s"$q $tag")
      } finally spark.conf.unset("spark.graft.vecIndex")
    }
    check("appended")
    graft.sink.Sink.compactVectorIndex(spark, idx)
    // drop the seam's cached pair frame so the compacted check really
    // re-reads the swapped files instead of serving cached blocks
    spark.sqlContext.clearCache()
    val dirs = new java.io.File(s"$idx/pairs").listFiles.map(_.getName)
    assert(dirs.count(_.startsWith("batch=")) == 1 && dirs.contains("batch=base"))
    check("compacted")
  }

  test("takedown tombstones (X116): vector probes and pair reads serve the post-delete truth; delta and fold are clean") {
    assert(spark.conf.getOption("spark.graft.vecIndex").isEmpty)
    val emb = graft.util.Tables.embeddings(spark, d)
    val alive = emb.filter(col("vec_id") % 7 =!= 0)
    val delIds = emb.filter(col("vec_id") % 7 === 0).select("vec_id")
    val delSet = delIds.collect().map(_.getLong(0)).toSet
    assert(delSet.nonEmpty)
    val idx = java.nio.file.Files.createTempDirectory("graft-vecdel-")
      .toString + "/idx"
    graft.sink.Sink.writeVectorIndex(emb, idx)
    intercept[RuntimeException](graft.sink.Sink.deleteVectors(
      delIds, idx + "-nope", "t0"))
    graft.sink.Sink.deleteVectors(delIds, idx, "t0")

    // pair reads under the seam: at the threshold tier (the retention
    // contract's consumer surface) the tombstoned full-corpus index must
    // equal the session kernel over the FILTERED embeddings — the
    // tombstoned region is a subset of the filtered build's retained
    // region (dropping vectors only improves surviving pairs' in-block
    // ranks) and both carry every threshold pair with live endpoints
    def consumer(df: org.apache.spark.sql.DataFrame): Seq[String] = df
      .filter(col("cos") >= 0.35) // CellPairRetainCos (private[queries])
      .select("ida", "idb", "cos").orderBy("ida", "idb")
      .collect().map(_.toString).toSeq
    val want = consumer(graft.queries.TrainingOps.cellPairsOf(spark,
      graft.queries.TrainingOps.vectorTable(alive)))
    spark.conf.set("spark.graft.vecIndex", idx)
    val got =
      try consumer(graft.queries.TrainingOps.cellPairCos(spark, d))
      finally spark.conf.unset("spark.graft.vecIndex")
    assert(got == want,
      "tombstoned pair region must read like the filtered session kernel")

    // probe identity with a filtered rebuild — including re-submitted
    // taken-down vectors, which must now read FRESH (the index no longer
    // remembers them)
    val idxF = java.nio.file.Files.createTempDirectory("graft-vecdel-f-")
      .toString + "/idx"
    graft.sink.Sink.writeVectorIndex(alive, idxF)
    val batch = emb.filter(col("vec_id") % 10 === 0)
    def pv(p: String): Seq[String] =
      graft.sink.Sink.probeVectorIndex(batch, p).orderBy("vec_id")
        .collect().map(_.toString).toSeq
    assert(pv(idx) == pv(idxF),
      "tombstoned index must probe exactly like the filtered rebuild")
    graft.sink.Sink.deleteVectors(delIds, idx, "t0") // replay
    assert(pv(idx) == pv(idxF), "tombstone replay changed the served truth")

    // an append while tombstones stand: the pair DELTA is computed
    // against the live standing side only — the new partition must not
    // mint pairs to deleted endpoints (compaction would otherwise carry
    // rows no read path can serve)
    val fresh = alive.limit(40)
      .withColumn("vec_id", col("vec_id") + lit(1000000L))
    graft.sink.Sink.appendVectorIndex(fresh, idx, "b9")
    val deltaEnds = spark.read.parquet(s"$idx/pairs/batch=b9")
      .select(explode(array(col("ida"), col("idb"))).as("v"))
      .collect().map(_.getLong(0)).toSet
    assert(deltaEnds.intersect(delSet).isEmpty,
      "append delta minted pairs to tombstoned vectors")

    // compaction folds physically: no tombstoned vector or pair
    // endpoint survives, the tombstone table is gone, and no probe or
    // pair read can ever surface a deleted id again
    graft.sink.Sink.compactVectorIndex(spark, idx)
    spark.sqlContext.clearCache()
    val hconf = spark.sessionState.newHadoopConf()
    val delPath = new org.apache.hadoop.fs.Path(s"$idx/deleted")
    assert(!delPath.getFileSystem(hconf).exists(delPath),
      "compaction must clear the folded tombstones")
    assert(spark.read.parquet(s"$idx/vectors")
      .filter(col("vec_id").isin(delSet.toSeq: _*)).count() == 0,
      "vectors table still holds tombstoned rows after compaction")
    assert(spark.read.parquet(s"$idx/pairs")
      .filter(col("ida").isin(delSet.toSeq: _*)
        || col("idb").isin(delSet.toSeq: _*)).count() == 0,
      "pairs table still references tombstoned vectors after compaction")
  }

  test("vectorIndexStats: artifact metrics match a driver recomputation over the index files") {
    val idx = java.nio.file.Files.createTempDirectory("graft-vecstats-")
      .toString + "/idx"
    graft.sink.Sink.writeVectorIndex(
      graft.util.Tables.embeddings(spark, d), idx)
    val rows = spark.read.parquet(s"$idx/pairs")
      .select("cell", "cos").collect()
      .map(r => (r.getInt(0), r.getDouble(1))).toSeq
    assert(rows.nonEmpty)
    def pct7(vs: Seq[Long], p: Double): Double = {
      val s0 = vs.sorted
      val h = (s0.length - 1) * p
      val l = math.floor(h).toInt
      if (l + 1 >= s0.length) s0.last.toDouble
      else s0(l) + (h - l) * (s0(l + 1) - s0(l))
    }
    val perCell = rows.groupBy(_._1).view.mapValues(_.size.toLong).values.toSeq
    val sub = rows.count(_._2 < 0.35).toLong
    val expected = Map(
      "retained_cell_max" -> perCell.max.toDouble,
      "retained_cell_p99" -> pct7(perCell, 0.99),
      "retained_rows" -> rows.size.toDouble,
      "subthreshold_rows" -> sub.toDouble,
      "topk_saturation" -> sub.toDouble / rows.size)
    val got = graft.sink.Sink.vectorIndexStats(spark, idx)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got.keySet == expected.keySet)
    for ((k, v) <- expected)
      assert(math.abs(got(k) - v) < 1e-9, s"$k: got ${got(k)} want $v")
    // the metric names the report exists for: at least part of the
    // region is top-K-only at this SF, or the saturation row is vacuous
    assert(got("retained_rows") > 0)
  }

  test("append grows the probe's reach; compaction is probe-identical; replay exclusion and self-guard hold") {
    import spark.implicits._
    val idx = java.nio.file.Files.createTempDirectory("graft-vecidx2-")
      .toString + "/idx"
    def emb(rows: (Long, Seq[Float], Int)*) =
      rows.toDF("vec_id", "embedding", "label")
    // standing: two cell-0 vectors, one cell-1 vector
    graft.sink.Sink.writeVectorIndex(
      emb((1L, Seq(1f, 0f, 0f, 0f), 0), (2L, Seq(1f, 1f, 0f, 0f), 0),
        (3L, Seq(0f, 0f, 1f, 1f), 1)), idx)

    // batch: near of 1 (cos ≈ .98 beats .83 vs 2), orthogonal (fresh),
    // and a cell-1 near of 3
    val batch = emb((10L, Seq(1f, 0.2f, 0f, 0f), 0),
      (11L, Seq(0f, 0f, 1f, 0f), 0), (12L, Seq(0f, 0f, 1f, 1f), 1))
    def verdicts(ex: Option[String] = None) =
      graft.sink.Sink.probeVectorIndex(batch, idx, 0.35, ex)
        .collect().map(r => r.getLong(0) ->
          (r.getString(1), Option(r.get(2)).map(_.asInstanceOf[Long]))).toMap
    val v1 = verdicts()
    assert(v1(10L) == ("near", Some(1L)))
    assert(v1(11L) == ("fresh", None))
    assert(v1(12L) == ("near", Some(3L)))

    // admit the fresh vector under a batch tag: a LATER batch with the
    // same vector now reads near — the index grew mid-flow
    graft.sink.Sink.appendVectorIndex(
      emb((11L, Seq(0f, 0f, 1f, 0f), 0)), idx, "t1")
    val after = graft.sink.Sink.probeVectorIndex(
      emb((20L, Seq(0f, 0f, 1f, 0f), 0)), idx, 0.35)
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), Option(r.get(2)).map(_.asInstanceOf[Long]))).toMap
    assert(after(20L) == ("near", Some(11L)))

    // replay exclusion: probing the SAME batch excluding its own tag
    // sees the index as the first attempt did (11 stays fresh)
    assert(verdicts(Some("t1"))(11L) == ("fresh", None))
    // without exclusion the readmitted vector meets its OWN index row —
    // the self-match guard must keep it 'fresh', not near-of-itself
    val v2 = graft.sink.Sink.probeVectorIndex(
      emb((11L, Seq(0f, 0f, 1f, 0f), 0)), idx, 0.35)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(v2(11L) == "fresh", "self-match guard")

    // compaction: fold t1 into base; probes byte-identical
    val before = graft.sink.Sink.probeVectorIndex(batch, idx, 0.35)
      .collect().map(_.toString).sorted.toSeq
    graft.sink.Sink.compactVectorIndex(spark, idx)
    val dirs = new java.io.File(s"$idx/vectors").listFiles.map(_.getName)
    assert(dirs.count(_.startsWith("batch=")) == 1 && dirs.contains("batch=base"))
    val afterC = graft.sink.Sink.probeVectorIndex(batch, idx, 0.35)
      .collect().map(_.toString).sorted.toSeq
    assert(afterC == before)
  }

  test("probe prunes the standing scan to the batch's own cells (static partition filter)") {
    import spark.implicits._
    val idx = java.nio.file.Files.createTempDirectory("graft-vecidx3-")
      .toString + "/idx"
    graft.sink.Sink.writeVectorIndex(
      Seq((1L, Seq(1f, 0f), 0), (2L, Seq(0f, 1f), 1), (3L, Seq(1f, 1f), 2))
        .toDF("vec_id", "embedding", "label"), idx)
    // the batch touches ONE cell; the standing-side parquet scan must
    // carry a partition filter on label — at scale this is the
    // difference between reading the touched cells and the corpus
    val df = graft.sink.Sink.probeVectorIndex(
      Seq((10L, Seq(1f, 0.1f), 0)).toDF("vec_id", "embedding", "label"), idx)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      """PartitionFilters: \[[^\]]*label""".r.findFirstIn(plan).isDefined,
      plan)
    val out = df.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(10L) == "near")
  }
}
