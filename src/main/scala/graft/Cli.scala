package graft

import org.apache.spark.sql.SparkSession

import graft.contracts.{Derive, Export, Ingest}
import graft.sink.Sink

/** CLI mirroring the reference's command surface (`main.rs:30-51,353-358`):
  *
  *   pre-process      <contractsRoot> <dbDir>   — S1–S4 ingest → contract table
  *   index-functions  <dbDir>                   — U2/U3 derive → function table
  *   export-source    <dbDir> <contractId> <out>— S11 export one contract
  *
  * `<dbDir>` holds the two parquet tables (`contract/`, `function/`) —
  * the engine's analog of the reference's DuckDB file; both commands use
  * the conflict-ignore upsert sink (S9/S10), so re-running is idempotent
  * exactly like the reference's `ON CONFLICT DO NOTHING`.
  * (`download-solc` has no analog: environment provisioning, out of
  * engine scope — SURVEY §2.1 S13.)
  */
object Cli {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")}]")
      .config("spark.sql.shuffle.partitions", sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // run returns an exit code rather than calling sys.exit, so the
    // session always stops cleanly before the JVM exits
    val code = try run(spark, args.toList) finally spark.stop()
    if (code != 0) sys.exit(code)
  }

  /** Finish any fold an upsert left half done in either table, so a
    * reader sees every row once (see [[Sink.settle]]). */
  private def settle(spark: SparkSession, dbDir: String): Unit =
    Seq("contract", "function").foreach(t => Sink.settle(spark, s"$dbDir/$t"))

  /** The two tables as stored, empty if never written (see [[Sink.readTable]]). */
  private def contracts(spark: SparkSession, dbDir: String) =
    Sink.readTable(spark, s"$dbDir/contract", graft.model.Schemas.contractSchema)
  private def functions(spark: SparkSession, dbDir: String) =
    Sink.readTable(spark, s"$dbDir/function", graft.model.Schemas.functionSchema)

  /** `path (N files, K KB)`: the table's data files after a call. */
  private def table(spark: SparkSession, path: String): String = {
    val (files, bytes) = Sink.tableFiles(spark, path)
    s"$path ($files files, ${(bytes + 1023) / 1024} KB)"
  }

  def run(spark: SparkSession, args: List[String]): Int = args match {
    case "pre-process" :: root :: dbDir :: Nil =>
      val n = Sink.upsertAppend(Ingest.contracts(spark, root), s"$dbDir/contract", "id")
      println(s"[graft] pre-process: $n new contract rows -> ${table(spark, s"$dbDir/contract")}")
      0

    case "index-functions" :: dbDir :: Nil =>
      settle(spark, dbDir)
      val n = Sink.upsertAppend(Derive.functions(contracts(spark, dbDir)).toDF(),
        s"$dbDir/function", "id")
      println(s"[graft] index-functions: $n new function rows -> ${table(spark, s"$dbDir/function")}")
      0

    case "export-source" :: dbDir :: id :: out :: Nil =>
      settle(spark, dbDir)
      // point lookup straight off the contract table (S6), then S11 export
      val written = Export.exportFrom(contracts(spark, dbDir), id, out)
      if (written.isEmpty) {
        // the reference fails loudly here ("Contract not found", main.rs:162-165)
        System.err.println(s"[graft] export-source: contract not found: $id")
        1
      } else {
        println(s"[graft] export-source: ${written.size} files -> $out")
        0
      }

    case "validate" :: dbDir :: Nil =>
      settle(spark, dbDir)
      // S12/P2/J1 constraint checks over the built tables
      val v = graft.model.Schemas.validate(contracts(spark, dbDir), functions(spark, dbDir))
      v.toSeq.sortBy(_._1).foreach { case (check, n) =>
        println(s"[graft] validate: $check violations=$n")
      }
      if (v.values.exists(_ > 0)) 1 else 0

    case "release" :: sfDir :: outDir :: rest
        if rest.size <= 1
          && rest.headOption.forall(a => scala.util.Try(a.toInt).toOption.exists(_ > 0)) =>
      // the q108 corpus-release composite, materialized: per-split shard
      // directories (q87's deterministic md5 layout inside each split)
      // plus the membership-pinning manifest — the training-data analog
      // of pre-process+index-functions as ONE idempotent job. A
      // non-numeric/non-positive shard count falls through to the usage
      // case (exit 2), like every other malformed invocation.
      import org.apache.spark.sql.functions._
      val nShards = rest.headOption.map(_.toInt).getOrElse(8)
      val rel = graft.queries.AnalyticsOps.releaseCorpus(spark, sfDir).cache()
      val layout = rel
        .withColumn("k", graft.functions.Hashing.md5Long(
          concat(lit("shard:"), col("doc_id").cast("string"))))
        .withColumn("shard", pmod(col("k"), lit(nShards.toLong)))
        .withColumn("pos", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("split", "shard")
            .orderBy(col("k").asc, col("doc_id").asc)).cast("long"))
      for (sp <- Seq("train", "val", "test"))
        Sink.writeShards(layout.filter(col("split") === sp)
          .select("doc_id", "source", "lang", "n_tok", "h", "shard", "pos"),
          s"$outDir/$sp", nShards)
      val manifest = rel.groupBy("split", "lang")
        .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"))
        .orderBy("split", "lang")
      manifest.coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/manifest")
      val rows = manifest.collect()
      rel.unpersist()
      rows.foreach(r => println(s"[graft] release: ${r.getString(0)}/${
        r.getString(1)} docs=${r.getLong(2)} tokens=${r.getLong(3)}"))
      println(s"[graft] release: ${rows.map(_.getLong(2)).sum} docs -> " +
        s"$outDir/{train,val,test} ($nShards shards each) + manifest")
      0

    case "fingerprint" :: sfDir :: idxDir :: Nil =>
      // X76/X91: (re)build the standing corpus's persisted fingerprint
      // index — the artifact `audit` below probes; the sink can maintain
      // it incrementally (appendFingerprints + compactFingerprints)
      // between rebuilds
      import org.apache.spark.sql.functions.col
      Sink.writeFingerprints(
        graft.util.Tables.documents(spark, sfDir)
          .select(col("doc_id"), col("text")), idxDir)
      println(s"[graft] fingerprint: index -> $idxDir")
      0

    case "vecindex" :: sfDir :: idxDir :: Nil =>
      // X103: (re)build the corpus's persisted VECTOR index — the
      // semantic tier's standing state: the cellPairCos seam
      // (`spark.graft.vecIndex`) rides its pairs table from
      // q115/q116/q118 (and every other pair consumer); the sink can
      // maintain it (appendVectorIndex / compactVectorIndex) between
      // rebuilds. Built from the FULL
      // corpus (r14 — the `fingerprint` command's convention: the
      // index IS the corpus artifact; split conventions like q118's
      // %10 batch are applied by the consumers, not baked into the
      // index).
      Sink.writeVectorIndex(
        graft.util.Tables.embeddings(spark, sfDir), idxDir)
      println(s"[graft] vecindex: index -> $idxDir")
      0

    case "vecstats" :: idxDir :: Nil =>
      // r15: the ARTIFACT-level vector-index report — the metrics q130
      // deliberately excludes because they describe this index
      // generation's actual pairs region (not superset-closed, so not
      // corpus-oracle rows): retained volume, per-cell skew, top-K
      // saturation. Pure index reads; no corpus dir needed.
      Sink.vectorIndexStats(spark, idxDir).collect().foreach(r =>
        println(f"[graft] vecstats: ${r.getString(0)}%-20s ${r.getDouble(1)}%.4f"))
      0

    case "takedown" :: idxDir :: idsPath :: tag :: rest
        if rest.isEmpty || rest == List("vec") =>
      // X116: land a takedown batch against a standing index — the ids
      // (a parquet of doc_id rows for the fingerprint index; vec_id
      // rows with the trailing `vec` flag) stop being served by every
      // probe, seam read and audit IMMEDIATELY (tombstone anti-joins),
      // and are folded physically at the next compaction. Replays of
      // the same batch tag are idempotent (scoped Overwrite, like every
      // other batch write). Run q133's takedown-impact report BEFORE
      // landing one — that page prices what the dedup tiers lose.
      val ids = spark.read.parquet(idsPath)
      if (rest == List("vec")) Sink.deleteVectors(ids, idxDir, tag)
      else Sink.deleteFingerprints(ids, idxDir, tag)
      val n = spark.read.parquet(s"$idxDir/deleted/batch=$tag").count()
      println(s"[graft] takedown: $n ids -> $idxDir/deleted/batch=$tag")
      0

    case "shardtakedown" :: artifactDir :: idsPath :: Nil =>
      // X118 (r17): remove docs from a RELEASED writeShards artifact —
      // the one takedown surface `takedown` (index tombstones) does not
      // cover. Rewrites ONLY the affected shard=K/ directories (order
      // contract preserved, unaffected files byte-identical); replay is
      // the crash recovery and is idempotent. Run `impact` (index side)
      // and q135's plan page BEFORE landing one; re-publish the q89
      // manifest AFTER (its per-shard digest moves detectably).
      Sink.takedownShards(spark.read.parquet(idsPath), artifactDir)
        .collect().foreach(r =>
          println(f"[graft] shardtakedown: ${r.getString(0)}%-17s ${r.getLong(1)}%d"))
      0

    case "takedownall" :: idsPath :: tag :: rest
        if rest.nonEmpty && rest.forall(a => a.startsWith("fp=") ||
          a.startsWith("vec=") || a.startsWith("shards=")) =>
      // r18: the ONE compliance front door — index tombstones and shard
      // rewrites land from one id frame in one command, closing the
      // window where partial application of the three verbs left an id
      // gone from probes but still served by a release. Idempotent
      // under replay of any prefix (each sub-step is); a failure
      // partway is recovered by REPLAYING THE SAME COMMAND. Price it
      // first: `impact` with the same targets reads every tier on one
      // page.
      val fp = rest.find(_.startsWith("fp=")).map(_.stripPrefix("fp="))
      val vec = rest.find(_.startsWith("vec=")).map(_.stripPrefix("vec="))
      val arts = rest.filter(_.startsWith("shards="))
        .map(_.stripPrefix("shards="))
      Sink.takedownAll(spark.read.parquet(idsPath), tag, fp, vec, arts)
        .collect().foreach(r => println(
          f"[graft] takedownall: ${r.getString(0)}%-19s ${r.getLong(1)}%d"))
      0

    case "manifestcheck" :: artifactDir :: Nil =>
      // r18: the sidecar INTEGRITY audit — recompute the q89 frame from
      // the artifact rows and diff it against the persisted `_manifest`,
      // shard by shard. A release whose sidecar has drifted (manual
      // edits, bitrot, a partial copy, an out-of-band rewrite) fails
      // loudly HERE, before any consumer trusts the sidecar's counts or
      // digests. Cost: one column-pruned artifact scan (the manifest
      // inputs only — the PlanSpec pin) + a numShards-row read.
      val mPath = new org.apache.hadoop.fs.Path(s"$artifactDir/_manifest")
      if (!mPath.getFileSystem(
          spark.sessionState.newHadoopConf()).exists(mPath)) {
        System.err.println(s"[graft] manifestcheck: $artifactDir has no " +
          "_manifest sidecar (legacy artifact) — rebuild with writeShards")
        1
      } else {
        import org.apache.spark.sql.functions.col
        def rows(df: org.apache.spark.sql.DataFrame) =
          df.select(col("shard").cast("long"), col("n_docs").cast("long"),
            col("n_tokens").cast("long"), col("sum_chars").cast("long"),
            col("min_doc").cast("long"), col("max_doc").cast("long"),
            col("content_mh"))
            .collect().map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
        val want = rows(Sink.shardManifest(spark.read.parquet(artifactDir)))
        val got = rows(spark.read.parquet(s"$artifactDir/_manifest"))
        val bad = (want.keySet ++ got.keySet).toSeq.sorted.flatMap { s =>
          (want.get(s), got.get(s)) match {
            case (Some(a), Some(b)) if a == b => None
            case (Some(_), None) => Some(s -> "missing from sidecar")
            case (None, Some(_)) => Some(s -> "stale sidecar row (shard absent from artifact)")
            case _ => Some(s -> "value mismatch vs recomputed manifest")
          }
        }
        if (bad.isEmpty) {
          println(s"[graft] manifestcheck: OK (${want.size} shards)")
          0
        } else {
          bad.foreach { case (s, why) =>
            System.err.println(s"[graft] manifestcheck: shard=$s $why") }
          1
        }
      }

    case "impact" :: idxDir :: idsPath :: rest
        if rest.forall(a => a.startsWith("vec=") || a.startsWith("shards="))
          || (rest.size == 1 && !rest.head.contains("=")) =>
      // X116 (r16): price a PROSPECTIVE takedown batch against the
      // standing artifacts BEFORE `takedown`/`takedownall` lands it —
      // the production twin of the oracle-green q133 (which prices the
      // %97 stand-in): a REAL id list against a REAL fingerprint index
      // (and optionally a vector index), no corpus access.
      // Already-tombstoned rows are excluded, so pricing after a
      // partial landing never re-bills. r18: `shards=<artifactDir>`
      // args add the released-artifact tier (read-only probes of what
      // takedownShards would rewrite) — all tiers priced on ONE page.
      val vec = rest.find(_.startsWith("vec=")).map(_.stripPrefix("vec="))
        .orElse(rest.headOption.filterNot(_.contains("=")))
      val arts = rest.filter(_.startsWith("shards="))
        .map(_.stripPrefix("shards="))
      val ids = spark.read.parquet(idsPath)
      val idxMetrics = Sink.takedownImpact(ids, idxDir, vec).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toSeq
      val shardMetrics =
        if (arts.isEmpty) Seq.empty else {
          val maps = arts.map(a => Sink.shardTakedownImpact(ids, a)
            .collect().map(r => r.getString(0) -> r.getLong(1)).toMap)
          Seq("shard_artifacts" -> arts.size.toLong,
            "shards_total" -> maps.map(_("shards_total")).sum,
            "shards_affected" -> maps.map(_("shards_affected")).sum,
            "shard_rows_affected" -> maps.map(_("rows_affected")).sum)
        }
      (idxMetrics ++ shardMetrics).foreach { case (m, v) =>
        println(f"[graft] impact: $m%-19s $v%d") }
      0

    case "audit" :: sfDir :: idxDir :: rest if rest.size == 1 || rest.size == 2 =>
      // X97: the standing-corpus audit suite, INDEX-RIDING — the
      // contamination/leakage/memorization reports load the persisted
      // index's pre-hashed postings instead of re-tokenizing the corpus
      // (audits run offline against a quiescent index; see the
      // shinglePostings healthy-index contract). One parquet report per
      // audit under <outDir>, row counts on stdout. With the optional
      // <vecIndexDir> (r14), the SEMANTIC tier rides the vector index's
      // persisted pairs table the same way — q115/q116/q117's embedding
      // kernel becomes a parquet read (the cellPairCos seam).
      val outDir = rest.head
      val vecIdx = rest.drop(1).headOption
      val audits = Seq("q107_split_leakage", "q109_memorization_ngrams",
        "q110_neardup_split_leakage", "q111_contamination_pairs",
        "q96_source_overlap",
        // r13b: the semantic tier (rides the vector index's pairs when
        // <vecIndexDir> is given, the embedding kernel otherwise) and
        // the decision table (its lexical drop flag rides the seamed
        // contaminationHits; the mask tier re-tokenizes by design —
        // positional triples are not in the index)
        "q115_semantic_contamination", "q116_dedup_tier_agreement",
        "q117_decontam_decision",
        // r13c: batch novelty is postings-only — the purest index-riding
        // audit (both its sides come off the persisted postings) — and
        // the index datasheet audits the index itself (no corpus reads
        // at all under the seam; r14: off the maintained stats tier)
        "q121_batch_novelty", "q124_index_stats",
        // r14: media near-dup off the index's persisted fingerprints;
        // r15: the banding calibration row and the vector-index
        // datasheet (pure index reads when vecIdx is supplied)
        "q125_media_neardup", "q129_media_calibration",
        "q130_vector_index_stats", "q131_media_index_stats",
        // r15: the sketch overlap (seamed postings feed the signature
        // aggregate) and the takedown impact page (all three pair
        // kernels seam-aware — run it BEFORE `takedown` lands a batch)
        "q132_source_overlap_sketch", "q133_takedown_report")
      // RESTORE any pre-existing seam value, don't blindly unset: a
      // session that pinned its own index must get it back after the
      // command (unsetting would silently flip later queries in the
      // same session to the session-kernel path mid-session)
      val prior = spark.conf.getOption("spark.graft.fpIndex")
      val priorVec = spark.conf.getOption("spark.graft.vecIndex")
      spark.conf.set("spark.graft.fpIndex", idxDir)
      vecIdx.foreach(spark.conf.set("spark.graft.vecIndex", _))
      def restore(key: String, v: Option[String]): Unit = v match {
        case Some(x) => spark.conf.set(key, x)
        case None => spark.conf.unset(key)
      }
      try {
        audits.foreach { q =>
          val df = SparkEntry.queries(q)(spark, sfDir)
          df.write.mode("overwrite").parquet(s"$outDir/$q")
          val n = spark.read.parquet(s"$outDir/$q").count()
          println(s"[graft] audit: $q rows=$n -> $outDir/$q")
        }
        // r18: the PRODUCTION overlap page routes through the kmvPairs
        // dispatch front door (the measured |S| > 64 crossover governs a
        // real path now, not just a stage-isolation A/B) — q132/q134
        // above stay stage-PINNED as the two stages' oracle anchors.
        // The dispatch choice and its statistics land IN the audit
        // output as their own one-row page, not just on stderr.
        val disp = graft.queries.AuditOps.kmvPairsDispatch(
          graft.queries.AuditOps.kmvSigs(spark, sfDir))
        disp.pairs.orderBy("source_a", "source_b")
          .write.mode("overwrite").parquet(s"$outDir/overlap_kmv")
        import spark.implicits._
        Seq((disp.stage, disp.nSources, disp.nlPairs, disp.bandedRows))
          .toDF("stage", "n_sources", "nl_pairs", "banded_rows")
          .write.mode("overwrite").parquet(s"$outDir/overlap_kmv_dispatch")
        val nOv = spark.read.parquet(s"$outDir/overlap_kmv").count()
        println(s"[graft] audit: overlap_kmv rows=$nOv " +
          s"stage=${disp.stage} (|S|=${disp.nSources}) -> $outDir/overlap_kmv")
      } finally {
        restore("spark.graft.fpIndex", prior)
        restore("spark.graft.vecIndex", priorVec)
      }
      0

    case other =>
      System.err.println(
        s"""usage: graft.Cli <command>
           |  pre-process <contractsRoot> <dbDir>
           |  index-functions <dbDir>
           |  export-source <dbDir> <contractId> <outDir>
           |  validate <dbDir>
           |  release <sfDir> <outDir> [numShards]
           |  fingerprint <sfDir> <indexDir>
           |  vecindex <sfDir> <indexDir>
           |  vecstats <indexDir>
           |  takedown <indexDir> <idsParquet> <batchTag> [vec]
           |  shardtakedown <shardArtifactDir> <idsParquet>
           |  takedownall <idsParquet> <batchTag> [fp=<idxDir>] [vec=<idxDir>] [shards=<artifactDir>]...
           |  manifestcheck <shardArtifactDir>
           |  impact <indexDir> <idsParquet> [vecIndexDir|vec=<dir>] [shards=<artifactDir>]...
           |  audit <sfDir> <indexDir> <outDir> [vecIndexDir]
           |got: ${other.mkString(" ")}""".stripMargin)
      2
  }
}
