package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{Hashing, Keccak}
import graft.util.Tables._

/** Large-scale training-data pipeline operators over the `documents`,
  * `embeddings` and `events` tables: deduplication (exact, MinHash+LSH,
  * SimHash, n-gram Jaccard), similarity search (brute-force cosine top-k,
  * IVF- and LSH-bucketed variants), text analysis (language ID, quality
  * scoring, token counting, fingerprinting) and batch window analytics.
  *
  * Scale design notes (the point of this module — see each query):
  *  - every per-document stage is embarrassingly parallel (map-side);
  *  - all pairwise stages are bounded by a bucketing key (LSH band, IVF
  *    cell, shared shingle) so no O(n²) shuffle materializes at 100 TB;
  *  - all hashes derive from md5 (same on both engines) so every operator
  *    is DuckDB-oracle-checkable; the only number-typed outputs are exact
  *    integers, integer-ratio doubles, or decSum decimals — bit-stable
  *    across engines.
  */
object TrainingOps {

  // ---- shared text building blocks ---------------------------------------

  /** whitespace tokenization, identical to the oracle's
    * `regexp_split_to_array(trim(text), '[ \t\n\x0B\f\r]+')` — the shared
    * canonical definition (graft.functions.Text, which documents why the
    * class is explicit: Java and RE2 `\s` differ on VT), also used by the
    * streaming funnel.
    */
  private def words(c: Column): Column = graft.functions.Text.words(c)

  /** (doc_id, text) fanned out of the single-task small-file scan — for
    * kernels whose PER-ROW work dominates the round-robin exchange of
    * the texts (the shingle+md5 index 2.5×, simhash, the repetition hash
    * maps, q77's six regex passes; q47's JSON parse is the same call on
    * events). Tables.fanOut is the identity on an already-parallel scan,
    * so at cluster scale this costs nothing.
    *
    * For LIGHT kernels use [[docTextLean]]: measured at sf0.1, the
    * exchange LOSES for one-md5/tokenize-and-count shapes — q70-shape
    * 0.56 → 0.31 s, q74 0.24 → 0.15, q78 0.37 → 0.18, q69 0.29 → 0.13
    * (in-JVM A/B) — because shuffling every text costs more than
    * the serial scan task saves. At cluster scale the two are identical
    * (parallel scan ⇒ fanOut is the identity), so the lean form is never
    * a scale regression — the choice only exists at single-row-group
    * bench scale.
    */
  private def docText(s: SparkSession, d: String): DataFrame =
    graft.util.Tables.fanOut(documents(s, d).select(col("doc_id"), col("text")))

  /** (doc_id, text) without the fan-out — light per-row kernels. */
  private def docTextLean(s: SparkSession, d: String): DataFrame =
    documents(s, d).select(col("doc_id"), col("text"))

  /** (doc_id, shingle) exploded distinct-shingle rows, via the native
    * [[graft.plans.ShingleGenerator]] — one tokenize+dedup pass per row
    * planned through GenerateExec. (An equivalent HOF formulation exists
    * in ShingleGeneratorSpec, which proves set-equivalence; as a lesson
    * learned there, a HOF lambda must reference a BOUND column or the
    * split re-runs per element_at — measured 7× slower.)
    */
  private def shingleRows(s: SparkSession, d: String): DataFrame =
    docText(s, d)
      .selectExpr("doc_id", "shingles(text, 3) AS shingle")

  /** Oracle CTE prefix producing the same (doc_id, shingle) rows. */
  private[queries] val shCte: String =
    "toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '[ \\t\\n\\x0B\\f\\r]+') AS ws FROM documents), " +
      "sh AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle " +
      "FROM toks, unnest(range(1, len(ws)-1)) AS t(i) WHERE len(ws) >= 3)"

  /** The SHARED hashed-shingle index — (doc_id, hex, h1, h2) rows, one
    * persisted copy per (session, sfDir) reused by the whole dedup family
    * (q28 signatures, q29 LSH, q31 inverted-index Jaccard, q38 sketches,
    * q51 clustering via lshPairs) — the engine's materialized view over
    * the corpus, built by whichever family query runs first in a
    * session/bench pass and reused by the rest. Cuts the corpus
    * tokenize+hash pass from five to one; at 100 TB that pass IS the
    * dominant cost of the family.
    *
    * Column design: every downstream join/aggregate shuffles the two
    * 8-byte int64 keys h1/h2 instead of full trigram strings — the
    * dominant byte volume of the LSH / Jaccard shuffles (measured ~3× on
    * q29+q31). h1 doubles as the shingle identity in intersection joins;
    * a 60-bit collision would merge the same two shingles in the oracle
    * (same md5-derived hash), so results stay engine-identical. ONE md5
    * per shingle: h1/h2 are slices of the hex (exactly
    * Hashing.md5Long/md5Long2 by construction) and the full hex rides
    * along for the q38 bottom-k sketch — consumers project what they
    * need off the cached columnar copy, so the extra column costs cache
    * bytes, never shuffle bytes.
    */
  private[graft] def shingleIndex(s: SparkSession, d: String): DataFrame =
    graft.util.Caches.sharedIndex(s, s"shingleIndex:$d") {
      // persisted PRE-PARTITIONED on doc_id (the bucketing a real
      // deployment would give the materialized index): the cached
      // InMemoryTableScan keeps this HashPartitioning, so every per-doc
      // aggregation over the index (wide minhash signatures, per-doc
      // sizes) and every doc_id-keyed join side plans WITHOUT its own
      // exchange. The doc_id repartition sits UNDER the shingle
      // generation — it is simultaneously the small-scan fan-out (the
      // docText role) and the index bucketing, so the build pays ONE
      // exchange, not fan-out + repartition (generate/project are
      // narrow and preserve the partitioning).
      documents(s, d).select(col("doc_id"), col("text"))
        .repartition(col("doc_id"))
        .selectExpr("doc_id", "shingles(text, 3) AS shingle")
        .select(col("doc_id"), md5(col("shingle")).as("hex"))
        .select(col("doc_id"), col("hex"),
          conv(substring(col("hex"), 1, 15), 16, 10).cast("long").as("h1"),
          conv(substring(col("hex"), 17, 15), 16, 10).cast("long").as("h2"))
    }

  /** Standing-corpus fingerprint-index seam (r13): a session that names
    * a persisted X76 index ([[graft.sink.Sink.writeFingerprints]]'s
    * layout) via the `spark.graft.fpIndex` session conf (`Cli audit
    * --index` sets it) makes the LSH-family kernels
    * LOAD the index's tables instead of rebuilding the session shingle
    * kernel from text. This is the production posture for "audit a
    * standing corpus": the index is maintained incrementally by the
    * sink (append + compact), so a standalone audit (q110/q111, q95's
    * verdicts, the q65/q101 contamination kernels) pays parquet reads
    * of pre-hashed int64 postings — never a corpus re-tokenize.
    * Interop is by construction: [[fingerprintTables]] builds the index
    * with these kernels' EXACT conventions (same shingles(3) →
    * md5-derived h1, same wide signature → band keys, same simple_hash
    * exact tier), and FpIndexSeamSpec pins result identity against the
    * session-kernel path. The caller owns corpus↔index consistency —
    * naming an index built from a DIFFERENT documents table is the same
    * contract violation as pointing two queries at different corpora.
    * The conf is per session, so a test can scope the seam to one.
    */
  private[graft] def fpIndexDir(s: SparkSession): Option[String] =
    s.conf.getOption("spark.graft.fpIndex").filter(_.nonEmpty)

  /** [[fpIndexDir]] restricted to indexes carrying the r14 STATS tier
    * (dfc/bkc/xc/dsh — [[graft.sink.Sink]]'s pre-aggregated count
    * tables): the q124 datasheet rides the stats when a BASE stats
    * generation exists, and falls back to the raw-table accessors
    * otherwise. The base check matters for mixed generations: a legacy
    * base appended to by the current sink has batch-only stats
    * partitions whose sums MISS the base's contribution — reading them
    * would be silently wrong, so only a base-built stats tier counts
    * (compaction self-heals a legacy index into one).
    */
  private[graft] def fpStatsDir(s: SparkSession): Option[String] =
    fpIndexDir(s).filter { dir =>
      val base = new org.apache.hadoop.fs.Path(s"$dir/dfc/batch=base")
      base.getFileSystem(s.sessionState.newHadoopConf()).exists(base)
    }.filter { dir =>
      // takedown tombstones (X116) invalidate the stats fast path: the
      // pre-aggregated counts include the deleted docs and aggregates
      // cannot be anti-joined — fall back to the raw-table accessors
      // (which ARE tombstone-filtered) until a compaction folds the
      // deletes and re-derives the stats from the filtered rows
      val del = new org.apache.hadoop.fs.Path(s"$dir/deleted")
      val has = del.getFileSystem(s.sessionState.newHadoopConf()).exists(del)
      if (has)
        System.err.println(s"[fpStatsDir] NOTE: $dir has takedown " +
          "tombstones — the stats tier is pre-delete; riding the raw " +
          "tables until compactFingerprints folds the deletes")
      !has
    }

  /** Cache-key suffix isolating seam-path shared indexes from
    * session-kernel ones (a cached kernel copy must never serve the
    * other path's consumers — they are different plans, even though
    * FpIndexSeamSpec proves the values identical).
    */
  private[queries] def fpKey(s: SparkSession): String =
    fpIndexDir(s).fold("")(dir => s"@idx=$dir")

  /** The semantic tier's standing-corpus seam (X103, the X97 analog):
    * the `spark.graft.vecIndex` session conf names a persisted
    * [[graft.sink.Sink.writeVectorIndex]] index (the STANDING corpus's
    * quantized vectors, cell-partitioned); q118's incremental probe
    * rides it instead of rebuilding the in-session pair kernel.
    */
  private[graft] def vecIndexDir(s: SparkSession): Option[String] =
    s.conf.getOption("spark.graft.vecIndex").filter(_.nonEmpty)

  /** (doc_id, h1) hashed-shingle postings — the projection every
    * set-measure kernel joins on. Session kernel by default; with the
    * seam active, the index's `shingles` table (written doc_id-
    * clustered) serves it with zero tokenize/hash work.
    *
    * HEALTHY-INDEX assumption (audit contract): no doc duplicated
    * across batch partitions. A doc transiently present twice (the
    * compaction swap's crash-recovery window, or a concurrent rebuild)
    * would double its intersection counts here — Jaccard > 1, wrong
    * pairs — so offline audits must not run against an index
    * mid-rebuild. This differs deliberately from
    * [[graft.sink.Sink.probeFingerprints]], whose countDistinct
    * hardening exists because STREAMING probes legitimately run
    * concurrently with maintenance; audits are offline by definition
    * and keep the cheaper exact-count aggregates.
    */
  private[graft] def shinglePostings(s: SparkSession, d: String): DataFrame =
    fpIndexDir(s) match {
      case Some(dir) =>
        // every seam read is tombstone-filtered (X116): an index that
        // received takedowns serves the post-delete truth immediately
        graft.sink.Sink.minusTombstones(
          s.read.parquet(s"$dir/shingles").select(col("doc_id"), col("h1")),
          dir, "doc_id")
      case None => shingleIndex(s, d).select(col("doc_id"), col("h1"))
    }

  /** Per-doc shingle counts (doc_id, n) — from the wide-signature frame
    * by default; the index's `bands` table carries the same `n` on each
    * of its 4 band rows (written there for exactly this), so the seam
    * path is a 1/4 dedup of a tiny table, not an aggregation over
    * postings.
    */
  private[queries] def docSizes(s: SparkSession, d: String): DataFrame =
    fpIndexDir(s) match {
      case Some(dir) =>
        graft.sink.Sink.minusTombstones(
          s.read.parquet(s"$dir/bands")
            .select(col("doc_id"), col("n")).dropDuplicates("doc_id"),
          dir, "doc_id")
      case None => minhashSigWide(s, d).select("doc_id", "n")
    }

  /** (doc_id, bk, bandkey) LSH band-bucket keys — the q124 index
    * datasheet's bucket tier. Session kernel from the wide signature by
    * default; the index's `bands` table under the seam (written with
    * these exact keys by [[fingerprintTables]]).
    */
  private[queries] def bandBuckets(s: SparkSession, d: String): DataFrame =
    fpIndexDir(s) match {
      case Some(dir) =>
        graft.sink.Sink.minusTombstones(
          s.read.parquet(s"$dir/bands")
            .select(col("doc_id"), col("bk"), col("bandkey")),
          dir, "doc_id")
      case None =>
        bandKeysOf(minhashSigWide(s, d))
          .select(col("doc_id"), col("bk"), col("bandkey"))
    }

  /** (doc_id, h) whitespace-stripped content hashes — q27/q95/q107's
    * exact tier. The index's `exact` table IS this frame persisted
    * ([[fingerprintTables]]), so the seam makes the exact tier a pure
    * parquet read: with it, q95 standalone touches NO document text at
    * all.
    */
  private[graft] def exactHashes(s: SparkSession, d: String): DataFrame =
    fpIndexDir(s) match {
      case Some(dir) =>
        graft.sink.Sink.minusTombstones(
          s.read.parquet(s"$dir/exact").select(col("doc_id"), col("h")),
          dir, "doc_id")
      case None =>
        docTextLean(s, d)
          .select(col("doc_id"), Hashing.simpleHash(col("text")).as("h"))
    }

  /** [[exactHashes]] as a session kernel (r19 kernel promotion — the r18
    * pattern applied to the exact tier): q27, q124's session a4 and the
    * incrementalVerdicts build each ran the regex-strip + md5 pass over
    * the full corpus text once per bench pass; one cached copy per
    * session serves all three. Narrow frame (doc_id + 32-char hash);
    * key carries the fpIndex seam like every promoted kernel (a
    * seam-path frame must never serve the session path). ONE INDEX
    * GENERATION PER SESSION (r18 ADVICE, documented contract): all sharedIndex kernels keyed on
    * `@idx=dir` assume the index under `dir` does not change for the
    * session's lifetime; [[graft.sink.Sink]] write paths call
    * `Caches.invalidateShared(dir)` so a session that appends/compacts
    * mid-session drops the stale entries rather than serving them.
    */
  private[graft] def exactHashesK(s: SparkSession, d: String): DataFrame =
    graft.util.Caches.sharedIndex(s, s"exactHashes:$d" + fpKey(s))(
      exactHashes(s, d))

  /** (doc_id, fp0, fp1) 120-bit media fingerprints — q125's per-payload
    * perceptual sketch, packed as two longs (r15 width; see
    * [[graft.multimodal.Multimodal.fingerprintOf]]). Session UDF pass by
    * default; the index's `media` table under the seam (written with the
    * ONE shared definition, so the seam is value-identical by
    * construction). Guarded on a BASE media generation of the CURRENT
    * schema — a legacy index without the media tier, or with the r14
    * 60-bit single-long tier, falls back to the session pass (loudly for
    * the schema case) rather than erroring an audit that can compute the
    * answer itself (the fpStatsDir convention).
    */
  private[graft] def mediaFps(s: SparkSession, d: String): DataFrame =
    fpIndexDir(s).filter { dir =>
      val base = new org.apache.hadoop.fs.Path(s"$dir/media/batch=base")
      base.getFileSystem(s.sessionState.newHadoopConf()).exists(base)
    }.filter { dir =>
      // current schema = the two packed longs + n_bytes (r17 — q131's
      // candidate_pairs_sized row reads it);
      // both legacy generations degrade the same loud way
      val cols = s.read.parquet(s"$dir/media").columns
      val current = cols.contains("fp0") && cols.contains("n_bytes")
      if (!current)
        System.err.println(s"[mediaFps] NOTE: $dir/media has a legacy " +
          "schema (" + (if (cols.contains("fp0")) "no n_bytes column"
            else "60-bit single-long fingerprints") +
          ") — falling back to the session fingerprint pass; rebuild " +
          "the index with writeFingerprints")
      current
    } match {
      case Some(dir) =>
        graft.sink.Sink.minusTombstones(
          s.read.parquet(s"$dir/media")
            .select(col("doc_id"), col("n_bytes"), col("fp0"), col("fp1")),
          dir, "doc_id")
      case None =>
        documents(s, d)
          .filter(col("text").isNotNull && length(col("text"))
            >= graft.multimodal.Multimodal.FingerprintMinBytes)
          .select(col("doc_id"),
            length(col("text").cast("binary")).cast("long").as("n_bytes"),
            graft.multimodal.Multimodal
              .fingerprint(col("text").cast("binary")).as("f"))
          .select(col("doc_id"), col("n_bytes"),
            col("f").getField("_1").as("fp0"),
            col("f").getField("_2").as("fp1"))
    }

  /** Oracle CTE mirroring [[shingleIndex]]'s h1/h2 (expects `sh` in scope). */
  private[queries] val shhCte: String =
    s"shh AS (SELECT doc_id, ${oMd5Long("shingle")} AS h1, ${oMd5Long2("shingle")} AS h2 FROM sh)"

  /** DuckDB equivalent of [[Hashing.md5Long]]. */
  private[queries] def oMd5Long(sqlExpr: String): String =
    s"('0x' || substr(md5($sqlExpr), 1, 15))::BIGINT"

  /** THE deterministic 80/10/10 train/val/test assignment (':sp' md5
    * coin). One expression shared by q107's exact-leakage audit, q110's
    * near-dup tier and q108's release split, so the cross-query
    * contract — the release audits to ZERO leakage — cannot drift when
    * a salt, modulus or threshold changes: every assigner moves
    * together or the q108/q110 oracles mismatch.
    */
  private[queries] def splitOf(id: Column): Column = {
    val coin = pmod(Hashing.md5Long(
      concat(id.cast("string"), lit(":sp"))), lit(100L))
    when(coin < 80, "train").when(coin < 90, "val").otherwise("test")
  }

  /** DuckDB twin of [[splitOf]]. */
  private[queries] def oSplitOf(sqlExpr: String): String =
    s"CASE WHEN ${oMd5Long(s"CAST($sqlExpr AS VARCHAR) || ':sp'")} % 100 < 80 THEN 'train' " +
      s"WHEN ${oMd5Long(s"CAST($sqlExpr AS VARCHAR) || ':sp'")} % 100 < 90 THEN 'val' " +
      "ELSE 'test' END"

  /** DuckDB equivalent of [[Hashing.md5Long2]]. */
  private def oMd5Long2(sqlExpr: String): String =
    s"('0x' || substr(md5($sqlExpr), 17, 15))::BIGINT"

  /** DuckDB twin of [[Hashing.multisetDigest]] (as an aggregate over
    * `sqlExpr`'s rows): DuckDB's `sum(BIGINT)` is an exact HUGEINT
    * (int128) sum — the same exact total [[graft.plans.HashSum128]]
    * carries — so the two engines render identical digit strings into
    * the final md5. `||` nulls through like the Spark side's `concat`.
    */
  private[queries] def oMultisetDigest(sqlExpr: String): String =
    s"md5(CAST(sum(${oMd5Long(sqlExpr)}) AS VARCHAR) || ':' || " +
      s"CAST(sum(${oMd5Long2(sqlExpr)}) AS VARCHAR))"

  /** WIDE MinHash signature + per-doc size (doc_id, m0..m7, n):
    * double-hashing family h_i = h1 ⊕ (i·h2) from two 60-bit md5-derived
    * hashes (i·h2 < 2^63, so no overflow; xor is engine-identical on
    * int64). The 8 band minima are 8 aggregation COLUMNS over the hashed
    * shingle rows — one aggregation over S rows instead of exploding S×8
    * rows and re-grouping them (the q30 simhash trick applied to
    * minhash) — and the shingle COUNT (every Jaccard denominator's |A| /
    * |B| side) rides in the same buffer: r6 folded the former separate
    * shingleSizes groupBy in here, so the whole dedup family shares ONE
    * per-doc aggregation pass and ONE cached copy. Callers project what
    * they need; [[minhashSig]] explodes the 8 values map-side where a
    * tall shape is needed.
    */
  /** The wide-signature aggregation over (doc_id, h1, h2) hashed-shingle
    * rows — factored so the sink's persisted fingerprint index
    * ([[fingerprintTables]]) is built with the SAME convention and
    * interoperates with [[lshPairs]] verbatim.
    */
  private[graft] def wideSigOf(hashedShingles: DataFrame): DataFrame =
    hashedShingles
      .groupBy("doc_id")
      .agg((0 until 8).map(b => min(expr(s"h1 ^ ($b * h2)")).as(s"m$b")).head,
        (1 until 8).map(b => min(expr(s"h1 ^ ($b * h2)")).as(s"m$b")) :+
          count(lit(1)).as("n"): _*)

  private[queries] def minhashSigWide(s: SparkSession, d: String): DataFrame =
    graft.util.Caches.sharedIndex(s, s"minhashSigWide:$d") {
      // one row per doc — a tiny derived view of the shingle index,
      // shared by q28 (signatures), q29's band keys, q31's denominators
      // and q51's pairs
      wideSigOf(shingleIndex(s, d))
    }

  /** Pairwise shingle intersections with both side sizes —
    * (ida, idb, inter, na, nb), ida < idb — the shared core of every
    * exact pairwise set measure (q31 Jaccard, q76 containment; the
    * measures differ only in denominator). The shared shingle index is
    * both join sides and only (doc_id, h1) is read off it: the
    * inverted-index self-join shuffles 8-byte hashes, never shingle
    * text; pair volume is bounded by true overlap, never all-pairs.
    */
  /** The quantized-embedding frame + deterministic probe panel shared by
    * the embedding-audit/mining family (q98 recall, q106 hard negatives)
    * — THE definition of both, factored so the recall audit and the
    * mining panel can never drift (the contaminationHits rule). The
    * frame lives at SHARED-index lifetime (the shingleIndex/termFreq
    * pattern): whichever family query runs first in a session/bench pass
    * pays the one scan+quantize, the rest ride the cache.
    *
    * The probe panel is FIXED-SIZE (r13, replacing the r10 md5 % 31
    * coin): the [[ProbePanelSize]] vectors with the smallest
    * (md5(vec_id), vec_id) — deterministic, engine-portable, and
    * corpus-size-independent, which is the production contract (a
    * recall audit runs a pinned probe set; it does not grow with the
    * corpus). This is what makes the exact ground-truth tier
    * panel×corpus = LINEAR in the corpus — under the growing coin panel
    * it was super-linear by definition and had to be excluded from the
    * 100× scale table. Planned as a TakeOrdered (top-K by hash), so the
    * panel costs a map-side rank cut, never a global sort
    * materialization.
    */
  private[graft] val ProbePanelSize = 64

  private[queries] def quantizedPanel(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    val e = graft.util.Caches.sharedIndex(s, s"quantEmb:$d") {
      graft.util.Tables.embeddings(s, d)
        .withColumn("qv", quantize(col("embedding")))
        .select(col("vec_id"), col("label"), col("qv"),
          norm2Q(col("qv")).as("n2"))
    }
    val probes = e
      .orderBy(Hashing.md5Long(col("vec_id").cast("string")).asc,
        col("vec_id").asc)
      .limit(ProbePanelSize)
      .select(col("vec_id").as("qid"), col("label").as("qcell"),
        col("qv").as("query_v"), col("n2").as("qn2"))
    (e, probes)
  }

  /** DuckDB twin of [[quantizedPanel]]'s probe panel (expects `ev` with
    * (vec_id, label) in scope) — ONE definition for the q98/q106
    * oracles, like the Spark side.
    */
  private[queries] def oProbePanel: String =
    s"p AS (SELECT vec_id AS qid, label AS qcell FROM ev " +
      s"ORDER BY ${oMd5Long("vec_id::VARCHAR")}, vec_id LIMIT $ProbePanelSize)"

  /** Decontamination hit counts — (doc_id, n_hits): distinct shingles a
    * training doc (doc_id % 50 ≠ 0) shares with the eval split
    * (doc_id % 50 = 0). THE kernel of q65, shared with q101's funnel
    * stage so the two can never diverge; rides the shared shingle index.
    */
  private[queries] def contaminationHits(s: SparkSession, d: String): DataFrame =
    // SHARED (r11): q65 publishes it, q101's funnel and q108's release
    // both gate on it — one eval-overlap join per (session, corpus),
    // hit-count-sized result (bounded by true overlap)
    graft.util.Caches.sharedIndex(s, s"contamHits:$d" + fpKey(s)) {
      val idx = shinglePostings(s, d)
      val eval = idx.filter(col("doc_id") % 50 === 0)
        .select(col("h1")).distinct()
      idx.filter(col("doc_id") % 50 =!= 0)
        .join(eval, "h1")
        .groupBy("doc_id")
        // count, not countDistinct (r18, the q121 rule): postings are
        // distinct per (doc, h1) and `eval` is unique per h1, so the
        // join is 1:1 — countDistinct paid an extra distinct-expansion
        // aggregate phase for already-unique keys. Same integers.
        .agg(count(col("h1")).as("n_hits"))
    }

  /** Per-shingle document frequency — (h1, c) over the postings, the
    * datasheet/memorization tier's common aggregation (r18): q109's
    * top-df screen and q124's df distribution each ran their own
    * token-volume h1 exchange; one cached copy per session serves both
    * (one row per DISTINCT shingle — bounded by vocabulary, not corpus).
    * Seam-aware via [[shinglePostings]] (with a stats-carrying index
    * q124 reads the dfc table instead and this kernel goes unbuilt).
    */
  private[queries] def dfCounts(s: SparkSession, d: String): DataFrame =
    graft.util.Caches.sharedIndex(s, s"dfCounts:$d" + fpKey(s))(
      shinglePostings(s, d).groupBy("h1").agg(count(lit(1)).as("c")))

  private[queries] def pairIntersections(s: SparkSession, d: String): DataFrame =
    // a SHARED materialized view like the shingle index itself: the
    // inverted-index self-join + intersect counts are the exact common
    // subexpression of every pairwise set measure (q31 Jaccard, q76
    // containment — they differ only in the denominator arithmetic), so
    // a session running the family pays the candidate machinery once.
    // The result is overlap-bounded (tiny next to the index); each
    // consumer still re-derives its own measure columns.
    graft.util.Caches.sharedIndex(s, s"pairIntersections:$d" + fpKey(s)) {
      val sh = shinglePostings(s, d)
      val sz = docSizes(s, d)
      sh.as("a")
        .join(sh.as("b"),
          col("a.h1") === col("b.h1") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("ida"), col("b.doc_id").as("idb"))
        .agg(count(lit(1)).as("inter"))
        .join(sz.as("za"), col("ida") === col("za.doc_id"))
        .join(sz.as("zb"), col("idb") === col("zb.doc_id"))
        .select(col("ida"), col("idb"), col("inter"),
          col("za.n").as("na"), col("zb.n").as("nb"))
    }

  /** Oracle CTEs mirroring [[pairIntersections]] (expect `shh` in scope);
    * consumers join `iv` with `sz` twice (za/zb) like the Spark side.
    */
  private[queries] val ivSzCte: String =
    "iv AS (SELECT a.doc_id AS ida, b.doc_id AS idb, count(*) AS inter FROM shh a " +
      "JOIN shh b ON a.h1 = b.h1 AND a.doc_id < b.doc_id GROUP BY 1, 2), " +
      "sz AS (SELECT doc_id, count(*) AS n FROM shh GROUP BY doc_id)"

  /** Tall signature rows (doc_id, band, minh) from the wide form —
    * posexplode is map-side, 8 tiny rows per doc.
    */
  private[queries] def minhashSig(s: SparkSession, d: String): DataFrame =
    minhashSigWide(s, d)
      .select(col("doc_id"), posexplode(array((0 until 8).map(b => col(s"m$b")): _*))
        .as(Seq("band", "minh")))

  /** Oracle CTEs mirroring [[minhashSig]] (expects `shh` in scope). */
  private[queries] val sigCte: String =
    "b AS (SELECT doc_id, j AS band, xor(h1, j * h2) AS h FROM shh, unnest(range(0, 8)) AS u(j)), " +
      "sig AS (SELECT doc_id, band, min(h) AS minh FROM b GROUP BY doc_id, band)"

  /** The full MinHash+LSH near-dup pipeline: signature → 4 bands × 2 rows
    * → band-key buckets → candidate pairs → exact-Jaccard verify (≥ 0.8).
    * Every corpus-derived input (shingle index, wide signatures, per-doc
    * sizes) is a shared persisted view — the Spark form of the oracle's
    * materialized CTEs. Shared by q29 and the cluster canonicalization in
    * AnalyticsOps.
    */
  private[queries] def lshPairs(s: SparkSession, d: String): DataFrame =
    // shared for the same reason as [[pairIntersections]]: the verified
    // near-dup pair list is the family's central derived dataset — q29
    // reports it, q51 clusters it; one session, one copy. ~|near-dups|
    // rows, trivially persistable.
    graft.util.Caches.sharedIndex(s, s"lshPairs:$d" + fpKey(s)) {
      fpIndexDir(s).fold(lshPairsBuild(s, d))(lshPairsFromIndex(s, _))
    }

  /** 4×2 LSH band keys off a wide-signature frame — band order inside a
    * key fixed by column position (matches the oracle's string_agg ORDER
    * BY band). Factored for the same reason as [[wideSigOf]]: the sink's
    * fingerprint index must bucket EXACTLY like [[lshPairs]].
    */
  private[graft] def bandKeysOf(wide: DataFrame): DataFrame =
    wide
      .select(col("doc_id"), col("n"), explode(array((0 until 4).map(k =>
        struct(lit(k).as("bk"),
          concat_ws(",", col(s"m${2 * k}").cast("string"),
            col(s"m${2 * k + 1}").cast("string")).as("bandkey"))): _*)).as("e"))
      .select(col("doc_id"), col("n"),
        col("e.bk").as("bk"), col("e.bandkey").as("bandkey"))

  /** Per-document fingerprint tables from an arbitrary (doc_id, text)
    * frame — (exact, bands, postings):
    *  - exact: (doc_id, h) content hash, the q27/q95 exact tier;
    *  - bands: (doc_id, n, bk, bandkey) LSH bucket keys + shingle count;
    *  - postings: (doc_id, h1) hashed-shingle rows for Jaccard verify.
    * Built with the dedup family's EXACT conventions (shingles(3) → the
    * md5Long/md5Long2 60-bit hashes → 8-minima wide signature → 4×2 band
    * keys), so an index the sink persists from these tables buckets and
    * verifies identically to [[lshPairs]] — the production surface
    * behind q95's incremental flow. The hashed-shingle frame is persisted
    * (both bands and postings read it; library callers drop it via
    * ContextCleaner — the Caches weak-ref rule).
    */
  private[graft] def fingerprintTables(docs: DataFrame)
      : (DataFrame, DataFrame, DataFrame) = {
    val exact = docs.select(col("doc_id"),
      Hashing.simpleHash(col("text")).as("h"))
    val sh = graft.util.Caches.transientPersist(
      docs.select(col("doc_id"), col("text"))
        .selectExpr("doc_id", "shingles(text, 3) AS shingle")
        .select(col("doc_id"),
          Hashing.md5Long(col("shingle")).as("h1"),
          Hashing.md5Long2(col("shingle")).as("h2")))
    (exact, bandKeysOf(wideSigOf(sh)), sh.select(col("doc_id"), col("h1")))
  }

  /** The semantic tier's index row shape — exactly the per-vector
    * projection [[cellPairCosBuild]] computes before its pair join
    * (quantize once, norm once), so a probe against a persisted table
    * of these rows verifies identically to the in-session kernel. The
    * X103 analog of [[fingerprintTables]].
    */
  private[graft] def vectorTable(emb: DataFrame): DataFrame =
    emb.withColumn("qv", quantize(col("embedding")))
      .select(col("vec_id"), col("label"), col("qv"),
        norm2Q(col("qv")).as("n2"))

  private def lshPairsBuild(s: SparkSession, d: String): DataFrame = {
    val sh = shingleIndex(s, d)
    // band keys straight off the WIDE signature — map-side expressions
    // over one row per doc (band order inside a key is fixed by column
    // position, matching the oracle's string_agg ORDER BY band). The
    // per-doc shingle count `n` rides ALONG from the same wide row (r7):
    // both Jaccard denominators travel with the candidate pair, deleting
    // the two post-aggregation size-lookup joins the r6 form paid — two
    // fewer stages for q29 AND q51, at +16 bytes per candidate row.
    val bk = bandKeysOf(minhashSigWide(s, d))
    val cand = bk.as("a")
      .join(bk.as("b"),
        col("a.bk") === col("b.bk") && col("a.bandkey") === col("b.bandkey")
          && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("ida"), col("b.doc_id").as("idb"),
        col("a.n").as("na"), col("b.n").as("nb"))
      .distinct() // (na, nb) are functions of (ida, idb): same cardinality
    // intersection on the 60-bit shingle hash — 8-byte join keys, not text;
    // na/nb pass through as (functionally dependent) grouping keys
    val shk = sh.select(col("doc_id"), col("h1"))
    cand
      .join(shk.as("sa"), col("ida") === col("sa.doc_id"))
      .join(shk.as("sb"),
        col("idb") === col("sb.doc_id") && col("sa.h1") === col("sb.h1"))
      .groupBy("ida", "idb", "na", "nb").agg(count(lit(1)).as("inter"))
      .select(col("ida"), col("idb"),
        (col("inter").cast("double") /
          (col("na") + col("nb") - col("inter"))).as("jacc"))
      .filter(col("jacc") >= 0.8)
  }

  /** [[lshPairsBuild]] over a persisted fingerprint index instead of the
    * session kernel (the [[fpIndexDir]] seam): the index's `bands` table
    * IS [[bandKeysOf]]'s output persisted (bucket-clustered on bandkey,
    * so the self-join's exchange reads co-located files) and `shingles`
    * IS the postings projection — candidate generation, the
    * intersection join and the Jaccard verify are line-for-line the
    * session build's, so the pair list is value-identical
    * (FpIndexSeamSpec) while the corpus tokenize+hash pass — the
    * dominant standalone cost, 20.1 s of q110's sf10 standalone 20.11 s
    * — is replaced by two parquet scans of pre-hashed int64s.
    */
  private def lshPairsFromIndex(s: SparkSession, dir: String): DataFrame = {
    val bk = graft.sink.Sink.minusTombstones(
      s.read.parquet(s"$dir/bands")
        .select(col("doc_id"), col("n"), col("bk"), col("bandkey")),
      dir, "doc_id")
    val cand = bk.as("a")
      .join(bk.as("b"),
        col("a.bk") === col("b.bk") && col("a.bandkey") === col("b.bandkey")
          && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("ida"), col("b.doc_id").as("idb"),
        col("a.n").as("na"), col("b.n").as("nb"))
      .distinct()
    // the intersection side needs no tombstone filter of its own: every
    // candidate (ida, idb) already has both endpoints alive via `bk`
    val shk = s.read.parquet(s"$dir/shingles").select(col("doc_id"), col("h1"))
    cand
      .join(shk.as("sa"), col("ida") === col("sa.doc_id"))
      .join(shk.as("sb"),
        col("idb") === col("sb.doc_id") && col("sa.h1") === col("sb.h1"))
      .groupBy("ida", "idb", "na", "nb").agg(count(lit(1)).as("inter"))
      .select(col("ida"), col("idb"),
        (col("inter").cast("double") /
          (col("na") + col("nb") - col("inter"))).as("jacc"))
      .filter(col("jacc") >= 0.8)
  }

  /** Oracle CTE chain ending in `pairs(ida, idb, jacc)` — mirrors
    * [[lshPairs]].
    */
  private[queries] val lshPairsCtes: String =
    s"$shCte, $shhCte, $sigCte, " +
      "bk AS (SELECT doc_id, band // 2 AS bk, " +
      "string_agg(minh::VARCHAR, ',' ORDER BY band) AS bandkey FROM sig GROUP BY doc_id, band // 2), " +
      "cand AS (SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb FROM bk a JOIN bk b " +
      "ON a.bk = b.bk AND a.bandkey = b.bandkey AND a.doc_id < b.doc_id), " +
      "iv AS (SELECT ida, idb, count(*) AS inter FROM cand c " +
      "JOIN shh sa ON sa.doc_id = c.ida JOIN shh sb ON sb.doc_id = c.idb AND sb.h1 = sa.h1 " +
      "GROUP BY ida, idb), " +
      "sz AS (SELECT doc_id, count(*) AS n FROM shh GROUP BY doc_id), " +
      "pairs AS (SELECT ida, idb, CAST(inter AS DOUBLE) / (za.n + zb.n - inter) AS jacc " +
      "FROM iv JOIN sz za ON ida = za.doc_id JOIN sz zb ON idb = zb.doc_id " +
      "WHERE CAST(inter AS DOUBLE) / (za.n + zb.n - inter) >= 0.8)"

  /** q95's verdict frame (doc_id, verdict, dup_of, jacc) for the ≡ 0
    * mod 10 batch — factored (r13c) so the batch-triage composite
    * (q123) consumes the SAME two-tier semantics: exact-first (q27's
    * content hash against standing docs, partner = min id), then
    * verified LSH near-dup (q29's θ = 0.8, partner = best-Jaccard, ties
    * → min id), else fresh. See q95's registry comment for the full
    * scale story (the exact tier is one 16-byte-hash shuffle; the near
    * tier filters the SHARED verified pair kernel).
    */
  private[queries] def incrementalVerdicts(s: SparkSession, d: String): DataFrame =
    // r18 kernel promotion (BASELINE.md r18 OPTIMIZATION phase): two
    // consumers (q95 and q123's triage composite) each re-ran the
    // exact-tier hash scan + best-partner window. Batch-sized narrow frame; key carries the
    // fpIndex seam (the lshPairs rule — a seam-path frame must never
    // serve the session-kernel path).
    graft.util.Caches.sharedIndex(s, s"incrementalVerdicts:$d" + fpKey(s))(
      incrementalVerdictsBuild(s, d))

  private def incrementalVerdictsBuild(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // three consumers read this frame (exact-tier batch side,
    // standing side, final batch base) — persist it or the corpus
    // scan + md5 subplan runs once per consumer (the lmScores-inst
    // discipline; r10, an ADVICE catch). r19: ride the promoted
    // session kernel (q27/q124 share the same frame).
    val hashed = exactHashesK(s, d)
    val isBatch = col("doc_id") % 10 === 0
    val exact = hashed.filter(isBatch)
      .join(hashed.filter(!isBatch)
        .select(col("h"), col("doc_id").as("pid")), "h")
      .groupBy("doc_id").agg(min("pid").as("exact_of"))
    val pairs = lshPairs(s, d)
    val w = Window.partitionBy("doc_id")
      .orderBy(col("jacc").desc, col("near_of"))
    val near = pairs
      .filter((col("ida") % 10 === 0) =!= (col("idb") % 10 === 0))
      .select(
        when(col("ida") % 10 === 0, col("ida")).otherwise(col("idb"))
          .as("doc_id"),
        when(col("ida") % 10 === 0, col("idb")).otherwise(col("ida"))
          .as("near_of"),
        col("jacc"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
    hashed.filter(isBatch).select(col("doc_id"))
      .join(exact, Seq("doc_id"), "left")
      .join(near, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("exact_of").isNotNull, lit("exact"))
          .when(col("near_of").isNotNull, lit("near"))
          .otherwise(lit("fresh")).as("verdict"),
        coalesce(col("exact_of"), col("near_of")).as("dup_of"),
        when(col("exact_of").isNull, col("jacc")).as("jacc"))
  }

  /** Oracle CTE chain mirroring [[incrementalVerdicts]] — ends in
    * `bv(doc_id, verdict, dup_of, jacc)`; expects `pairs`
    * ([[lshPairsCtes]]) in scope.
    */
  private[queries] val bvCte: String =
    "bhh AS (SELECT doc_id, md5(regexp_replace(text, '\\s+', '', 'g')) AS h FROM documents), " +
      "bex AS (SELECT b.doc_id, min(e.doc_id) AS exact_of FROM bhh b " +
      "JOIN bhh e ON b.h = e.h AND e.doc_id % 10 <> 0 WHERE b.doc_id % 10 = 0 GROUP BY 1), " +
      "bhits AS (SELECT CASE WHEN ida % 10 = 0 THEN ida ELSE idb END AS doc_id, " +
      "CASE WHEN ida % 10 = 0 THEN idb ELSE ida END AS near_of, jacc FROM pairs " +
      "WHERE (ida % 10 = 0) <> (idb % 10 = 0)), " +
      "bnr AS (SELECT doc_id, near_of, jacc FROM (SELECT doc_id, near_of, jacc, " +
      "row_number() OVER (PARTITION BY doc_id ORDER BY jacc DESC, near_of) AS rn FROM bhits) WHERE rn = 1), " +
      "bv AS (SELECT b.doc_id, " +
      "CASE WHEN exact_of IS NOT NULL THEN 'exact' WHEN near_of IS NOT NULL THEN 'near' ELSE 'fresh' END AS verdict, " +
      "coalesce(exact_of, near_of) AS dup_of, " +
      "CASE WHEN exact_of IS NULL THEN jacc END AS jacc " +
      "FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 0) b " +
      "LEFT JOIN bex ON b.doc_id = bex.doc_id LEFT JOIN bnr ON b.doc_id = bnr.doc_id)"

  // ---- shared embedding building blocks ----------------------------------

  /** Quantize a float embedding to exact 2^20-scaled BIGINTs. Dot products
    * and norms then live in exact integer arithmetic — order-insensitive
    * and bit-identical across engines (float→double is exact; scaling by a
    * power of two is exact; floor is unambiguous). A production engine
    * would keep raw doubles; quantization is what makes the operator
    * oracle-checkable, and at 2^20 the cosine error is < 1e-5.
    */
  private[queries] def quantize(emb: Column): Column =
    graft.functions.VectorQuantizer.quantize(emb)

  /** Exact integer dot product — the native codegen expression
    * [[graft.plans.DotProductLong]]. History of this hot path: the
    * interpreted HOF form (`aggregate(zip_with(...))`) lost 3× to a
    * primitive-`Array[Long]` tight-loop UDF (r6), and the UDF still paid
    * a per-pair `toLongArray` copy of both sides plus the invoke
    * round-trip; the Expression reads `getLong(i)` straight off the
    * unsafe array inside whole-stage codegen — zero copies. Same exact
    * int64 math throughout, so the oracles are unaffected.
    */
  private[graft] def dotQ(a: Column, b: Column): Column =
    call_function("graft_dot_long", a, b)

  private[queries] def norm2Q(a: Column): Column = call_function("graft_dot_long", a, a)

  /** cosine from quantized vectors: exact ints → deterministic doubles. */
  private[graft] def cosQ(dot: Column, n2a: Column, n2b: Column): Column =
    dot.cast("double") / (sqrt(n2a.cast("double")) * sqrt(n2b.cast("double")))

  private[queries] val oQuant =
    "list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT))"

  /** Retention contract of [[cellPairCos]] — every consumer must stay
    * inside the retained region, or widen these constants:
    *  - all pairs with cos ≥ [[CellPairRetainCos]] survive (q33's and
    *    q90's threshold);
    *  - each vector's top-[[CellPairRetainTopK]] partners per
    *    (cell, block-pair) group survive on BOTH sides, under the
    *    (cos DESC, partner ASC) order — a superset of every vector's
    *    global top-K (subgroup rank ≤ global rank), which is what q85
    *    ranks.
    */
  private[queries] val CellPairRetainCos = 0.35
  private[queries] val CellPairRetainTopK = 3

  /** Within-cell cosine pairs (ida < idb), block-SALTED and
    * candidate-BOUNDED — the shared IVF pair kernel: q33 thresholds it
    * into a near-dup report, q85 ranks it into a kNN graph, q90 clusters
    * its high-cos edges. `label` plays the coarse-quantizer cell;
    * pairwise cosine only *within* a cell. Scale: shuffle on cell id
    * co-locates each cell, pair volume bounded by cell size (the coarse
    * quantizer's job at 100 TB is exactly to cap it); the self-join is
    * block-salted so a hot cell cannot serialize one reducer; and the
    * OUTPUT is pruned to the retained region above (r10) — a per-vector
    * per-block top-K window on each side of the pair, riding the join's
    * own (cell, block, block) partitioning with no exchange, caps the
    * kernel's output at O(#vectors · K · B + #true-near-dup pairs)
    * instead of Σ cell². The in-join pair enumeration still costs B²
    * per cell pair-volume compute (inherent to exact in-cell cosine);
    * what the cap bounds is everything DOWNSTREAM: the persisted cache,
    * q85's symmetrize shuffle, q90's edge set. Every consumer's result
    * is exactly what the unpruned kernel gave (see the contract), so the
    * oracle CTE mirror stays the full `cpc` and consumers filter/rank it.
    *
    * Measured at the 10× ScaleCheck corpus (fixed #cells ⇒ ~100× in-cell
    * pairs BY CONSTRUCTION): the build settles at ~3.7× (the dot-product
    * enumeration floor — strongly sub-pair-linear), while q85, riding
    * the bounded cache, drops from slope 4.37 (r9) to ~1.1. At 100 TB
    * the coarse quantizer keeps CELL SIZE roughly constant by growing
    * #cells with the corpus, so the build's pair volume — and with this
    * cap, also the retained output — scales linearly in vectors.
    */
  private[graft] def cellPairCos(s: SparkSession, d: String): DataFrame =
    // shared+persisted for the lshPairs reason: the verified in-cell pair
    // list is the embedding family's central derived dataset — q33
    // thresholds it, q85 consumes it TWICE (both union branches of the
    // symmetrize read the one cached copy instead of re-running the
    // salted join per branch). ~|in-cell pairs| rows of 4 scalars.
    // The vecKey suffix isolates seam-path caches from session-kernel
    // ones (the fpKey rule).
    graft.util.Caches.sharedIndex(s, s"cellPairCos:$d${vecKey(s)}")(
      vecIndexDir(s) match {
        case Some(dir) => cellPairsFromIndex(s, dir)
        case None => cellPairCosBuild(s, d)
      })

  /** [[cellPairCosBuild]]'s output read off a persisted vector index
    * instead of the session kernel (the X103 seam, r14 — the lexical
    * [[lshPairsFromIndex]] treatment for the semantic tier): the
    * index's `pairs` table IS the retained pair region persisted at
    * index build/append/compaction time
    * ([[graft.sink.Sink.writeVectorIndex]]), so every cellPairCos
    * consumer (q33/q85/q90/q115/q116/q117/q118) rides parquet reads of
    * pre-computed (ida, idb, cell, cos) rows — no corpus re-quantize,
    * no pair enumeration, no dot products at audit time. Value
    * contract: a full-build index's pairs are bit-identical to the
    * session kernel; an APPEND-maintained index's pairs are a bounded
    * SUPERSET (per-build retention ranks only within each build's pair
    * set, so rank ≤ K survives more easily — see the retention
    * contract, which is superset-closed for every consumer: thresholds
    * and global top-K filters give identical results over any superset
    * of the retained region with exact cos values). Both pinned in
    * VectorIndexSpec.
    *
    * HEALTHY-INDEX assumption (the shinglePostings contract): the
    * index covers exactly this corpus's embeddings, no vector
    * duplicated across batch partitions.
    */
  private def cellPairsFromIndex(s: SparkSession, dir: String): DataFrame = {
    val pairsPath = new org.apache.hadoop.fs.Path(s"$dir/pairs")
    val fs = pairsPath.getFileSystem(s.sessionState.newHadoopConf())
    // guard on pairs/batch=base, not the table root (r15, the
    // fpStatsDir/mediaFps convention): a legacy vectors-only index that
    // received a new-code append would have a DELTA-ONLY pairs table —
    // every base-internal pair missing — and the root-existence check
    // would silently serve it to all seven pair consumers
    if (!fs.exists(new org.apache.hadoop.fs.Path(pairsPath, "batch=base")))
      sys.error(s"$dir has no base pairs generation (legacy vectors-only " +
        "vector index, possibly with appended pair deltas); rebuild it " +
        "with Sink.writeVectorIndex")
    graft.sink.Sink.minusTombstones(
      s.read.parquet(pairsPath.toString)
        .select(col("ida"), col("idb"), col("cell").cast("int").as("cell"),
          col("cos")),
      dir, "vec_id", Seq("ida", "idb"))
  }

  private def vecKey(s: SparkSession): String =
    vecIndexDir(s).fold("")(dir => s"@vidx=$dir")

  /** (vec_id, label) cell assignments — the vector-index datasheet's
    * occupancy tier (q130). Session quantizer by default; the index's
    * `vectors` table under the `spark.graft.vecIndex` seam (label is
    * its partition column, so the seam path reads partition values +
    * one id column, never the qv payload).
    */
  private[queries] def vectorCells(s: SparkSession, d: String): DataFrame =
    vecIndexDir(s) match {
      case Some(dir) =>
        graft.sink.Sink.minusTombstones(
          s.read.parquet(s"$dir/vectors").select(col("vec_id"), col("label")),
          dir, "vec_id")
      case None =>
        vectorTable(graft.util.Tables.embeddings(s, d))
          .select(col("vec_id"), col("label"))
    }

  private[graft] def cellPairCosBuild(s: SparkSession, d: String): DataFrame =
    cellPairsOf(s, vectorTable(embeddings(s, d)))

  /** The pair kernel over an arbitrary [[vectorTable]]-shaped frame
    * (vec_id, label, qv, n2) — factored (r14) so the sink can persist
    * the retained pair region at index-build time from exactly the
    * rows it just wrote. Body unchanged from the r10–r13 in-session
    * kernel.
    */
  private[graft] def cellPairsOf(s: SparkSession, vt: DataFrame): DataFrame = {
    val B = 4 // block fan-out: a hot cell spreads over B² reducer keys
    val e = vt
      .select(col("vec_id"), col("label"), col("qv"), col("n2"))
      .withColumn("blk", pmod(col("vec_id"), lit(B)))
    // two-sided block replication — the q49 salting pattern applied to
    // a self-join: each side explodes ×B over its PARTNER's block, the
    // equi-key becomes (label, blk_a, blk_b), and every unordered pair
    // matches exactly once (a's copy with pb = b.blk meets b's copy
    // with pa = a.blk). One hot cell now lands on B² reducers instead
    // of one — the named 100 TB scale risk of an un-salted IVF cell —
    // at the cost of a ×B shuffle of the (tiny) per-vector rows.
    val a = e.withColumn("pb", explode(sequence(lit(0), lit(B - 1))))
    val b = e.withColumn("pa", explode(sequence(lit(0), lit(B - 1))))
    // keep the join-key attributes (label, blk, pb) through the cosine
    // projection: the fused pre-limit below sorts within the join's own
    // output partitions — ONE in-partition sort, zero exchanges. The
    // shuffle_hash hint matters for exactly that: a broadcast self-join
    // (the planner's pick at bench scale) has NO output partitioning, so
    // a (label, blk, pb) group could straddle partitions; with the hash
    // shuffle every group is co-located. Shuffling the per-vector rows
    // instead (tiny next to the pair volume) is also the only shape
    // possible at 100 TB, where neither side fits a broadcast.
    val pairs = a.as("a").join(b.hint("shuffle_hash").as("b"),
        col("a.label") === col("b.label")
          && col("a.blk") === col("b.pa") && col("a.pb") === col("b.blk")
          && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.label").as("label"), col("a.blk").as("blk"),
        col("a.pb").as("pb"),
        col("a.vec_id").as("ida"), col("b.vec_id").as("idb"),
        cosQ(dotQ(col("a.qv"), col("b.qv")), col("a.n2"), col("b.n2")).as("cos"))
    // the retained region (see the contract above): threshold survivors
    // OR either side's per-block top-K under the SAME (cos DESC,
    // partner ASC) order q85 ranks globally, so a global top-K row is
    // always a group top-K row.
    //
    // FUSED (r11): one sort by (group, cos DESC, idb, ida) yields BOTH
    // window orders at once — per-ida subsequences are ordered
    // (cos DESC, idb ASC) = wa's order, and per-idb subsequences are
    // ordered (cos DESC, ida ASC) = wb's order (idb is constant inside
    // its own subsequence, so the ida tiebreak takes over). Running
    // per-side counters over that one sorted scan therefore reproduce
    // the two former row_number ranks EXACTLY (same values, same
    // tiebreaks — the retained set is bit-identical to the r10 twin-
    // window form, pinned in PipelineExtensionsSpec), at the cost of
    // one in-partition sort instead of two full-pair-volume sort+rank
    // passes. Counter state is bounded by vectors-per-(cell,
    // block-pair), the same bound the join's hash table already holds.
    //
    // AQE caveat: the exact-rank guarantee assumes each (label, blk,
    // pb) group is physically contained in one task — true for the
    // hash-shuffled join's output. If AQE's skew splitting ever breaks
    // a hot reduce partition into sub-tasks, counters restart per
    // fragment and ranks UNDERCOUNT, so the filter retains a bounded
    // SUPERSET (≤ fragments × K extra per group): every consumer stays
    // correct (the contract is superset-closed: thresholds and global
    // top-K survive any superset), the output bound degrades
    // gracefully by exactly the split factor, and nothing is silently
    // wrong — but bit-identity with the twin-window form holds only
    // under unsplit groups (the posture Verify/Bench run and the specs
    // pin).
    cellPairPreLimit(s, pairs)
  }

  /** The fused retained-region pass over a (label, blk, pb, ida, idb,
    * cos) pair frame — factored behind its own seam so the
    * fragmentation-degradation property (the AQE caveat above) is
    * testable directly: fed a frame whose groups straddle partitions,
    * the counters restart per fragment, ranks undercount, and the
    * output is a bounded SUPERSET of the co-partitioned result
    * (pinned in PipelineExtensionsSpec).
    */
  private[graft] def cellPairPreLimit(
      s: SparkSession, pairs: DataFrame): DataFrame = {
    import s.implicits._
    val K = CellPairRetainTopK
    val T = CellPairRetainCos
    pairs.as[(Int, Long, Int, Long, Long, Double)]
      .sortWithinPartitions(col("label"), col("blk"), col("pb"),
        col("cos").desc, col("idb").asc, col("ida").asc)
      .mapPartitions { it =>
        val ca = new scala.collection.mutable.HashMap[Long, Int]
        val cb = new scala.collection.mutable.HashMap[Long, Int]
        var curL = 0; var curB = 0L; var curP = 0; var first = true
        it.flatMap { case (l, bk, p, ida, idb, cos) =>
          if (first || l != curL || bk != curB || p != curP) {
            ca.clear(); cb.clear(); curL = l; curB = bk; curP = p
            first = false
          }
          val ra = ca.updateWith(ida)(o => Some(o.getOrElse(0) + 1)).get
          val rb = cb.updateWith(idb)(o => Some(o.getOrElse(0) + 1)).get
          if (cos >= T || ra <= K || rb <= K) Iterator.single((ida, idb, l, cos))
          else Iterator.empty
        }
      }
      .toDF("ida", "idb", "cell", "cos")
  }

  /** Append-cadence DELTA of the retained pair region: every in-cell
    * pair involving at least one `newVt` vector, against
    * `standingVt ∪ newVt`, with the SAME retention pass as the full
    * build. Per-pair cos values are exact ints either way; ranks are
    * computed within the delta only, so the union of per-build deltas
    * is a bounded SUPERSET of the full-build retained region (a pair's
    * rank within a subset of its group is ≤ its rank within the full
    * group — every full-retained pair survives some build), which is
    * exactly the superset the retention contract closes over. The join
    * is un-salted: the new side is batch-sized by the append contract
    * (a daily batch, a micro-batch), so a hot cell costs |batch∩cell| ×
    * |cell| — the probeVectorIndex shape, bounded by the batch. Groups
    * are explicitly co-partitioned before the retention pass (the
    * session build gets this free from its shuffle-hash join).
    */
  private[graft] def cellPairsDelta(s: SparkSession,
      newVt: DataFrame, standingVt: DataFrame): DataFrame = {
    val B = 4
    val nv = newVt.select(col("vec_id"), col("label"), col("qv"), col("n2"))
    val all = nv.withColumn("standing", lit(false))
      .unionByName(standingVt
        .select(col("vec_id"), col("label"), col("qv"), col("n2"))
        .withColumn("standing", lit(true)))
    // new×standing pairs match once by construction; new×new pairs are
    // ordered (a < b) so the normalized projection never duplicates
    val p = nv.as("a").join(all.as("b"),
        col("a.label") === col("b.label")
          && col("a.vec_id") =!= col("b.vec_id")
          && (col("b.standing") || col("a.vec_id") < col("b.vec_id")))
      .select(col("a.label").as("label"),
        least(col("a.vec_id"), col("b.vec_id")).as("ida"),
        greatest(col("a.vec_id"), col("b.vec_id")).as("idb"),
        cosQ(dotQ(col("a.qv"), col("b.qv")),
          col("a.n2"), col("b.n2")).as("cos"))
      .select(col("label"), pmod(col("ida"), lit(B.toLong)).as("blk"),
        pmod(col("idb"), lit(B.toLong)).cast("int").as("pb"),
        col("ida"), col("idb"), col("cos"))
    cellPairPreLimit(s, p.repartition(col("label"), col("blk"), col("pb")))
  }

  /** Oracle CTE chain mirroring [[cellPairCos]] — ends in
    * `cpc(ida, idb, cell, cos)`. Unthresholded; callers filter/rank.
    */
  private[queries] val cellPairCosCtes: String =
    s"ev AS (SELECT vec_id, label, $oQuant AS v FROM embeddings), " +
      "ee AS (SELECT vec_id, label, unnest(range(len(v))) AS pos, unnest(v) AS x FROM ev), " +
      "n AS (SELECT vec_id, CAST(SUM(x * x) AS BIGINT) AS n2 FROM ee GROUP BY vec_id), " +
      "p AS (SELECT a.vec_id AS ida, b.vec_id AS idb, a.label AS cell, " +
      "CAST(SUM(a.x * b.x) AS BIGINT) AS dot FROM ee a " +
      "JOIN ee b ON a.pos = b.pos AND a.label = b.label AND a.vec_id < b.vec_id " +
      "GROUP BY 1, 2, 3), " +
      "cpc AS (SELECT ida, idb, cell, " +
      "CAST(dot AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) AS cos " +
      "FROM p JOIN n na ON ida = na.vec_id JOIN n nb ON idb = nb.vec_id)"

  /** Random-hyperplane sign buckets (vec_id, bucket): n sign bits from
    * md5-parity ±1 planes.
    *
    * The plane components are md5-parity of "plane:pos" — DETERMINISTIC —
    * so the sign matrix is computed once DRIVER-side with the same md5 the
    * oracle evaluates in SQL (values identical by construction; pinned by
    * the q34 hash check) and shipped in the UDF closure. The per-vector
    * projection is then one primitive-array loop in a single MAP stage —
    * replacing the exploded (vector × dim) row stream, the broadcast join
    * and two shuffled groupBys of the declarative form. Exact int64
    * arithmetic either way, so summation order cannot matter. At 100 TB
    * the matrix is nPlanes × dim longs (16 × 128 here) — closure-sized.
    */
  private def hyperBuckets(s: SparkSession, d: String, nPlanes: Int): DataFrame = {
    val dim = embeddings(s, d)
      .agg(max(size(col("embedding"))).as("d")).head.getInt(0)
    val md = java.security.MessageDigest.getInstance("MD5")
    def md5ParitySgn(p: Int, pos: Int): Long = {
      val hex = md.digest(s"$p:$pos".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      if (java.lang.Long.parseLong(hex.substring(0, 15), 16) % 2 == 1) 1L else -1L
    }
    val sgn: Array[Array[Long]] = Array.tabulate(nPlanes, dim)(md5ParitySgn)
    val bucketUdf = udf((qv: Array[Long]) => {
      var bucket = 0L
      var p = 0
      while (p < nPlanes) {
        val row = sgn(p)
        var proj = 0L
        var i = 0
        val n = qv.length
        while (i < n) { proj += qv(i) * row(i); i += 1 }
        if (proj >= 0) bucket |= 1L << p
        p += 1
      }
      bucket
    })
    embeddings(s, d)
      // a null/empty embedding has no exploded rows in the oracle's unnest
      // and therefore no bucket row — mirror that absence, don't bucket it
      .filter(col("embedding").isNotNull && size(col("embedding")) > 0)
      .select(col("vec_id"), bucketUdf(quantize(col("embedding"))).as("bucket"))
  }

  /** Oracle CTEs mirroring [[hyperBuckets]]: expects `ev`,`ee`; yields `bk`. */
  private def oHyperCte(nPlanes: Int): String =
    "planes AS (SELECT pos, j AS p, CASE WHEN " +
      oMd5Long("j::VARCHAR || ':' || pos::VARCHAR") + " % 2 = 1 THEN 1 ELSE -1 END AS sgn " +
      s"FROM (SELECT DISTINCT pos FROM ee), unnest(range(0, $nPlanes)) AS u(j)), " +
      "pr AS (SELECT vec_id, p, SUM(x * sgn) AS proj FROM ee JOIN planes USING (pos) GROUP BY vec_id, p), " +
      "bk AS (SELECT vec_id, CAST(SUM(CASE WHEN proj >= 0 THEN (CAST(1 AS BIGINT) << p) ELSE 0 END) AS BIGINT) AS bucket " +
      "FROM pr GROUP BY vec_id)"

  /** The sequence packer behind q66 (and q81's BPE-token variant):
    * concatenate the corpus in doc_id order and cut it into fixed
    * `budget`-token training sequences — every document lands in the
    * sequence where its first token falls. The global running token
    * total is a DISTRIBUTED prefix sum, not a Window.orderBy (which
    * plans a single-partition sort — the textbook scale killer): bucket
    * on pid = doc_id DIV 1024 (a pure function of the key — cheap,
    * deterministic, recompute-safe), run the within-bucket running
    * total in parallel, and add each bucket's start offset from a
    * bucket-count-sized side table joined back broadcast. Only that
    * tiny offsets table is ever single-partition.
    *
    * `nExpr` computes the per-doc token count and is evaluated AFTER
    * the pid repartition: the one exchange is simultaneously the
    * small-scan fan-out (tokenization runs after it, on all cores) and
    * the clustering the in-bucket window AND the offsets groupBy both
    * reuse, so neither plans its own shuffle (the shingle-index build
    * trick applied to the prefix sum). The (doc_id, n, pid) frame is
    * persisted: 24 bytes/doc, read by both branches. DIV, not /:
    * double division would lose doc_ids past 2^53.
    */
  private def packSequences(base: DataFrame, nExpr: Column, budget: Int): DataFrame = {
    val t = graft.util.Caches.transientPersist(
      base
        .withColumn("pid", expr("doc_id DIV 1024"))
        .repartition(col("pid"))
        .select(col("doc_id"), nExpr.as("n"), col("pid")))
    val inBucket = org.apache.spark.sql.expressions.Window
      .partitionBy("pid").orderBy("doc_id")
      .rowsBetween(Long.MinValue, -1)
    val acrossBuckets = org.apache.spark.sql.expressions.Window
      .orderBy("pid").rowsBetween(Long.MinValue, -1)
    val offsets = t.groupBy("pid").agg(sum("n").as("pn"))
      .select(col("pid"),
        coalesce(sum("pn").over(acrossBuckets), lit(0L)).as("off"))
    t.withColumn("cbp", coalesce(sum("n").over(inBucket), lit(0L)))
      .join(broadcast(offsets), "pid")
      .withColumn("cb", col("cbp") + col("off"))
      .withColumn("seq_id", expr(s"cb DIV $budget"))
      .groupBy("seq_id")
      .agg(count(lit(1)).as("n_docs"), sum("n").as("n_tokens"),
        min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
      .orderBy("seq_id")
  }

  /** One left-to-right, NON-OVERLAPPING application of BPE merge
    * (w1, w2) → "w1_w2" over a token sequence — the apply step of every
    * BPE trainer round ("a a a" under merge (a,a) yields ["a_a", "a"],
    * never the overlapping middle pair). Tokens contain no whitespace
    * (graft.functions.Text.words splits on it), so the merged token
    * round-trips through the `ngrams` pair kernel unambiguously.
    */
  private[graft] def mergePair(ts: Seq[String], w1: String, w2: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    val n = ts.length
    while (i < n) {
      if (i < n - 1 && ts(i) == w1 && ts(i + 1) == w2) {
        out += (w1 + "_" + w2); i += 2
      } else { out += ts(i); i += 1 }
    }
    out.toSeq
  }

  /** BPE learn+apply: `rounds` driver-loop iterations, each running
    * q78's corpus pair kernel (ngrams → partial-agged count → top-1,
    * a ONE-ROW driver collect — the q73-codebook bounded pattern) and
    * re-tokenizing the corpus under the winning merge. Returns the
    * final (doc_id, toks) frame. Per-round persists carry the previous
    * round's materialized tokens into the next round's kernel; the
    * round-r cache is dropped only after round r+1's action has
    * populated its own (the clusterLabels unpersist bookkeeping) — at
    * most two corpus-token caches live at once. Empty tokens are
    * dropped up front: they only arise from leading/trailing
    * non-space whitespace and would not round-trip the concat_ws
    * re-join the pair kernel reads.
    */
  private[graft] def bpeLearnApply(s: SparkSession, d: String, rounds: Int): DataFrame = {
    var toks = graft.util.Caches.transientPersist(
      documents(s, d).select(col("doc_id"), col("text"))
        .filter(col("text").isNotNull)
        .select(col("doc_id"),
          filter(words(col("text")), x => x =!= lit("")).as("toks")))
    var prev: DataFrame = null
    var r = 0
    var dry = false
    while (r < rounds && !dry) {
      val top = toks.selectExpr("ngrams(concat_ws(' ', toks), 2) AS pair")
        .groupBy("pair").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("pair").asc)
        .limit(1).collect()
      if (prev != null) prev.unpersist()
      if (top.isEmpty) dry = true
      else {
        val Array(w1, w2) = top(0).getString(0).split(" ", 2)
        val applyMerge = udf((ts: Seq[String]) => mergePair(ts, w1, w2))
        val next = graft.util.Caches.transientPersist(
          toks.select(col("doc_id"), applyMerge(col("toks")).as("toks")))
        prev = toks
        toks = next
      }
      r += 1
    }
    toks
  }

  /** Per-document quality features + composite score — q36's kernel,
    * shared with the q82 keep-best dedup endpoint (the representative
    * choice must use the SAME score the quality report publishes). Pure
    * map-side: the token array is a bound column, so the split runs once
    * per row; all ratios are int/int doubles — deterministic.
    */
  private[queries] def qualityFeatures(s: SparkSession, d: String): DataFrame =
    // r18 kernel promotion (BASELINE.md r18 OPTIMIZATION phase, guide
    // §1.2 "don't compute things twice"): six consumers per session
    // (q36/q82-family/q91/q101/q113/q123 + releaseCorpus) each re-ran this corpus scan +
    // word split. The frame is NARROW (id + 5 numbers — fixed-width
    // cache rows, no text), so one materialization serves all six; the
    // split pass runs once per session instead of six times.
    graft.util.Caches.sharedIndex(s, s"qualityFeatures:$d")(
      qualityFeaturesOf(documents(s, d)))

  /** Frame-based core of [[qualityFeatures]] (r13c) — the sink tier's
    * batch triage ([[graft.sink.Sink.triageBatch]]) scores an arbitrary
    * incoming (doc_id, text) frame with the SAME published score.
    */
  private[graft] def qualityFeaturesOf(docs: DataFrame): DataFrame = {
    val ws = col("ws") // bound column: the split runs once per row
    val nTok = size(ws)
    val stop = Seq("the", "a", "of", "and", "to", "in", "is")
    docs
      .withColumn("ws", words(col("text")))
      .select(col("doc_id"), nTok.as("n_tokens"),
        (size(array_distinct(ws)).cast("double") / nTok).as("ttr"),
        (size(filter(ws, w => w.isInCollection(stop))).cast("double") / nTok)
          .as("stop_ratio"),
        (aggregate(transform(ws, w => length(w)), lit(0), (a, x) => a + x)
          .cast("double") / nTok).as("avg_wlen"))
      .withColumn("score",
        least(col("n_tokens") / lit(50.0), lit(1.0)) * 0.4
          + col("ttr") * 0.3 + (lit(1.0) - col("stop_ratio")) * 0.3)
  }

  /** Oracle CTE mirroring [[qualityFeatures]] — ends in
    * `qual(doc_id, n_tokens, ttr, stop_ratio, avg_wlen, score)`.
    */
  private[queries] val qualCte: String =
    "qual AS (SELECT doc_id, n_tokens, ttr, stop_ratio, avg_wlen, " +
      "least(n_tokens / 50.0, 1.0) * 0.4 + ttr * 0.3 + (1.0 - stop_ratio) * 0.3 AS score " +
      "FROM (SELECT doc_id, len(ws) AS n_tokens, " +
      "len(list_distinct(ws))::DOUBLE / len(ws) AS ttr, " +
      "len(list_filter(ws, w -> w IN ('the','a','of','and','to','in','is')))::DOUBLE / len(ws) AS stop_ratio, " +
      "list_sum(list_transform(ws, w -> length(w)))::DOUBLE / len(ws) AS avg_wlen " +
      "FROM (SELECT doc_id, regexp_split_to_array(trim(text), '[ \\t\\n\\x0B\\f\\r]+') AS ws FROM documents)))"

  /** Shared Gopher document-shape rule set (q100's kernel, factored r11
    * so the corpus-release pipeline reuses the SAME gate): word-count
    * bounds, mean word length, symbol ratio, bullet/ellipsis line
    * fractions, alpha-word fraction, the 8-stopword presence gate.
    * Entirely map-side; every count exact-integer, every fraction an
    * integer-ratio double (cross-engine bit-identical — q100's contract
    * comments). No presentation sort — callers add their own.
    */
  private[queries] def gopherFeatures(s: SparkSession, d: String): DataFrame =
    // r18 kernel promotion (BASELINE.md r18 OPTIMIZATION phase): two
    // consumers (q100 and releaseCorpus → q108/q133's chain) each
    // re-ran this corpus tokenize + line split. Narrow output (id + 7 numbers + 2 flags),
    // one materialization serves both.
    graft.util.Caches.sharedIndex(s, s"gopherFeatures:$d")(
      gopherFeaturesBuild(s, d))

  private def gopherFeaturesBuild(s: SparkSession, d: String): DataFrame = {
    val stop = Seq("the", "be", "to", "of", "and", "that", "have", "with")
    val txt = col("text")
    val ws = col("ws")
    val ls = col("ls")
    val nW = size(ws)
    val nL = size(ls)
    // non-overlapping greedy replace in BOTH engines, so the counts
    // agree ("....." → one '...' run + 2 residual dots, neither
    // counted twice); '…' (U+2026) is one code point to both length()s
    val hashCnt = length(txt) - length(replace(txt, lit("#"), lit("")))
    val ell3 = ((length(txt) - length(replace(txt, lit("..."), lit(""))))
      / lit(3)).cast("int")
    val ell1 = length(txt) - length(replace(txt, lit("…"), lit("")))
    val bulletL = size(filter(ls, l =>
      startswith(ltrim(l), lit("-")) || startswith(ltrim(l), lit("*")) ||
        startswith(ltrim(l), lit("•"))))
    val ellL = size(filter(ls, l =>
      endswith(rtrim(l), lit("...")) || endswith(rtrim(l), lit("…"))))
    val alphaW = size(filter(ws, w => w.rlike("[A-Za-z]")))
    val nStop = size(filter(array_distinct(transform(ws, w => lower(w))),
      w => w.isInCollection(stop)))
    docTextLean(s, d)
      .filter(txt.isNotNull)
      .withColumn("ws", words(txt))
      .withColumn("ls", split(txt, "\n", -1))
      .select(col("doc_id"),
        nW.cast("long").as("n_words"),
        (aggregate(transform(ws, w => length(w)), lit(0), (a, x) => a + x)
          .cast("double") / nW).as("mean_word_len"),
        ((hashCnt + ell3 + ell1).cast("double") / nW).as("symbol_ratio"),
        (bulletL.cast("double") / nL).as("bullet_frac"),
        (ellL.cast("double") / nL).as("ellipsis_frac"),
        (alphaW.cast("double") / nW).as("alpha_frac"),
        nStop.cast("long").as("n_stop"))
      // shape_pass: the six LANGUAGE-AGNOSTIC document-shape conjuncts —
      // the release pipeline's gate (releaseCorpus filters on THIS
      // column, so the thresholds live in exactly one place); passes
      // adds the English-only stopword conjunct for the full audit
      .withColumn("shape_pass",
        (col("n_words").between(50, 100000)
          && col("mean_word_len").between(3.0, 10.0)
          && col("symbol_ratio") < 0.1
          && col("bullet_frac") < 0.9
          && col("ellipsis_frac") < 0.3
          && col("alpha_frac") > 0.8).cast("int"))
      .withColumn("passes",
        (col("shape_pass") === 1 && col("n_stop") >= 2).cast("int"))
  }

  /** Oracle CTE chain mirroring [[gopherFeatures]] — ends in
    * `goph(doc_id, n_words, mean_word_len, symbol_ratio, bullet_frac,
    * ellipsis_frac, alpha_frac, n_stop, passes)`.
    */
  private[queries] val gopherCte: String =
    "gopht AS (SELECT doc_id, text, " +
      "regexp_split_to_array(trim(text), '[ \\t\\n\\x0B\\f\\r]+') AS ws, " +
      "string_split(text, chr(10)) AS ls FROM documents WHERE text IS NOT NULL), " +
      "gophs AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_words, " +
      "list_sum(list_transform(ws, w -> length(w)))::DOUBLE / len(ws) AS mean_word_len, " +
      "((length(text) - length(replace(text, '#', ''))) " +
      " + ((length(text) - length(replace(text, '...', ''))) // 3) " +
      " + (length(text) - length(replace(text, chr(8230), ''))))::DOUBLE / len(ws) AS symbol_ratio, " +
      "len(list_filter(ls, l -> starts_with(ltrim(l), '-') OR starts_with(ltrim(l), '*') " +
      "OR starts_with(ltrim(l), chr(8226))))::DOUBLE / len(ls) AS bullet_frac, " +
      "len(list_filter(ls, l -> ends_with(rtrim(l), '...') " +
      "OR ends_with(rtrim(l), chr(8230))))::DOUBLE / len(ls) AS ellipsis_frac, " +
      "len(list_filter(ws, w -> regexp_matches(w, '[A-Za-z]')))::DOUBLE / len(ws) AS alpha_frac, " +
      "CAST(len(list_filter(list_distinct(list_transform(ws, w -> lower(w))), " +
      "w -> w IN ('the','be','to','of','and','that','have','with'))) AS BIGINT) AS n_stop FROM gopht), " +
      "goph0 AS (SELECT *, CAST((n_words BETWEEN 50 AND 100000) AND (mean_word_len BETWEEN 3.0 AND 10.0) " +
      "AND symbol_ratio < 0.1 AND bullet_frac < 0.9 AND ellipsis_frac < 0.3 " +
      "AND alpha_frac > 0.8 AS INTEGER) AS shape_pass FROM gophs), " +
      "goph AS (SELECT *, CAST(shape_pass = 1 AND n_stop >= 2 AS INTEGER) AS passes FROM goph0)"

  /** The SHARED term-frequency index — (doc_id, g, term, tf) rows,
    * g ∈ {1, 2}: per-document unigram and bigram occurrence counts, one
    * persisted copy per (session, sfDir) reused by the whole
    * tokenizer-statistics family — q69's vocabulary counts, q78's merge
    * pairs, q79's unigram/pair sides, q86's LM model instances, q88's
    * tf/df — the engine's second materialized view over the corpus
    * (the shingleIndex's frequency counterpart). Whichever family query
    * runs first in a session/bench pass builds it; the rest ride the
    * cache. Cuts the corpus tokenize pass for the family from five to
    * ONE; at 100 TB that pass is the family's dominant cost.
    *
    * Two design choices carry the scale story:
    *  - the per-doc aggregation happens INSIDE the `termfreqs` generator
    *    (map-side, the posshingles first-occurrence trick), so the build
    *    never shuffles token-volume rows and no groupBy(doc_id, term)
    *    exists in any plan;
    *  - the index persists PRE-PARTITIONED on `term` (the shingleIndex
    *    bucketing trick, keyed for THIS family's access pattern): the
    *    cached InMemoryTableScan keeps the HashPartitioning, so every
    *    corpus-wide term aggregation (q69/q78 counts, q79 n1/n12, q86's
    *    c1/c12 model, q88's df) and every term-keyed join between
    *    derivations (q86 inst⋈model, q88 tf⋈df) plans WITHOUT its own
    *    exchange — the build-time shuffle is the only term-keyed data
    *    movement the family ever pays. Unigram and bigram terms are
    *    disjoint (bigrams contain a space), so the g tiers never collide
    *    in a group.
    *
    * docText (fan-out) sits UNDER the generator so tokenization runs on
    * all cores even off the single-row-group bench scan; at cluster
    * scale fanOut is the identity and the term repartition is the one
    * real exchange.
    */
  private[queries] def termFreq(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.util.Caches.sharedIndex(s, s"termFreq:$d") {
      // the corpus-wide term statistics every consumer needs — df (how
      // many docs contain the term) and cf (total occurrences) — are
      // ATTACHED to the index at build time, the term-dictionary shape a
      // search engine's postings carry: one window over (g, term), which
      // rides the build's own term repartition (partitioning on term
      // satisfies clustering on (g, term)) — no exchange, no join, of
      // its own. Consumers then read corpus counts off the row instead
      // of re-aggregating (q69/q78/q79: distinct (term, cf) rows; q88:
      // df inline — its former df-aggregate+join deleted; q86: c12 is
      // the pair row's cf — its former model aggregate+join deleted).
      val w = Window.partitionBy("g", "term")
      docText(s, d).filter(col("text").isNotNull)
        .selectExpr("doc_id", "termfreqs(text, 2) AS (g, term, tf)")
        .repartition(col("term"))
        .withColumn("df", count(lit(1)).over(w))
        .withColumn("cf", sum("tf").over(w))
    }
  }

  /** Per-document bigram-LM score frame — q86's kernel, shared with the
    * q92 quality-bucket partitioner (the bucket thresholds must derive
    * from the SAME score the scoring query publishes). Returns
    * (doc_id, n_bigrams, lm_score); see the q86 registry comment for the
    * full cross-engine-exactness and scale rationale.
    *
    * SHARED-persisted (the shingleIndex/cellPairCos lifetime): the score
    * table is the perplexity family's central derived dataset — q86
    * publishes it, q92 consumes it twice (histogram + assignment) — so
    * one session builds the corpus tokenize + model-join pass once,
    * whichever query runs first.
    */
  private def lmScores(s: SparkSession, d: String): DataFrame =
    graft.util.Caches.sharedIndex(s, s"lmScores:$d") { lmScoresBuild(s, d) }

  private[graft] def lmScoresBuild(s: SparkSession, d: String): DataFrame = {
    // every corpus statistic here derives from the SHARED term-frequency
    // index — no tokenize pass of its own (r10; the r9 form paid its own
    // ngrams explode + (doc, pair) agg). The instance table (distinct
    // (doc, pair) rows with multiplicity) IS the index's g=2 tier —
    // per-doc aggregation already happened map-side inside the
    // generator — and the unigram model (c1) and bigram model (c12) are
    // term-keyed aggregations that ride the index's term partitioning
    // with no exchange of their own, as does the inst⋈model join.
    // c12 (corpus pair count) is the g=2 row's own cf column and c1 the
    // unigram dictionary's — the former bigram-model aggregate and its
    // join are gone; only the w1 → c1 lookup join remains (c1 belongs to
    // a DIFFERENT term than the row's own)
    val tfk = termFreq(s, d)
    val uni = tfk.filter(col("g") === 1)
      .select(col("term").as("w"), col("cf").as("c1")).distinct()
    val inst = tfk.filter(col("g") === 2)
      .select(col("doc_id"), col("term").as("pair"), col("tf").as("m"),
        col("cf").as("c12"))
    inst
      .withColumn("w1", expr("split_part(pair, ' ', 1)"))
      .join(uni.withColumnRenamed("w", "w1"), "w1")
      .withColumn("ps", floor(col("c12").cast("double") * lit(1048576.0)
        / col("c1").cast("double")).cast("long"))
      .groupBy("doc_id")
      .agg(sum(col("m")).cast("long").as("n_bigrams"),
        sum(col("m") * col("ps")).as("sps"))
      .select(col("doc_id"), col("n_bigrams"),
        (col("sps").cast("double")
          / (col("n_bigrams").cast("double") * 1048576.0)).as("lm_score"))
  }

  /** Oracle CTE chain mirroring [[lmScores]] — ends in
    * `lm(doc_id, n_bigrams, lm_score)`.
    */
  private val lmCtes: String =
    "toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '[ \\t\\n\\x0B\\f\\r]+') AS ws " +
      "FROM documents WHERE text IS NOT NULL), " +
      "wu AS (SELECT unnest(ws) AS w FROM toks), " +
      "u AS (SELECT w, count(*) AS c1 FROM wu GROUP BY 1), " +
      "p AS (SELECT doc_id, ws[i] || ' ' || ws[i+1] AS pair FROM toks, unnest(range(1, len(ws))) AS t(i) WHERE len(ws) >= 2), " +
      "pc AS (SELECT pair, count(*) AS c12 FROM p GROUP BY 1), " +
      "inst AS (SELECT doc_id, pair, count(*) AS m FROM p GROUP BY 1, 2), " +
      "sc AS (SELECT doc_id, m, CAST(floor(CAST(c12 AS DOUBLE) * 1048576.0 / CAST(c1 AS DOUBLE)) AS BIGINT) AS ps " +
      "FROM inst JOIN pc USING (pair) JOIN u ON split_part(pair, ' ', 1) = u.w), " +
      "lm AS (SELECT doc_id, CAST(SUM(m) AS BIGINT) AS n_bigrams, " +
      "CAST(SUM(m * ps) AS DOUBLE) / (CAST(SUM(m) AS DOUBLE) * 1048576.0) AS lm_score " +
      "FROM sc GROUP BY doc_id)"

  /** Maximal cross-document shared token runs (≥ 12 tokens) — q80's
    * kernel, shared with the q93 duplicate-coverage readout. Returns
    * (ida, idb, start_a, start_b, run_tokens), unlimited; see the q80
    * registry comment for the positional-shingle / df-cap / diagonal
    * gaps-and-islands design.
    *
    * SHARED-persisted (the shingleIndex/cellPairCos lifetime): the run
    * table is the substring-dedup family's central derived dataset —
    * q80 ranks it, q93 unions its intervals twice — so one session pays
    * the positional-shingle self-join once, whichever query runs first.
    */
  private def substringRuns(s: SparkSession, d: String): DataFrame =
    graft.util.Caches.sharedIndex(s, s"substringRuns:$d") {
      substringRunsBuild(s, d)
    }

  private[graft] def substringRunsBuild(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // the profile is persisted PRE-PARTITIONED on h (the shingleIndex
    // bucketing trick): the df-cap window, and BOTH self-join sides,
    // reuse this one exchange — the df cap costs no agg+join of its
    // own, and the self-join plans with no exchange on either side.
    // Total data movement: this repartition + the (pair, diagonal)
    // window shuffle (whose groupBy then rides the same clustering).
    val prof = graft.util.Caches.transientPersist(
      docText(s, d)
        .selectExpr("doc_id", "posshingles(text, 8) AS (pos, shingle)")
        .select(col("doc_id"), col("pos").cast("long").as("pos"),
          graft.functions.Hashing.md5Long(col("shingle")).as("h"))
        .repartition(col("h"))
        .withColumn("df", count(lit(1)).over(Window.partitionBy("h")))
        .filter(col("df") <= 64)
        .drop("df"))
    val w = Window.partitionBy("ida", "idb", "diag").orderBy("pa")
    prof.select(col("h"), col("doc_id").as("ida"), col("pos").as("pa"))
      .join(prof.select(col("h").as("hb"), col("doc_id").as("idb"),
        col("pos").as("pb")), col("h") === col("hb") && col("ida") < col("idb"))
      .select(col("ida"), col("idb"), col("pa"), col("pb"),
        (col("pa") - col("pb")).as("diag"))
      .withColumn("grp", col("pa") - row_number().over(w))
      .groupBy("ida", "idb", "diag", "grp")
      .agg(min("pa").as("start_a"), min("pb").as("start_b"),
        (count(lit(1)) + 7).as("run_tokens"))
      .filter(col("run_tokens") >= 12)
      .select("ida", "idb", "start_a", "start_b", "run_tokens")
  }

  /** Oracle CTE chain mirroring [[substringRuns]] PRE-filter — ends in
    * `runs(ida, idb, start_a, start_b, run_tokens)` (consumers apply the
    * `run_tokens >= 12` threshold themselves, mirroring the Spark def).
    */
  private val runsCtes: String =
    "toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '[ \\t\\n\\x0B\\f\\r]+') AS ws " +
      "FROM documents WHERE text IS NOT NULL), " +
      "sh0 AS (SELECT doc_id, i AS pos, " + oMd5Long("array_to_string(ws[i:i+7], ' ')") + " AS h " +
      "FROM toks, unnest(range(1, len(ws) - 6)) AS t(i)), " +
      "sh AS (SELECT doc_id, h, min(pos) AS pos FROM sh0 GROUP BY 1, 2), " +
      "cold AS (SELECT h FROM sh GROUP BY h HAVING count(*) <= 64), " +
      "prof AS (SELECT sh.* FROM sh JOIN cold USING (h)), " +
      "m AS (SELECT a.doc_id AS ida, b.doc_id AS idb, a.pos AS pa, b.pos AS pb, " +
      "a.pos - b.pos AS diag FROM prof a JOIN prof b USING (h) WHERE a.doc_id < b.doc_id), " +
      "r AS (SELECT ida, idb, diag, pa, pb, " +
      "pa - row_number() OVER (PARTITION BY ida, idb, diag ORDER BY pa) AS grp FROM m), " +
      "runs AS (SELECT ida, idb, min(pa) AS start_a, min(pb) AS start_b, " +
      "count(*) + 7 AS run_tokens FROM r GROUP BY ida, idb, diag, grp)"

  // ---- registry ----------------------------------------------------------

  val all: Seq[Q] = Seq(

    // ==== deduplication =====================================================

    // Exact dedup: content-hash group-by, keep the smallest id — the Spark
    // form of the reference's PK dedup (`db.rs:174`) applied to documents.
    // Scale: one shuffle on the 32-byte hash; survivors stream out.
    Q("q27_dedup_exact",
      // rides [[exactHashes]] (r13): session-kernel by default, the
      // persisted index's `exact` table under the X97 seam — standalone
      // exact dedup of a standing corpus is then a parquet group-by,
      // zero text reads. r19: the promoted kernel ([[exactHashesK]]) —
      // q124's a4 and the incrementalVerdicts build share the one
      // corpus hash pass per session instead of re-running it.
      (s, d) => exactHashesK(s, d)
        .groupBy("h")
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("copies"))
        .orderBy("keep_id"),
      Some("SELECT md5(regexp_replace(text, '\\s+', '', 'g')) AS h, " +
        "min(doc_id) AS keep_id, count(*) AS copies FROM documents " +
        "GROUP BY 1 ORDER BY keep_id")),

    // MinHash signatures: 8 permutations via the classic double-hashing
    // family h_i = h1 XOR (i·h2) — two md5s per shingle instead of eight
    // (xor keeps the arithmetic overflow-free and engine-identical); min
    // per (doc, band). Map-side partial min makes the shuffle tiny (8
    // rows/doc) regardless of document length.
    Q("q28_minhash_sig",
      (s, d) => minhashSig(s, d)
        .select(col("doc_id"), col("band").cast("long").as("band"), col("minh"))
        .orderBy("doc_id", "band"),
      Some(s"WITH $shCte, $shhCte, $sigCte " +
        "SELECT doc_id, band, minh FROM sig ORDER BY doc_id, band")),

    // Full MinHash+LSH near-dup pipeline: signature → 4 bands × 2 rows →
    // band-key equality buckets → candidate pairs → exact Jaccard verify.
    // Scale: the only joins are (a) self-join on band-key (collision
    // buckets, ~dup pairs only) and (b) shingle intersection restricted to
    // candidates — never all-pairs. This is how dedup survives 100 TB.
    Q("q29_lsh_neardup",
      (s, d) => lshPairs(s, d).orderBy("ida", "idb"),
      Some(s"WITH $lshPairsCtes SELECT ida, idb, jacc FROM pairs ORDER BY ida, idb")),

    // Incremental dedup: the PRODUCTION daily-crawl flow — a new batch
    // (docs with doc_id ≡ 0 mod 10 stand in for today's arrivals) is
    // deduplicated AGAINST the standing corpus, not within itself. Two
    // tiers, exact-first (the cheap gate a pipeline runs before any
    // near-dup work): (1) content-hash equality against existing docs
    // (q27's hash), partner = min matching id; (2) verified LSH near-dup
    // (q29's θ=0.8), partner = best-Jaccard (ties → min id). Every batch
    // doc gets a verdict row: exact / near / fresh. Scale: the exact
    // tier shuffles 16-byte hashes once; the near tier is a pure FILTER
    // over the SHARED verified pair kernel — the incremental flow rides
    // the same materialized views a full-corpus dedup maintains (at
    // production the standing side is the persisted fingerprint index
    // the sink keeps, so a daily batch pays only its own signatures plus
    // bounded bucket probes — never a corpus rescan). The best-partner
    // window orders by (jacc DESC, dup_of) — unique per doc, no tie
    // (the q93 lesson).
    Q("q95_incremental_dedup",
      (s, d) => incrementalVerdicts(s, d).orderBy("doc_id"),
      Some(s"WITH $lshPairsCtes, $bvCte " +
        "SELECT doc_id, verdict, dup_of, jacc FROM bv ORDER BY doc_id")),

    // Incremental SEMANTIC dedup (r13b): q95's daily-crawl posture at
    // the embedding tier — each batch vector (vec_id ≡ 0 mod 10, the
    // q95 convention) gets a verdict against the STANDING corpus only:
    // 'near' with its best standing partner (in-cell cosine ≥ 0.35,
    // ties broken by partner id — the q93 unique-rank lesson) or
    // 'fresh'. SemDeDup-style embedding dedup run incrementally: the
    // batch must not pay a corpus rescan, and batch-internal duplicates
    // are NOT this query's job (a batch dedups against itself in its
    // own pass). In-cell by contract — the IVF posture: a production
    // probe visits the nearest cells; here `label` IS the cell, so a
    // cross-cell exact twin is invisible BY DESIGN (the recall audit
    // q98 prices exactly that miss). Scale: rides the shared retained
    // cellPairCos kernel (≥ threshold filter is contract-exact); the
    // cross-set gate and orientation are map-side; the best-partner
    // window shuffles only overlap-bounded pair rows on vec_id; the
    // batch spine joins planner-gated. At 100 TB the standing side is
    // the maintained kernel/index, and a daily batch pays its own
    // signatures plus bounded in-cell probes — never a rescan (the X97
    // posture, embedding tier).
    Q("q118_incremental_semantic",
      (s, d) => {
        // X103 seam (r14 — rehomed into cellPairCos itself, the
        // lshPairs/fpIndex pattern): with `spark.graft.vecIndex` set to
        // a FULL-corpus vector index, the kernel below is a parquet
        // read of the index's persisted retained pairs — no
        // re-quantize, no pair enumeration; value identity spec-pinned
        // (VectorIndexSpec). Without it, the in-session kernel. The
        // production probe of a REAL batch against a standing-only
        // index stays [[graft.sink.Sink.probeVectorIndex]] (the
        // sink/streaming tier) — this registry query is the AUDIT-tier
        // replay of the %10 convention over the corpus artifact.
        import org.apache.spark.sql.expressions.Window
        val isBatchA = col("ida") % 10 === 0
        val isBatchB = col("idb") % 10 === 0
        val w = Window.partitionBy("vec_id")
          .orderBy(col("cos").desc, col("near_of"))
        val near = cellPairCos(s, d)
          .filter(col("cos") >= CellPairRetainCos)
          .filter(isBatchA =!= isBatchB)
          .select(
            when(isBatchA, col("ida")).otherwise(col("idb")).as("vec_id"),
            when(isBatchA, col("idb")).otherwise(col("ida")).as("near_of"),
            col("cos"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1).drop("rn")
        embeddings(s, d).filter(col("vec_id") % 10 === 0)
          .select(col("vec_id"))
          .join(near, Seq("vec_id"), "left")
          .select(col("vec_id"),
            when(col("near_of").isNotNull, lit("near"))
              .otherwise(lit("fresh")).as("verdict"),
            col("near_of"), col("cos"))
          .orderBy("vec_id")
      },
      Some(s"WITH $cellPairCosCtes, " +
        "hits AS (SELECT CASE WHEN ida % 10 = 0 THEN ida ELSE idb END AS vec_id, " +
        "CASE WHEN ida % 10 = 0 THEN idb ELSE ida END AS near_of, cos FROM cpc " +
        "WHERE cos >= 0.35 AND ((ida % 10 = 0) <> (idb % 10 = 0))), " +
        "nr AS (SELECT vec_id, near_of, cos FROM (SELECT vec_id, near_of, cos, " +
        "row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, near_of) AS rn " +
        "FROM hits) WHERE rn = 1) " +
        "SELECT b.vec_id, " +
        "CASE WHEN near_of IS NOT NULL THEN 'near' ELSE 'fresh' END AS verdict, " +
        "near_of, cos " +
        "FROM (SELECT vec_id FROM embeddings WHERE vec_id % 10 = 0) b " +
        "LEFT JOIN nr ON b.vec_id = nr.vec_id " +
        "ORDER BY b.vec_id")),

    // SimHash: 60-bit near-dup fingerprint; one long per document,
    // computed ENTIRELY inside the document's row — r6 deleted the r5
    // (doc, word) explode and its groupBy exchange: nothing shuffles
    // before the presentation sort. The per-doc kernel (distinct the
    // tokens, md5 each, count the 60 bit positions, majority-vote) is one
    // tight-loop UDF over the token array — the old dotUdf precedent: the
    // declarative form needs 15 interpreted HOF lane-aggregates over a
    // bound hash array (HOFs never enter codegen), measured ~2× slower
    // than this loop calling the same native Md5PrefixLong.hash. Int
    // counters also remove the packed-lane 32767-distinct-words capacity
    // bound the aggregate form carried. bit_j majority ⟺ 2·popcount_j ≥
    // n_words; identical md5-derived integers on both engines keep the
    // DuckDB oracle unchanged.
    Q("q30_simhash",
      (s, d) => {
        // the kernel lives in Hashing.simhash60 (unit-tested null/empty
        // guard; Scala UDFs pass a null reference argument through to the
        // body, so a null token array must be handled there). Null texts
        // are dropped at the SCAN (pushed isnotnull filter, matching the
        // pre-r6 explode form which dropped them implicitly), NOT on the
        // UDF output: a post-project filter on a deterministic UDF column
        // gets pushed through the Project and runs the kernel twice/row.
        val simhashUdf = udf(graft.functions.Hashing.simhash60 _)
        docText(s, d)
          .filter(col("text").isNotNull)
          .select(col("doc_id"), simhashUdf(words(col("text"))).as("simhash"))
          .orderBy("doc_id")
      },
      Some("WITH toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '[ \\t\\n\\x0B\\f\\r]+') AS ws FROM documents), " +
        "w AS (SELECT DISTINCT doc_id, w FROM (SELECT doc_id, unnest(ws) AS w FROM toks)), " +
        s"h AS (SELECT doc_id, ${oMd5Long("w")} AS h FROM w), " +
        "b AS (SELECT doc_id, COUNT(*) AS n, " +
        (0 until 60).map(j => s"SUM((h >> $j) % 2) AS b$j").mkString(", ") +
        " FROM h GROUP BY doc_id) " +
        "SELECT doc_id, CAST(" +
        (0 until 60).map(j => s"(CASE WHEN b$j * 2 >= n THEN ${1L << j} ELSE 0 END)")
          .mkString(" + ") +
        " AS BIGINT) AS simhash FROM b ORDER BY doc_id")),

    // Exact n-gram Jaccard similarity via inverted shingle index — the
    // brute-force baseline (bounded by shared shingles, not all-pairs);
    // the LSH pipeline above is the scale path. The intersection pipeline
    // is the shared [[pairIntersections]]; only the denominator is q31's.
    Q("q31_ngram_jaccard",
      (s, d) => {
        pairIntersections(s, d)
          .select(col("ida"), col("idb"),
            (col("inter").cast("double") /
              (col("na") + col("nb") - col("inter"))).as("jacc"))
          .filter(col("jacc") >= 0.5)
          .orderBy("ida", "idb")
      },
      Some(s"WITH $shCte, $shhCte, $ivSzCte " +
        "SELECT ida, idb, CAST(inter AS DOUBLE) / (za.n + zb.n - inter) AS jacc " +
        "FROM iv JOIN sz za ON ida = za.doc_id JOIN sz zb ON idb = zb.doc_id " +
        "WHERE CAST(inter AS DOUBLE) / (za.n + zb.n - inter) >= 0.5 ORDER BY ida, idb")),

    // Shingle CONTAINMENT (asymmetric Jaccard): |A∩B| / |A| — the measure
    // that catches a document EMBEDDED in another (quotation, concatenated
    // crawls, boilerplate wrapping), which symmetric Jaccard misses when
    // the container is much larger. Same bounded [[pairIntersections]]
    // pipeline as q31 — only the denominators change, so the pair volume
    // stays governed by true shingle overlap; rows carry both directions
    // and surface when either side is ≥ 0.9 contained.
    Q("q76_containment",
      (s, d) => {
        pairIntersections(s, d)
          .select(col("ida"), col("idb"),
            (col("inter").cast("double") / col("na")).as("c_a_in_b"),
            (col("inter").cast("double") / col("nb")).as("c_b_in_a"))
          .filter(greatest(col("c_a_in_b"), col("c_b_in_a")) >= 0.9)
          .orderBy("ida", "idb")
      },
      Some(s"WITH $shCte, $shhCte, $ivSzCte " +
        "SELECT ida, idb, CAST(inter AS DOUBLE) / za.n AS c_a_in_b, " +
        "CAST(inter AS DOUBLE) / zb.n AS c_b_in_a " +
        "FROM iv JOIN sz za ON ida = za.doc_id JOIN sz zb ON idb = zb.doc_id " +
        "WHERE greatest(CAST(inter AS DOUBLE) / za.n, CAST(inter AS DOUBLE) / zb.n) >= 0.9 " +
        "ORDER BY ida, idb")),

    // Exact SUBSTRING-level dedup: maximal shared token RUNS across
    // documents — the dedup tier between document-level exact (q27/q70)
    // and set-based near-dup (q29/q76): it localizes the long verbatim
    // passage two otherwise-different documents share (the substring
    // dedup of Lee et al., "Deduplicating Training Data Makes Language
    // Models Better", re-expressed relationally). Each document is
    // profiled by its DISTINCT 8-token shingles at their FIRST position
    // (`posshingles` — first-occurrence dedup happens inside the
    // generator, map-side, so no min(pos) shuffle exists); the hash is
    // the 60-bit md5 prefix (8-byte shuffle keys, the shingleIndex
    // convention — a collision merges identically in both engines).
    // Shingles shared by more than 64 documents are dropped BEFORE the
    // self-join: boilerplate shingles are the quadratic hazard (df²
    // candidate pairs per key), and a df cap is the standard fingerprint-
    // dedup guard — runs through capped shingles split, identically in
    // the oracle. Matching shingles align on a DIAGONAL (pa − pb);
    // a maximal run is a gaps-and-islands group along one diagonal
    // (consecutive first positions in both documents ⇒ a shared run of
    // count + 7 tokens). The window partitions by (pair, diagonal) —
    // volume bounded by true shared shingles, never all-pairs — and runs
    // of ≥ 12 tokens surface, longest first. The (run_tokens, ida, idb,
    // start_a, start_b) sort key is unique (diag = start_a − start_b),
    // so the top-50 cut is deterministic.
    Q("q80_substring_runs",
      (s, d) => substringRuns(s, d)
        .orderBy(col("run_tokens").desc, col("ida"), col("idb"),
          col("start_a"), col("start_b"))
        .limit(50),
      Some(s"WITH $runsCtes " +
        "SELECT ida, idb, start_a, start_b, run_tokens FROM runs WHERE run_tokens >= 12 " +
        "ORDER BY run_tokens DESC, ida, idb, start_a, start_b LIMIT 50")),

    // Duplicate-token coverage — the corpus-level readout of substring
    // dedup (Lee et al. report "fraction of tokens inside a duplicated
    // substring" as the headline corpus-health metric): per document, the
    // share of its tokens covered by the UNION of its ≥ 12-token
    // cross-document shared runs (q80's kernel, unlimited). The interval
    // union is gaps-and-islands: per doc, order run intervals by start; a
    // row opens a new island when its start exceeds the running max end
    // of all prior intervals. Islands are overlap-free by construction,
    // so the island-length sum is the exact union size (adjacent islands
    // need no merge — disjoint lengths sum correctly). Scale: run volume
    // is q80's bounded story (df-capped shared shingles, never
    // all-pairs); both windows partition by doc_id (bounded by per-doc
    // run count); the token-count side is one map pass joined on doc_id.
    // Coverage is first-occurrence (q80 profiles each shingle at its
    // first in-doc position, so a doc-internal REPEAT of a shared
    // passage counts once) — internal repetition is q64's signal, not
    // dedup's; the oracle computes the identical semantics.
    Q("q93_dup_coverage",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        // both union branches project off the SHARED persisted run table
        // (one shingle self-join per session, not one per branch)
        val runs = substringRuns(s, d)
        // DISTINCT is load-bearing, not an optimization: the same (st, en)
        // interval arriving from two partners would TIE in the island
        // windows' (st, en) sort, and the two window passes (pmax, then
        // the island sum) may each break the tie in a different order —
        // measured in DuckDB: the pmax=NULL row sorting second splits one
        // island into two, double-counting the interval. A union of
        // intervals is a set; deduping makes (st, en) unique per doc, so
        // no tie exists in either engine.
        val iv = runs.select(col("ida").as("doc_id"), col("start_a").as("st"),
            (col("start_a") + col("run_tokens") - 1).as("en"))
          .union(runs.select(col("idb").as("doc_id"), col("start_b").as("st"),
            (col("start_b") + col("run_tokens") - 1).as("en")))
          .distinct()
        val w = Window.partitionBy("doc_id").orderBy("st", "en")
        val cov = iv
          .withColumn("pmax",
            max("en").over(w.rowsBetween(Window.unboundedPreceding, -1)))
          .withColumn("isl",
            sum(when(col("pmax").isNull || col("st") > col("pmax"), 1)
              .otherwise(0))
              .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .groupBy("doc_id", "isl")
          .agg(min("st").as("st"), max("en").as("en"))
          .groupBy("doc_id")
          .agg(sum(col("en") - col("st") + 1).cast("long").as("dup_tokens"))
        val nt = docTextLean(s, d).filter(col("text").isNotNull)
          .select(col("doc_id"),
            size(words(col("text"))).cast("long").as("n_tokens"))
        cov.join(nt, "doc_id")
          .select(col("doc_id"), col("n_tokens"), col("dup_tokens"),
            (col("dup_tokens").cast("double") / col("n_tokens")).as("dup_frac"))
          .orderBy("doc_id")
      },
      Some(s"WITH $runsCtes, " +
        "rr AS (SELECT * FROM runs WHERE run_tokens >= 12), " +
        "iv AS (SELECT DISTINCT doc_id, st, en FROM (" +
        "SELECT ida AS doc_id, start_a AS st, start_a + run_tokens - 1 AS en FROM rr " +
        "UNION ALL SELECT idb, start_b, start_b + run_tokens - 1 FROM rr)), " +
        "mx AS (SELECT doc_id, st, en, max(en) OVER (PARTITION BY doc_id ORDER BY st, en " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax FROM iv), " +
        "gi AS (SELECT doc_id, st, en, SUM(CASE WHEN pmax IS NULL OR st > pmax THEN 1 ELSE 0 END) " +
        "OVER (PARTITION BY doc_id ORDER BY st, en ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl FROM mx), " +
        "mer AS (SELECT doc_id, isl, min(st) AS st, max(en) AS en FROM gi GROUP BY 1, 2), " +
        "cov AS (SELECT doc_id, CAST(SUM(en - st + 1) AS BIGINT) AS dup_tokens FROM mer GROUP BY 1), " +
        "nt AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_tokens FROM toks) " +
        "SELECT cov.doc_id, n_tokens, dup_tokens, " +
        "CAST(dup_tokens AS DOUBLE) / n_tokens AS dup_frac " +
        "FROM cov JOIN nt ON cov.doc_id = nt.doc_id ORDER BY cov.doc_id")),

    // ==== similarity search ================================================

    // Brute-force cosine top-k against a query vector (the exactness
    // baseline). The query side is a broadcast of one row; the scan side
    // streams — no shuffle at all until the final top-k (TakeOrdered).
    Q("q32_cosine_topk",
      (s, d) => {
        // norms are per-vector, so compute them in the projection BEFORE
        // the pair stage — never per candidate pair
        val e = embeddings(s, d)
          .withColumn("qv", quantize(col("embedding")))
          .select(col("vec_id"), col("qv"), norm2Q(col("qv")).as("n2"))
        val q = e.filter(col("vec_id") === 0)
          .select(col("qv").as("query_v"), col("n2").as("qn2"))
        e.filter(col("vec_id") =!= 0)
          .crossJoin(broadcast(q))
          .select(col("vec_id"),
            cosQ(dotQ(col("qv"), col("query_v")), col("n2"), col("qn2")).as("cos"))
          .orderBy(col("cos").desc, col("vec_id").asc)
          .limit(10)
          .orderBy(col("cos").desc, col("vec_id").asc)
      },
      Some(s"WITH qv AS (SELECT $oQuant AS v FROM embeddings WHERE vec_id = 0), " +
        s"ev AS (SELECT vec_id, $oQuant AS v FROM embeddings WHERE vec_id <> 0), " +
        "qe AS (SELECT unnest(range(len(v))) AS pos, unnest(v) AS x FROM qv), " +
        "ee AS (SELECT vec_id, unnest(range(len(v))) AS pos, unnest(v) AS x FROM ev), " +
        "s AS (SELECT e.vec_id, CAST(SUM(e.x * q.x) AS BIGINT) AS dot, " +
        "CAST(SUM(e.x * e.x) AS BIGINT) AS n2 FROM ee e JOIN qe q USING (pos) GROUP BY e.vec_id), " +
        "qn AS (SELECT CAST(SUM(x * x) AS BIGINT) AS qn2 FROM qe) " +
        "SELECT vec_id, CAST(dot AS DOUBLE) / (sqrt(CAST(n2 AS DOUBLE)) * sqrt(CAST(qn2 AS DOUBLE))) AS cos " +
        "FROM s, qn ORDER BY cos DESC, vec_id LIMIT 10")),

    // IVF-style near-dup: `label` plays the coarse-quantizer cell; pairwise
    // cosine only *within* a cell. Scale: shuffle on cell id co-locates each
    // cell, pairs bounded by cell size; the self-join is block-SALTED so a
    // hot cell cannot serialize one reducer.
    Q("q33_ivf_neardup",
      (s, d) => cellPairCos(s, d)
        .filter(col("cos") >= CellPairRetainCos)
        .orderBy("ida", "idb"),
      Some(s"WITH $cellPairCosCtes " +
        "SELECT ida, idb, cell, cos FROM cpc WHERE cos >= 0.35 ORDER BY ida, idb")),

    // kNN-graph construction: each vector's top-3 in-cell neighbors by
    // cosine — the input artifact of graph-ANN index builds (NN-descent /
    // HNSW seeding) and of graph-based semantic dedup. Reuses the shared
    // salted IVF pair kernel, SYMMETRIZED (a kNN edge list is per-vector,
    // not per-unordered-pair), then one row_number window per vector.
    // Scale: pair volume is the q33 story (bounded by cell size, salted);
    // the symmetrize is a union of two projections of the SAME pair set
    // (no second join), and the top-k window shuffles each pair row once
    // on vec_id. Exact int64 dots → deterministic cosines → a stable
    // ranking (ties broken by neighbor id).
    Q("q85_knn_graph",
      (s, d) => {
        val pairs = cellPairCos(s, d)
        val sym = pairs
          .select(col("ida").as("vec_id"), col("idb").as("nbr"),
            col("cell"), col("cos"))
          .unionByName(pairs.select(col("idb").as("vec_id"),
            col("ida").as("nbr"), col("cell"), col("cos")))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("vec_id")
          .orderBy(col("cos").desc, col("nbr").asc)
        sym.withColumn("rnk", row_number().over(w))
          .filter(col("rnk") <= CellPairRetainTopK)
          .select(col("vec_id"), col("rnk"), col("nbr"), col("cell"), col("cos"))
          .orderBy("vec_id", "rnk")
      },
      Some(s"WITH $cellPairCosCtes, " +
        "sym AS (SELECT ida AS vec_id, idb AS nbr, cell, cos FROM cpc " +
        "UNION ALL SELECT idb, ida, cell, cos FROM cpc), " +
        "r AS (SELECT vec_id, nbr, cell, cos, " +
        "row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, nbr) AS rnk FROM sym) " +
        "SELECT vec_id, rnk, nbr, cell, cos FROM r WHERE rnk <= 3 ORDER BY vec_id, rnk")),

    // Random-hyperplane LSH signatures: 16 sign bits per vector, planes
    // derived from md5 parity (deterministic on both engines). Bucketing on
    // the signature is the ANN scale path: candidate generation becomes an
    // equi-join on `bucket`.
    Q("q34_lsh_embed_sig",
      // the ±1 hyperplane components depend only on (plane, pos): the sign
      // table is built once and broadcast rather than recomputing an md5
      // per (vector, pos, plane) row
      (s, d) => hyperBuckets(s, d, 16).orderBy("vec_id"),
      Some(s"WITH ev AS (SELECT vec_id, $oQuant AS v FROM embeddings), " +
        "ee AS (SELECT vec_id, unnest(range(len(v))) AS pos, unnest(v) AS x FROM ev), " +
        oHyperCte(16) +
        " SELECT vec_id, bucket FROM bk ORDER BY vec_id")),

    // ==== text analysis ====================================================

    // Language ID by stopword-profile scoring (n-gram heuristic family).
    // Pure map-side; the dictionaries broadcast as literals.
    Q("q35_lang_id",
      (s, d) => {
        val en = Seq("the", "a", "of", "and", "to", "in", "is")
        val de = Seq("der", "die", "das", "und", "ist", "ein")
        val fr = Seq("le", "la", "les", "et", "des", "un")
        val ws = col("ws") // bound column: the split runs once per row
        def score(dict: Seq[String]) =
          size(filter(ws, w => w.isInCollection(dict))).cast("double") / size(ws)
        documents(s, d)
          .withColumn("ws", words(col("text")))
          .select(col("doc_id"), col("lang").as("declared"),
            score(en).as("s_en"), score(de).as("s_de"), score(fr).as("s_fr"))
          .withColumn("predicted",
            when(col("s_en") >= col("s_de") && col("s_en") >= col("s_fr")
              && col("s_en") > 0, "en")
              .when(col("s_de") >= col("s_fr") && col("s_de") > 0, "de")
              .when(col("s_fr") > 0, "fr")
              .otherwise("und"))
          .orderBy("doc_id")
      },
      Some("SELECT doc_id, declared, s_en, s_de, s_fr, " +
        "CASE WHEN s_en >= s_de AND s_en >= s_fr AND s_en > 0 THEN 'en' " +
        "WHEN s_de >= s_fr AND s_de > 0 THEN 'de' " +
        "WHEN s_fr > 0 THEN 'fr' ELSE 'und' END AS predicted " +
        "FROM (SELECT doc_id, lang AS declared, " +
        "len(list_filter(ws, w -> w IN ('the','a','of','and','to','in','is')))::DOUBLE / len(ws) AS s_en, " +
        "len(list_filter(ws, w -> w IN ('der','die','das','und','ist','ein')))::DOUBLE / len(ws) AS s_de, " +
        "len(list_filter(ws, w -> w IN ('le','la','les','et','des','un')))::DOUBLE / len(ws) AS s_fr " +
        "FROM (SELECT doc_id, lang, regexp_split_to_array(trim(text), '[ \\t\\n\\x0B\\f\\r]+') AS ws FROM documents)) " +
        "ORDER BY doc_id")),

    // Quality scoring: length, lexical diversity, stopword ratio → one
    // composite in [0,1]. All ratios are int/int doubles — deterministic.
    // Kernel shared with q82 (keep-best dedup) via [[qualityFeatures]].
    Q("q36_quality_score",
      (s, d) => qualityFeatures(s, d).orderBy("doc_id"),
      Some(s"WITH $qualCte SELECT doc_id, n_tokens, ttr, stop_ratio, avg_wlen, score " +
        "FROM qual ORDER BY doc_id")),

    // Token counting: whitespace tokens + a BPE-ish regex segmentation
    // (letter runs / digit runs / single symbols), plus char/byte lengths.
    Q("q37_token_count",
      (s, d) => documents(s, d)
        .select(col("doc_id"),
          size(words(col("text"))).as("ws_tokens"),
          size(regexp_extract_all(lower(col("text")),
            lit("[a-z]+|[0-9]+|[^a-z0-9 \\t\\n\\x0B\\f\\r]"), lit(0))).as("bpe_tokens"),
          length(col("text")).as("n_chars"),
          expr("octet_length(text)").cast("long").as("n_bytes"))
        .orderBy("doc_id"),
      Some("SELECT doc_id, len(regexp_split_to_array(trim(text), '[ \\t\\n\\x0B\\f\\r]+')) AS ws_tokens, " +
        "len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 \\t\\n\\x0B\\f\\r]')) AS bpe_tokens, " +
        "length(text) AS n_chars, strlen(text) AS n_bytes " +
        "FROM documents ORDER BY doc_id")),

    // Document fingerprint: bottom-5 sketch of shingle hashes (a
    // winnowing-style content signature robust to local edits). Map-side
    // partial TOP-K via sort_array+slice keeps the shuffle at 5 hashes/doc.
    Q("q38_fingerprint",
      (s, d) => shingleIndex(s, d)
        .select(col("doc_id"), col("hex").as("h"))
        .groupBy("doc_id")
        .agg(md5(concat_ws("", slice(sort_array(collect_set(col("h"))), 1, 5)))
          .as("fingerprint"))
        .orderBy("doc_id"),
      Some(s"WITH $shCte, dh AS (SELECT DISTINCT doc_id, md5(shingle) AS h FROM sh), " +
        "rn AS (SELECT doc_id, h, row_number() OVER (PARTITION BY doc_id ORDER BY h) AS r FROM dh) " +
        "SELECT doc_id, md5(string_agg(h, '' ORDER BY h)) AS fingerprint " +
        "FROM rn WHERE r <= 5 GROUP BY doc_id ORDER BY doc_id")),

    // Rolling-hash winnowing fingerprints (Schleimer et al., SIGMOD'03):
    // O(n) Rabin–Karp + per-window minima, map-side via UDF. Not
    // SQL-expressible, so the oracle is a pinned VALUES list from a
    // verified sf0.01 run (the gate's SF; corpus frozen per TESTDATA.md);
    // the algorithmic guarantees are pinned by WinnowingSpec.
    Q("q50_winnow_fingerprint",
      (s, d) => {
        // one UDF returning both fields: computing count and digest via
        // separate UDFs would run the O(n) winnowing pass twice per row;
        // null text yields a null struct, like every other text operator
        val fp = udf((t: String) =>
          if (t == null) null
          else {
            val fps = graft.functions.Winnowing.fingerprints(t)
            (fps.size, graft.functions.Winnowing.digestOf(fps))
          })
        documents(s, d)
          .withColumn("fp", fp(col("text")))
          .select(col("doc_id"), col("fp._1").as("n_fingerprints"),
            col("fp._2").as("winnow_digest"))
          .orderBy("doc_id")
      },
      Some(Q.pinned("q50_oracle.sql"))),

    // ==== batch window analytics (events) ==================================

    // Tumbling 1-hour windows — the batch form of the Structured Streaming
    // windowed agg (same `window()` call works under readStream).
    Q("q39_tumbling_window",
      (s, d) => events(s, d)
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), Hashing.decSum(col("value")).as("sum_value"))
        .select(col("w.start").as("win_start"), col("event_type"), col("n"),
          col("sum_value"))
        .orderBy("win_start", "event_type"),
      Some("SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS win_start, event_type, " +
        "count(*) AS n, CAST(SUM(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS sum_value " +
        "FROM events GROUP BY 1, 2 ORDER BY win_start, event_type")),

    // Session windows (30-minute gap) per user, gaps-and-islands form:
    // lag → break flag → running-sum session id → (user, sid) aggregate.
    // The break test and running sum ride ONE in-partition sort on the
    // single user_id exchange, and the aggregate's (user_id, sid) keys
    // are a superset of that partitioning, so the whole query moves data
    // ONCE — where the built-in `session_window` aggregation plans the
    // UpdatingSessions machinery (an extra sort + merging-aggregate
    // stage) for its streaming-state generality batch never uses.
    // Measured (BASELINE.md r11, sf0.1; harness corrected r11 review —
    // the baseline arm constructs the built-in inline): 0.376 → 0.254 s
    // quiet / 0.643 → 0.453 s loaded, results bit-identical; the
    // remaining ~0.4 s bench figure is the exchange+window job
    // floor, BASELINE.md r11. The built-in is the form a streaming
    // session aggregation would need (with a watermark it is the only
    // shape whose state store merges late sessions); batch picks the
    // cheaper equivalent plan, the engine's usual liberty.
    Q("q40_session_window",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val wOrd = Window.partitionBy("user_id").orderBy("ts")
        val gap = unix_micros(col("ts")) -
          unix_micros(lag(col("ts"), 1).over(wOrd))
        events(s, d)
          .withColumn("brk",
            when(gap.isNull || gap >= 1800L * 1000000L, 1L).otherwise(0L))
          .withColumn("sid", sum("brk").over(
            wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .groupBy("user_id", "sid")
          .agg(min("ts").as("sess_start"), count(lit(1)).as("n_events"),
            Hashing.decSum(col("value")).as("sum_value"))
          .select(col("user_id"), col("sess_start"), col("n_events"),
            col("sum_value"))
          .orderBy("user_id", "sess_start")
      },
      Some("WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events), " +
        "l AS (SELECT user_id, ts, value, CASE WHEN lag(ts) OVER w IS NULL " +
        "OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS brk " +
        "FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)), " +
        "g AS (SELECT user_id, ts, value, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts " +
        "ROWS UNBOUNDED PRECEDING) AS sid FROM l) " +
        "SELECT user_id, MIN(ts) AS sess_start, COUNT(*) AS n_events, " +
        "CAST(SUM(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS sum_value " +
        "FROM g GROUP BY user_id, sid ORDER BY user_id, sess_start")),

    // Sliding windows (1 hour every 30 min): each event lands in exactly
    // two windows; Spark's `window(slide)` generator vs an explicit
    // 2-bucket unnest in the oracle.
    Q("q41_sliding_window",
      (s, d) => events(s, d)
        .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("w.start").as("win_start"), col("event_type"), col("n"))
        .orderBy("win_start", "event_type"),
      Some("WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS ts, event_type FROM events), " +
        "w AS (SELECT make_timestamp((epoch_us(ts) // 1800000000 - k) * 1800000000) AS win_start, " +
        "event_type FROM e, unnest([0, 1]) AS u(k)) " +
        "SELECT win_start, event_type, count(*) AS n FROM w " +
        "GROUP BY win_start, event_type ORDER BY win_start, event_type")),

    // ==== multimodal plumbing =============================================

    // Opaque binary payload + typed metadata: the engine treats media as
    // `binary` columns; metadata (byte length, content digest, magic-byte
    // prefix) is computed without decoding. ASCII corpus ⇒ char==byte for
    // the oracle's substr.
    Q("q42_binary_meta",
      (s, d) => documents(s, d)
        .select(col("doc_id"), col("text").cast("binary").as("payload"))
        .select(col("doc_id"),
          length(col("payload")).as("n_bytes"),
          md5(col("payload")).as("digest"),
          lower(hex(expr("substring(payload, 1, 8)"))).as("magic"))
        .orderBy("doc_id"),
      Some("SELECT doc_id, strlen(text) AS n_bytes, md5(text) AS digest, " +
        "lower(hex(encode(substr(text, 1, 8)))) AS magic FROM documents ORDER BY doc_id")),

    // Decode/feature-extract over binary payloads via typed mapPartitions
    // (the Scala analog of mapInPandas batches; decode itself is a
    // deterministic stub — see graft.multimodal). The stub's features
    // (byte histogram + mean) ARE SQL-expressible on an ASCII corpus
    // (char == byte, so ord(substr) is the byte value), which turns the
    // whole mapPartitions plumbing into an oracle-checked operator;
    // per-batch semantics are additionally covered by MultimodalSpec.
    Q("q43_multimodal_decode",
      (s, d) => graft.multimodal.Multimodal.featureQuery(s, d),
      Some("WITH b AS (SELECT doc_id, ord(substr(text, CAST(i AS INTEGER), 1)) AS byte " +
        "FROM documents, unnest(range(1, strlen(text) + 1)) AS u(i)), " +
        "hc AS (SELECT doc_id, byte % 16 AS bucket, count(*) AS n FROM b GROUP BY 1, 2), " +
        "hist AS (SELECT d.doc_id, g.bucket, coalesce(hc.n, 0) AS n " +
        "FROM documents d CROSS JOIN unnest(range(0, 16)) AS g(bucket) " +
        "LEFT JOIN hc ON hc.doc_id = d.doc_id AND hc.bucket = g.bucket), " +
        "hs AS (SELECT doc_id, string_agg(n::VARCHAR, ',' ORDER BY bucket) AS hist_csv FROM hist GROUP BY doc_id), " +
        "mb AS (SELECT doc_id, CAST(SUM(byte) AS DOUBLE) / COUNT(*) AS mean_byte FROM b GROUP BY doc_id) " +
        "SELECT d.doc_id, 'text/plain' AS media_type, strlen(d.text) AS n_bytes, " +
        "coalesce(mb.mean_byte, 0.0) AS mean_byte, hs.hist_csv " +
        "FROM documents d LEFT JOIN mb USING (doc_id) JOIN hs USING (doc_id) " +
        "ORDER BY doc_id")),

    // Resize: fixed-width nearest-neighbor byte downsample through the
    // same typed mapPartitions codec seam (stub scaler, real plumbing —
    // see graft.multimodal.Multimodal.resizeStub). Byte-exact oracle via
    // the q42/q43 ASCII char==byte identity: the thumbnail's 32 sampled
    // bytes are 32 substr() picks, hex-compared.
    Q("q62_media_resize",
      (s, d) => graft.multimodal.Multimodal.resizeQuery(s, d),
      Some("WITH t AS (SELECT doc_id, text, strlen(text) AS n FROM documents WHERE text IS NOT NULL) " +
        "SELECT doc_id, n AS n_bytes, lower(hex(encode(" +
        (0 until 32).map(j => s"substr(text, ($j * n) // 32 + 1, 1)")
          .mkString(" || ") +
        "))) AS thumb_hex FROM t ORDER BY doc_id")),

    // Frame-sample: k uniform-stride fixed-size windows per payload — the
    // video-frame analog of resize, a typed 1→N mapPartitions stage
    // (stub demuxer, real plumbing). Window arithmetic matches SQL
    // substring exactly (truncated/empty past the end), so every frame's
    // digest is oracle-checked.
    Q("q63_frame_sample",
      (s, d) => graft.multimodal.Multimodal.frameSampleQuery(s, d),
      Some("WITH t AS (SELECT doc_id, text, strlen(text) AS n FROM documents WHERE text IS NOT NULL), " +
        "f AS (SELECT doc_id, k AS frame_idx, " +
        "substr(text, CAST(k * greatest(n // 4, 1) + 1 AS INTEGER), 16) AS frame " +
        "FROM t, unnest(range(0, 4)) AS u(k)) " +
        "SELECT doc_id, frame_idx, strlen(frame) AS n_frame, md5(frame) AS digest " +
        "FROM f ORDER BY doc_id, frame_idx")),

    // Repetition-based quality signals (the Gopher-rule family): the
    // fraction of tokens belonging to words that repeat within the
    // document, and the share of the most frequent bigram among all
    // bigrams — the standard "degenerate/templated text" filters a
    // training pipeline applies after the q36 surface statistics. One
    // primitive-loop kernel per document (two small hash maps), counts
    // out as exact integers, fractions formed as integer-ratio doubles —
    // bit-stable across engines. Map-side except the presentation sort.
    Q("q64_repetition",
      (s, d) => {
        val repUdf = udf((arr: Array[String]) => {
          if (arr == null) Array(0L, 0L, 0L, 0L)
          else {
            val wc = new scala.collection.mutable.HashMap[String, Int]()
            arr.foreach(w => wc.update(w, wc.getOrElse(w, 0) + 1))
            var rep = 0L
            wc.valuesIterator.foreach(n => if (n > 1) rep += n)
            val bc = new scala.collection.mutable.HashMap[String, Int]()
            var i = 0
            while (i < arr.length - 1) {
              val b = arr(i) + " " + arr(i + 1)
              bc.update(b, bc.getOrElse(b, 0) + 1)
              i += 1
            }
            val top = if (bc.isEmpty) 0L else bc.valuesIterator.max.toLong
            Array(arr.length.toLong, math.max(arr.length - 1, 0).toLong,
              top, rep)
          }
        })
        docText(s, d)
          .filter(col("text").isNotNull)
          .select(col("doc_id"), repUdf(words(col("text"))).as("c"))
          .select(col("doc_id"),
            col("c").getItem(0).as("n_words"),
            (col("c").getItem(3).cast("double") / col("c").getItem(0))
              .as("rep_word_frac"),
            when(col("c").getItem(1) === 0, lit(0.0))
              .otherwise(col("c").getItem(2).cast("double") / col("c").getItem(1))
              .as("top_bigram_frac"))
          .orderBy("doc_id")
      },
      Some("WITH toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '[ \\t\\n\\x0B\\f\\r]+') AS ws FROM documents), " +
        "w AS (SELECT doc_id, unnest(ws) AS w FROM toks), " +
        "wc AS (SELECT doc_id, w, count(*) AS n FROM w GROUP BY 1, 2), " +
        "rep AS (SELECT doc_id, sum(CASE WHEN n > 1 THEN n ELSE 0 END) AS rep_n, CAST(sum(n) AS BIGINT) AS n_words FROM wc GROUP BY 1), " +
        "bg AS (SELECT doc_id, ws[i] || ' ' || ws[i+1] AS b FROM toks, unnest(range(1, len(ws))) AS t(i)), " +
        "bc AS (SELECT doc_id, b, count(*) AS n FROM bg GROUP BY 1, 2), " +
        "top AS (SELECT doc_id, max(n) AS top_n, sum(n) AS n_bigrams FROM bc GROUP BY 1) " +
        "SELECT r.doc_id, r.n_words, CAST(rep_n AS DOUBLE) / n_words AS rep_word_frac, " +
        "coalesce(CAST(top_n AS DOUBLE) / nullif(n_bigrams, 0), 0.0) AS top_bigram_frac " +
        "FROM rep r LEFT JOIN top USING (doc_id) ORDER BY doc_id")),

    // Full Gopher document-shape rule set (Rae et al. 2021, Appendix A —
    // the MassiveWeb quality filter), complementing q64's repetition
    // signals: word-count bounds, mean word length in [3,10], symbol-to-
    // word ratio ('#' chars + non-overlapping '...' runs + '…'), the
    // fraction of lines starting with a bullet / ending with an ellipsis,
    // the fraction of words carrying an alphabetic character, and the
    // 8-stopword presence gate (≥2 of the/be/to/of/and/that/have/with).
    // Entirely map-side: one pass over the word and line arrays with
    // codegen-friendly higher-order functions (no UDF); every count is an
    // exact integer and every fraction an integer-ratio double, so both
    // engines are bit-identical (the q64 convention — denominators ≥1 by
    // construction since splitting any non-null string yields ≥1
    // element). At 100 TB this is an embarrassingly parallel scan; the
    // presentation sort is the only exchange.
    Q("q100_gopher_rules",
      (s, d) => gopherFeatures(s, d).orderBy("doc_id"),
      Some(s"WITH $gopherCte SELECT * FROM goph ORDER BY doc_id")),

    // Fixed-size overlapping chunk windows (64-token chunks, stride 48 —
    // 16-token overlap): the document-splitting step a RAG index or a
    // long-context training pipeline runs before embedding/packing.
    // Entirely map-side: starts = sequence(0, n-1, stride) exploded on
    // the document's own row, chunk = slice of the bound token array,
    // digest = md5 of the space-joined chunk so every chunk is
    // cross-engine content-pinned (the q43 digest convention).
    // chunk_idx = start/stride (exact — starts are stride multiples) so
    // both engines derive the ordinal from the data, not from explode
    // order. At 100 TB this is an embarrassingly parallel generator with
    // ~n/stride output rows per doc; the presentation sort is the only
    // exchange.
    Q("q105_chunk_windows",
      (s, d) => {
        val ws = col("ws")
        val chunk = slice(ws, col("start") + 1, lit(64))
        docTextLean(s, d).filter(col("text").isNotNull)
          .withColumn("ws", words(col("text")))
          .select(col("doc_id"), ws,
            explode(sequence(lit(0), size(ws) - 1, lit(48))).as("start"))
          .select(col("doc_id"),
            (col("start") / lit(48)).cast("long").as("chunk_idx"),
            size(chunk).cast("long").as("n_tokens"),
            md5(array_join(chunk, " ")).as("digest"))
          .orderBy("doc_id", "chunk_idx")
      },
      Some("WITH t AS (SELECT doc_id, " +
        "regexp_split_to_array(trim(text), '[ \\t\\n\\x0B\\f\\r]+') AS ws " +
        "FROM documents WHERE text IS NOT NULL), " +
        "c AS (SELECT doc_id, ws, unnest(range(0, len(ws), 48)) AS start FROM t), " +
        "k AS (SELECT doc_id, start // 48 AS chunk_idx, " +
        "list_slice(ws, start + 1, start + 64) AS chunk FROM c) " +
        "SELECT doc_id, chunk_idx, CAST(len(chunk) AS BIGINT) AS n_tokens, " +
        "md5(array_to_string(chunk, ' ')) AS digest " +
        "FROM k ORDER BY doc_id, chunk_idx")),

    // Temperature-balanced language resampling (the mT5/UniMax multilingual
    // mixing step): token mass per language, target share ∝ mass^(1/τ)
    // with τ = 2 — deliberately, because mass^(1/2) is sqrt(), the ONE
    // power correctly rounded by every libm (the q52 lesson bars pow/ln;
    // τ=2 is also the common published choice) — and a deterministic
    // md5-coin keep at rate sqrt(min_mass/mass_l), so the
    // smallest language keeps 100% and each larger one is downsampled
    // toward the tempered share. The keep threshold is the repo's 2^20
    // fixed-point convention: floor(rate·2^20) compared against an
    // integer coin — both engines floor the SAME double, so acceptance
    // is bit-identical. Scale: one partial-agg pass for masses
    // (|langs| rows — a bounded code domain, so its broadcast back is
    // the q83 stratum argument), one map-side keep pass, one final
    // |langs|-group agg; the doc-level corpus is touched exactly twice
    // and the persisted base frame makes that one scan.
    Q("q104_language_temperature",
      (s, d) => {
        val base = graft.util.Caches.transientPersist(
          documents(s, d).filter(col("text").isNotNull)
            .select(col("doc_id"), col("lang"),
              size(words(col("text"))).cast("long").as("n_tok"),
              pmod(Hashing.md5Long(
                concat(col("doc_id").cast("string"), lit(":lt"))),
                lit(1048576L)).as("coin")))
        val mass = base.groupBy("lang")
          .agg(sum("n_tok").as("mass"), count(lit(1)).as("n_docs"))
        val rated = mass
          .crossJoin(broadcast(mass.agg(min("mass").as("min_mass"))))
          .withColumn("rate",
            sqrt(col("min_mass").cast("double") / col("mass")))
          .withColumn("thr", floor(col("rate") * lit(1048576.0)))
        base.join(broadcast(rated), "lang")
          .withColumn("keep", (col("coin") < col("thr")).cast("long"))
          .groupBy("lang")
          .agg(first("n_docs").as("n_docs"), first("mass").as("mass"),
            first("rate").as("rate"),
            sum("keep").as("n_kept"),
            sum(col("keep") * col("n_tok")).as("kept_mass"))
          .orderBy("lang")
      },
      Some("WITH t AS (SELECT doc_id, lang, " +
        "CAST(len(regexp_split_to_array(trim(text), '[ \\t\\n\\x0B\\f\\r]+')) AS BIGINT) AS n_tok, " +
        s"${oMd5Long("CAST(doc_id AS VARCHAR) || ':lt'")} % 1048576 AS coin " +
        "FROM documents WHERE text IS NOT NULL), " +
        "m AS (SELECT lang, CAST(sum(n_tok) AS BIGINT) AS mass, count(*) AS n_docs FROM t GROUP BY 1), " +
        "mm AS (SELECT min(mass) AS min_mass FROM m), " +
        "r AS (SELECT lang, mass, n_docs, " +
        "sqrt(CAST(min_mass AS DOUBLE) / mass) AS rate, " +
        "CAST(floor(sqrt(CAST(min_mass AS DOUBLE) / mass) * 1048576.0) AS BIGINT) AS thr " +
        "FROM m, mm) " +
        "SELECT t.lang, r.n_docs, r.mass, r.rate, " +
        "CAST(sum(CASE WHEN coin < thr THEN 1 ELSE 0 END) AS BIGINT) AS n_kept, " +
        "CAST(sum(CASE WHEN coin < thr THEN n_tok ELSE 0 END) AS BIGINT) AS kept_mass " +
        "FROM t JOIN r USING (lang) GROUP BY 1, 2, 3, 4 ORDER BY 1")),

    // PII scrubbing: detect + redact emails, IPv4s, phone numbers — the
    // compliance pass every training corpus runs before release. Counts
    // come off the ORIGINAL text per class; redaction replaces each class
    // with a fixed tag in one deterministic order (email → IP → phone,
    // identical in both engines), and the output carries md5(redacted) so
    // cross-engine parity is pinned on EVERY document even where the
    // corpus contains no PII (the q70 discipline). Patterns use only
    // syntax Java regex and RE2 agree on: explicit classes (never \d/\b —
    // those differ or carry Unicode baggage), {m,n}, non-capturing
    // groups; both engines match leftmost-first, so alternation order is
    // part of the contract. NULL text propagates NULL counts/hash in both
    // engines (the q37 convention). Pure map-side kernel: scan → project,
    // nothing shuffles before the presentation sort — at 100 TB this runs
    // at read bandwidth.
    Q("q77_pii_scrub",
      // the kernel lives in Streaming.piiScrub — the SAME code streams
      // append-mode (batch-equals-stream pinned in StreamingSpec); batch
      // adds only the presentation sort
      (s, d) => graft.streaming.Streaming.piiScrub(docText(s, d))
        .orderBy("doc_id"),
      Some("SELECT doc_id, " +
        "len(regexp_extract_all(text, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+[.][a-zA-Z]{2,}')) AS n_email, " +
        "len(regexp_extract_all(text, '(?:[0-9]{1,3}[.]){3}[0-9]{1,3}')) AS n_ip, " +
        "len(regexp_extract_all(text, '(?:[+][0-9]{7,15})|(?:[0-9]{3}-[0-9]{3}-[0-9]{4})')) AS n_phone, " +
        "md5(regexp_replace(regexp_replace(regexp_replace(text, " +
        "'[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+[.][a-zA-Z]{2,}', '<EMAIL>', 'g'), " +
        "'(?:[0-9]{1,3}[.]){3}[0-9]{1,3}', '<IP>', 'g'), " +
        "'(?:[+][0-9]{7,15})|(?:[0-9]{3}-[0-9]{3}-[0-9]{4})', '<PHONE>', 'g')) AS clean_hash " +
        "FROM documents ORDER BY doc_id")),

    // Decontamination: flag every training document that shares a shingle
    // with the held-out eval split (doc_id % 50 == 0 — the benchmark set a
    // real pipeline must scrub before training). Classic inverted-index
    // shape over the SHARED shingle index: the eval side collapses to its
    // distinct 8-byte h1 set (in production a benchmark suite — tiny next
    // to a 100 TB corpus, so the join broadcasts; here AQE decides), the
    // train side equi-joins on h1, and the per-doc hit count comes back
    // with one groupBy on the index's own doc_id partitioning. No pair
    // ever forms outside a genuinely shared shingle — candidate volume is
    // bounded by true overlap, not corpus size.
    Q("q65_decontaminate",
      (s, d) => contaminationHits(s, d).orderBy("doc_id"),
      Some(s"WITH $shCte, $shhCte, " +
        "ev AS (SELECT DISTINCT h1 FROM shh WHERE doc_id % 50 = 0) " +
        "SELECT t.doc_id, count(DISTINCT t.h1) AS n_hits " +
        "FROM shh t JOIN ev USING (h1) WHERE t.doc_id % 50 <> 0 " +
        "GROUP BY 1 ORDER BY 1")),

    // Sequence packing: concatenate the corpus in doc_id order and cut it
    // into fixed 256-token training sequences — every document lands in
    // the sequence where its first token falls. The global running token
    // total is a DISTRIBUTED prefix sum, not a Window.orderBy (which
    // plans a single-partition sort — the textbook scale killer): bucket
    // on pid = doc_id DIV 1024 (a pure function of the key — cheap,
    // deterministic, recompute-safe), run the within-bucket running
    // total in parallel, and add each bucket's start offset from a
    // bucket-count-sized side table joined back broadcast. Only that
    // tiny offsets table is ever single-partition.
    Q("q66_sequence_pack",
      (s, d) => packSequences(
        documents(s, d).select(col("doc_id"), col("text"))
          .filter(col("text").isNotNull),
        size(words(col("text"))).cast("bigint"), 256),
      Some("WITH t AS (SELECT doc_id, " +
        "CAST(len(regexp_split_to_array(trim(text), '[ \\t\\n\\x0B\\f\\r]+')) AS BIGINT) AS n " +
        "FROM documents WHERE text IS NOT NULL), " +
        "c AS (SELECT doc_id, n, CAST(coalesce(sum(n) OVER " +
        "(ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cb FROM t) " +
        "SELECT cb // 256 AS seq_id, count(*) AS n_docs, " +
        "CAST(sum(n) AS BIGINT) AS n_tokens, " +
        "min(doc_id) AS first_doc, max(doc_id) AS last_doc " +
        "FROM c GROUP BY 1 ORDER BY 1")),

    // BPE learn + APPLY + pack: the stage a real tokenizer pipeline runs
    // after q78's single merge-round statistic — four driver-loop merge
    // rounds ([[bpeLearnApply]]: each round re-runs q78's ngrams pair
    // kernel, takes the top pair by (count DESC, pair ASC) — a one-row
    // collect — and re-tokenizes the corpus left-to-right
    // non-overlapping), then the MERGED token counts feed the same
    // distributed-prefix-sum packer as q66 ([[packSequences]]) — the
    // whole post-tokenizer data path, BPE tokens in place of whitespace
    // tokens. Every step is deterministic (no RNG, total tie-break
    // order), so the sf0.01 output is frozen and the oracle is pinned
    // VALUES (the q75 pattern; DuckDB cannot express the iterative
    // left-to-right merge loop relationally) — mergePair's semantics are
    // unit-pinned in BpeSpec, and the pin was generated by
    // tools/pin_oracle.py from a hand-verified run. Scale: rounds × (one
    // pair-count shuffle + one map) with at most two corpus-token caches
    // live; the merge list a production run would persist is the 4-row
    // driver state.
    Q("q81_bpe_apply_pack",
      (s, d) => packSequences(
        bpeLearnApply(s, d, 4), size(col("toks")).cast("bigint"), 256),
      Some(Q.pinned("q81_oracle.sql")),
      // iterative driver loop against a pinned-VALUES oracle (DuckDB
      // executes no equivalent work) — bench=false keeps the
      // bench/baseline ratio comparable, the q75 convention
      bench = false),

    // Domain-mixture sampling: re-weight the corpus per source domain with
    // a DETERMINISTIC Bernoulli — keep a document iff its 60-bit md5 coin
    // lands under the domain's target rate. Hash-threshold sampling is
    // the production shape (reproducible across runs/engines, no RNG
    // state, pure map-side: one partial-agg shuffle of |domains| groups);
    // the target rate derives from the source id so no domain list is
    // hardcoded. The same md5-derived coin makes it oracle-exact.
    // ENFORCES the corpus contract's 'src<N>' source naming (TESTDATA.md)
    // on BOTH engines: DuckDB's strict cast errors on a non-numeric
    // suffix, and the Spark side raise_errors on anything outside the
    // pattern instead of silently NULL-casting (non-ANSI) — a corpus
    // outside the contract aborts loudly in either engine rather than
    // diverging at the hash gate (PipelineEdgeSpec pins the abort).
    Q("q67_domain_mix",
      (s, d) => {
        // no fan-out: one md5 per row is far below the exchange's cost
        // (the docTextLean rule), and the partial agg absorbs the rest
        val docs = documents(s, d).select(col("doc_id"), col("source"))
        val coin = pmod(Hashing.md5Long(
          concat(col("doc_id").cast("string"), lit(":"), col("source"))), lit(1000L))
        // {1,9}: nine digits stay inside int32, so the guarded cast can
        // never overflow-NULL (a 10+-digit N raise_errors here and
        // overflow-errors in DuckDB — loud in both engines)
        val srcN = when(col("source").rlike("^src[0-9]{1,9}$"),
          expr("CAST(substring(source, 4) AS INT)"))
          .otherwise(raise_error(concat(
            lit("q67_domain_mix: source violates the src<N> corpus contract: "),
            col("source"))).cast("int"))
        val permille = lit(100) + lit(180) * pmod(srcN, lit(5))
        docs
          .withColumn("tp", permille)
          .withColumn("keep", (coin < col("tp")).cast("bigint"))
          .groupBy("source")
          .agg(first(col("tp")).as("target_permille"),
            count(lit(1)).as("n_total"),
            sum("keep").as("n_kept"))
          .withColumn("kept_rate",
            col("n_kept").cast("double") / col("n_total"))
          .orderBy("source")
      },
      Some("WITH t AS (SELECT doc_id, source, " +
        s"${oMd5Long("CAST(doc_id AS VARCHAR) || ':' || source")} % 1000 AS coin, " +
        "100 + 180 * (CAST(substr(source, 4) AS INTEGER) % 5) AS tp FROM documents) " +
        "SELECT source, tp AS target_permille, count(*) AS n_total, " +
        "CAST(sum(CASE WHEN coin < tp THEN 1 ELSE 0 END) AS BIGINT) AS n_kept, " +
        "CAST(sum(CASE WHEN coin < tp THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS kept_rate " +
        "FROM t GROUP BY 1, 2 ORDER BY 1")),

    // Vocabulary top-k: the corpus-level heavy hitters (tokenizer/vocab
    // building), off the SHARED term-frequency index (r10 — the r9 form
    // paid its own tokenize pass): per-doc counts already collapsed
    // map-side inside the index's generator, the corpus sum rides the
    // index's term partitioning with NO exchange of its own, and the
    // final top-100 is a TakeOrdered (per-partition heads merged on the
    // driver), not a global sort. (count DESC, word ASC) makes the cut
    // deterministic.
    Q("q69_vocab_topk",
      (s, d) => termFreq(s, d).filter(col("g") === 1)
        .select(col("term").as("word"), col("cf").as("n"))
        .distinct()
        .orderBy(col("n").desc, col("word").asc)
        .limit(100),
      Some("WITH toks AS (SELECT regexp_split_to_array(trim(text), '[ \\t\\n\\x0B\\f\\r]+') AS ws " +
        "FROM documents WHERE text IS NOT NULL), " +
        "w AS (SELECT unnest(ws) AS word FROM toks) " +
        "SELECT word, count(*) AS n FROM w " +
        "GROUP BY 1 ORDER BY n DESC, word ASC LIMIT 100")),

    // One BPE merge iteration: corpus-wide adjacent-token-pair counts —
    // the statistic a tokenizer trainer maximizes each merge round (q69's
    // vocabulary counterpart one order up). Pair rows are the SHARED
    // term-frequency index's g=2 tier (r10; the history of this path:
    // the first zip_with formulation paid an interpreted HOF lambda per
    // pair, ~3× slower than the r6 ngrams generator, which in turn paid
    // a per-query tokenize pass the shared index now amortizes): per-doc
    // multiplicities collapsed map-side inside the index's generator,
    // the corpus sum rides the index's term partitioning with no
    // exchange of its own, and the top-50 is a TakeOrdered. The cut and
    // sort key is (n DESC, pair-string ASC): tokens cannot contain
    // whitespace, so the "w1 w2" string biject with the (w1, w2) tuple
    // and both engines order by the same key (the string order differs
    // from the tuple order only for sub-0x20 control chars inside a
    // token, and then identically in both engines). w1/w2 split off the
    // 50 surviving pairs after the cut.
    Q("q78_bpe_merge_pairs",
      (s, d) => termFreq(s, d).filter(col("g") === 2)
        .select(col("term").as("pair"), col("cf").as("n"))
        .distinct()
        .orderBy(col("n").desc, col("pair").asc)
        .limit(50)
        .select(expr("split_part(pair, ' ', 1)").as("w1"),
          expr("split_part(pair, ' ', 2)").as("w2"),
          col("n")),
      Some("WITH toks AS (SELECT regexp_split_to_array(trim(text), '[ \\t\\n\\x0B\\f\\r]+') AS ws " +
        "FROM documents WHERE text IS NOT NULL), " +
        "p AS (SELECT ws[i] || ' ' || ws[i+1] AS pair FROM toks, unnest(range(1, len(ws))) AS t(i) WHERE len(ws) >= 2), " +
        "g AS (SELECT pair, count(*) AS n FROM p GROUP BY 1 ORDER BY n DESC, pair LIMIT 50) " +
        "SELECT split_part(pair, ' ', 1) AS w1, split_part(pair, ' ', 2) AS w2, n " +
        "FROM g ORDER BY n DESC, pair")),

    // Bigram collocation mining by LIFT — n12·N / (n1·n2), PMI's
    // argument without the log (log is not identically rounded across
    // libms, so ranking by the exact-rational lift keeps the operator
    // hash-comparable; the log is monotone, so the RANKING is PMI's) —
    // the word2phrase-style phrase detector a tokenizer pipeline runs
    // before vocabulary building. Composes the corpus statistics already
    // proven out: ngrams multiplicity pairs (q78) + unigram counts
    // (q69), both partial-agged before their one shuffle. The unigram
    // joins carry NO broadcast hint: the vocabulary table is unbounded
    // at corpus scale (hundreds of millions of distinct tokens on a
    // web corpus — typo/unicode tail), so a forced broadcast — which
    // Spark honors regardless of size — would OOM a 100 TB run; the
    // planner/AQE picks broadcast when the size estimate actually fits
    // and a shuffle join otherwise, and the join itself prunes uni to
    // the words present in the support-filtered pairs. Only the 1-row
    // token total keeps an explicit broadcast (genuinely bounded).
    // Lift factors are cast to double BEFORE multiplying, in both
    // engines: at corpus scale n12*n_tok and n1*n2 overflow int64
    // (non-ANSI Spark would wrap silently while DuckDB errors — a
    // silent cross-engine divergence); double multiply/divide is
    // IEEE-754-identical across engines, so hashes still match.
    Q("q79_bigram_lift",
      (s, d) => {
        // both corpus statistics (unigram counts, pair counts) derive
        // from the SHARED term-frequency index (r10) — one tokenize pass
        // per session, and both groupBys ride the index's term
        // partitioning with no exchange of their own
        val tfk = termFreq(s, d)
        val uni = tfk.filter(col("g") === 1)
          .select(col("term").as("w"), col("cf").as("n")).distinct()
        val tot = uni.agg(sum("n").cast("bigint").as("n_tok"))
        val pairs = tfk.filter(col("g") === 2)
          .select(col("term").as("pair"), col("cf").as("n12")).distinct()
          .filter(col("n12") >= 3)
          .select(expr("split_part(pair, ' ', 1)").as("w1"),
            expr("split_part(pair, ' ', 2)").as("w2"), col("n12"))
        pairs
          .join(uni.select(col("w").as("w1"), col("n").as("n1")), "w1")
          .join(uni.select(col("w").as("w2"), col("n").as("n2")), "w2")
          .crossJoin(broadcast(tot))
          .select(col("w1"), col("w2"), col("n12"), col("n1"), col("n2"),
            ((col("n12").cast("double") * col("n_tok").cast("double")) /
              (col("n1").cast("double") * col("n2").cast("double"))).as("lift"))
          .orderBy(col("lift").desc, col("w1").asc, col("w2").asc)
          .limit(50)
      },
      Some("WITH toks AS (SELECT regexp_split_to_array(trim(text), '[ \\t\\n\\x0B\\f\\r]+') AS ws " +
        "FROM documents WHERE text IS NOT NULL), " +
        "wu AS (SELECT unnest(ws) AS w FROM toks), " +
        "u AS (SELECT w, count(*) AS n FROM wu GROUP BY 1), " +
        "t AS (SELECT CAST(sum(n) AS BIGINT) AS n_tok FROM u), " +
        "p AS (SELECT ws[i] || ' ' || ws[i+1] AS pair FROM toks, unnest(range(1, len(ws))) AS tt(i) WHERE len(ws) >= 2), " +
        "pc AS (SELECT pair, count(*) AS n12 FROM p GROUP BY 1 HAVING count(*) >= 3), " +
        "pp AS (SELECT split_part(pair, ' ', 1) AS w1, split_part(pair, ' ', 2) AS w2, n12 FROM pc) " +
        "SELECT w1, w2, n12, u1.n AS n1, u2.n AS n2, " +
        "(CAST(n12 AS DOUBLE) * CAST(n_tok AS DOUBLE)) / (CAST(u1.n AS DOUBLE) * CAST(u2.n AS DOUBLE)) AS lift " +
        "FROM pp JOIN u u1 ON w1 = u1.w JOIN u u2 ON w2 = u2.w, t " +
        "ORDER BY lift DESC, w1 ASC, w2 ASC LIMIT 50")),

    // Bigram-LM quality scoring — the CCNet/KenLM perplexity-filter shape,
    // engine-portable: train P(w2|w1) = c12/c1 on the corpus itself, score
    // each document by its MEAN bigram probability under that model.
    // Perplexity proper needs ln() (not correctly-rounded — the q52 libm
    // lesson); the arithmetic mean ranks documents by the same
    // "how predictable is this text under the corpus model" signal using
    // only +/×/÷, which both engines compute bit-identically. Each
    // probability is quantized to a 2^20-scaled int64 (the embedding
    // convention): floor(c12·2^20/c1) — one IEEE double divide + floor,
    // identical on both engines — so the per-doc sum is an EXACT integer
    // aggregate (order-insensitive, hash-stable); c12 ≤ c1 bounds ps ≤
    // 2^20, so the sum stays < 2^20·n_bigrams, far inside int64 for any
    // real document. Scale: the model joins are shuffle equi-joins on
    // pair/w1 with NO broadcast hint (the vocabulary is unbounded at
    // corpus scale — the q79 lesson); per-doc instances pre-aggregate to
    // distinct (doc, pair) rows BEFORE touching the model, so join volume
    // is distinct-bigram bounded, not token bounded.
    Q("q86_lm_score",
      (s, d) => lmScores(s, d).orderBy("doc_id"),
      Some(s"WITH $lmCtes " +
        "SELECT doc_id, n_bigrams, lm_score FROM lm ORDER BY doc_id")),

    // CCNet-style quality-bucket partition: head / middle / tail thirds
    // of the corpus by the q86 bigram-LM score — the decision endpoint of
    // the perplexity pipeline (CCNet trains on head+middle, inspects
    // tail). Thresholds are VALUE-based, derived from an exact score
    // histogram: each doc's lm_score quantizes to a 2^20 bin (one double
    // multiply + floor, identical cross-engine), per-bin counts cumulate,
    // and b1/b2 are the first bins whose cumulative count reaches n/3 and
    // 2n/3 (exact integer comparisons — 3·cum ≥ n, no division). A
    // boundary bin goes whole to the lower bucket: value-based splits are
    // deterministic under ties and reproducible on any cluster size,
    // unlike an exact-rank ntile whose global sort is also a scale
    // hazard. Scale: the histogram is ≤ 2^20+1 rows REGARDLESS of corpus
    // size (the quantization bounds it by design), so the cumulative
    // window's single partition is bounded, not corpus-sized; the
    // thresholds are a 1-row broadcast; bucket assignment is map-side;
    // the final aggregate has 3 groups.
    Q("q92_quality_buckets",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        // both consumers (histogram + assignment) project off the SHARED
        // persisted score table — the q86 kernel materializes once per
        // session, and each read here is a cached-columnar scan
        val sc = lmScores(s, d).select(col("doc_id"), col("lm_score"),
          floor(col("lm_score") * lit(1048576.0)).as("bin"))
        val hist = sc.groupBy("bin").agg(count(lit(1)).as("c"))
        // the corpus total rides the SAME bounded single-partition window
        // pass as the cumulate (full-frame sum) — r10 deleted the
        // separate 1-row total broadcast and its recompute of hist: one
        // fewer broadcast job and one fewer scan in a plan whose cost is
        // stage-count floor, not data
        val wOrd = Window.orderBy("bin")
        val cum = hist
          .withColumn("cum", sum("c").over(
            wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .withColumn("n", sum("c").over(
            wOrd.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
        val thr = cum
          .agg(min(when(col("cum") * 3 >= col("n"), col("bin"))).as("b1"),
            min(when(col("cum") * 3 >= col("n") * 2, col("bin"))).as("b2"))
        sc.crossJoin(broadcast(thr))
          .withColumn("bucket",
            when(col("bin") <= col("b1"), lit("tail"))
              .when(col("bin") <= col("b2"), lit("middle"))
              .otherwise(lit("head")))
          .groupBy("bucket")
          .agg(count(lit(1)).as("n_docs"),
            min("lm_score").as("lo_score"), max("lm_score").as("hi_score"))
          .orderBy("bucket")
      },
      Some(s"WITH $lmCtes, " +
        "bb AS (SELECT doc_id, lm_score, CAST(floor(lm_score * 1048576.0) AS BIGINT) AS bin FROM lm), " +
        "h AS (SELECT bin, count(*) AS c FROM bb GROUP BY 1), " +
        "cu AS (SELECT bin, CAST(SUM(c) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum, " +
        "CAST(SUM(c) OVER () AS BIGINT) AS n FROM h), " +
        "thr AS (SELECT min(CASE WHEN cum * 3 >= n THEN bin END) AS b1, " +
        "min(CASE WHEN cum * 3 >= n * 2 THEN bin END) AS b2 FROM cu) " +
        "SELECT CASE WHEN bin <= b1 THEN 'tail' WHEN bin <= b2 THEN 'middle' ELSE 'head' END AS bucket, " +
        "count(*) AS n_docs, min(lm_score) AS lo_score, max(lm_score) AS hi_score " +
        "FROM bb, thr GROUP BY 1 ORDER BY 1")),

    // Normalized exact dedup: case-/punctuation-/whitespace-insensitive
    // duplicate groups — the cheap near-exact pass a pipeline runs before
    // MinHash (catches reformatted copies that byte-exact q27 misses).
    // Normalize map-side (lowercase, strip non-alphanumerics, collapse
    // whitespace runs — the explicit class, because RE2's and Java's \s
    // disagree on VT; see graft.functions.Text), then ONE shuffle of
    // 16-byte md5 keys; the canonical survivor
    // is the min doc_id, the reproducible convention. Group count and
    // survivor come from the same aggregation pass. All groups are
    // emitted (the gate corpus has no normalized duplicates, so a dup
    // filter would check nothing — the md5 of the normalized text pins
    // the normalization's cross-engine parity on every document).
    Q("q70_normalized_dedup",
      (s, d) => {
        val norm = trim(regexp_replace(
          regexp_replace(lower(col("text")), "[^a-z0-9 \\t\\n\\x0B\\f\\r]", ""),
          "[ \\t\\n\\x0B\\f\\r]+", " "))
        docTextLean(s, d).filter(col("text").isNotNull)
          .select(col("doc_id"), md5(norm).as("norm_hash"))
          .groupBy("norm_hash")
          .agg(count(lit(1)).as("n_docs"), min("doc_id").as("keep_doc"))
          .orderBy("norm_hash")
      },
      Some("WITH n AS (SELECT doc_id, md5(trim(regexp_replace(" +
        "regexp_replace(lower(text), '[^a-z0-9 \\t\\n\\x0B\\f\\r]', '', 'g'), " +
        "'[ \\t\\n\\x0B\\f\\r]+', ' ', 'g'))) AS norm_hash FROM documents WHERE text IS NOT NULL) " +
        "SELECT norm_hash, count(*) AS n_docs, min(doc_id) AS keep_doc " +
        "FROM n GROUP BY 1 ORDER BY 1")),

    // Fixed-k per-group sampling: exactly 5 documents per language, chosen
    // by md5 order — the deterministic "take N examples per domain" op
    // (dataset cards, eval slices, inspection samples). The md5 hex of
    // the doc_id is the shuffle-proof random order both engines share;
    // the rank<=5 filter over the per-lang row_number plans through
    // Spark's WindowGroupLimit, which keeps a 5-row heap PER PARTITION
    // before the lang shuffle — the partial top-k that makes k-per-group
    // safe when one group holds half the corpus (plan-pinned).
    Q("q71_per_group_sample",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("lang")
          .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
        // no fan-out: the window's own hash exchange on lang immediately
        // follows, so a round-robin exchange before it is pure waste
        documents(s, d).select(col("doc_id"), col("lang"))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 5)
          .select(col("lang"), col("rank"), col("doc_id"))
          .orderBy("lang", "rank")
      },
      Some("SELECT lang, rank, doc_id FROM (" +
        "SELECT lang, doc_id, row_number() OVER (PARTITION BY lang " +
        "ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rank FROM documents) " +
        "WHERE rank <= 5 ORDER BY lang, rank")),

    // Weighted (probability-proportional-to-size) Poisson sampling: keep
    // each document with p = min(1, k·w/W_stratum), w = its size weight —
    // the quality/size-weighted corpus subsample a mixture builder draws
    // (expected k docs per stratum, heavier docs favored), where q59/q71
    // are the UNWEIGHTED tiers. The inclusion coin is the md5-threshold
    // convention (q59/q67): deterministic, reproducible on any engine and
    // cluster size, no RNG state. Deliberately transcendental-free — the
    // Efraimidis–Spirakis exponential-key form needs ln()/pow(), which are
    // not correctly-rounded and differ across libm builds (the q52
    // lesson); Poisson-PPS keeps the same weighted-inclusion semantics in
    // +/×/÷ doubles both engines compute bit-identically. Scale: the
    // stratum totals are a |strata|-row broadcast (bounded — strata are
    // languages/domains); the keep decision is pure map-side.
    Q("q83_pps_sample",
      (s, d) => {
        val docs = documents(s, d).select(col("doc_id"), col("lang"), col("n_chars"))
        val tot = docs.groupBy("lang").agg(sum("n_chars").as("w_total"))
        docs.join(broadcast(tot), "lang")
          .withColumn("p", least(lit(1.0),
            (lit(10.0) * col("n_chars")) / col("w_total").cast("double")))
          .withColumn("u",
            (Hashing.md5Long(col("doc_id").cast("string")) % 1000000L)
              .cast("double") / 1000000.0)
          .filter(col("u") < col("p"))
          .select(col("doc_id"), col("lang"), col("n_chars"), col("p"))
          .orderBy("doc_id")
      },
      Some("WITH t AS (SELECT lang, sum(n_chars) AS w_total FROM documents GROUP BY 1), " +
        "s AS (SELECT doc_id, lang, n_chars, " +
        "least(CAST(1.0 AS DOUBLE), (CAST(10.0 AS DOUBLE) * n_chars) / CAST(w_total AS DOUBLE)) AS p, " +
        s"CAST(${oMd5Long("CAST(doc_id AS VARCHAR)")} % 1000000 AS DOUBLE) / CAST(1000000.0 AS DOUBLE) AS u " +
        "FROM documents JOIN t USING (lang)) " +
        "SELECT doc_id, lang, n_chars, p FROM s WHERE u < p ORDER BY doc_id")),

    // Data-constrained epoch planning (the Muennighoff et al. 2023 shape:
    // when the token budget exceeds unique data, REPEAT sources — but cap
    // repetition, because value decays past ~4 epochs): allocate a token
    // budget B = 2·Σavail across sources by WATER-FILLING under per-source
    // caps of 4 epochs. Ascending-cap water-filling has a closed
    // relational form: sort sources by cap, prefix-sum, level_i =
    // (B − prefix_{i−1}) / (m − i + 1); the saturated set is a PREFIX of
    // the sort (classic water-filling invariant), so k = max saturated i
    // and λ = (B − prefix_k) / (m − k); alloc = min(cap, λ). All
    // arithmetic is integer sums and double divides — no libm (the q52
    // lesson), both engines bit-identical; doubles compare identically
    // after the same int→double rounding. λ's divisor is never 0: all-
    // saturated needs B ≥ Σcap, but B = 2·Σavail < 4·Σavail = Σcap.
    // Scale: per-source token totals are ONE partial-agg shuffle; every
    // window runs over the |sources|-row table — bounded BY DESIGN
    // (sources are domains/crawls, not documents), the q83 stratum
    // argument; the plan table is a 1-row broadcast away from any
    // downstream per-doc sampler (q67's coin consumes exactly this
    // epochs column at corpus scale).
    Q("q94_epoch_plan",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        // the |sources|-row plan table is consumed by every later stage
        // (totals, prefix sums, saturation, final allocation) — persist,
        // or the CORPUS tokenize+agg pass replans once per consumer
        val caps = graft.util.Caches.transientPersist(
          documents(s, d).select(col("source"), col("text"))
            .filter(col("text").isNotNull)
            .groupBy("source")
            .agg(sum(size(words(col("text")))).cast("long").as("avail_tokens"))
            .withColumn("cap_tokens", col("avail_tokens") * 4L))
        val tot = caps.agg((sum("avail_tokens") * 2L).cast("long").as("budget"),
          count(lit(1)).as("m"))
        // the water-fill windows order the BOUNDED source table — never
        // a corpus-sized single partition
        val ws = Window.orderBy("cap_tokens", "source")
        val o = caps.crossJoin(broadcast(tot))
          .withColumn("i", row_number().over(ws).cast("long"))
          .withColumn("pfx", coalesce(
            sum("cap_tokens").over(ws.rowsBetween(Window.unboundedPreceding, -1)),
            lit(0L)))
          .withColumn("lvl", (col("budget") - col("pfx")).cast("double")
            / (col("m") - col("i") + 1).cast("double"))
          .withColumn("sat", col("cap_tokens").cast("double") <= col("lvl"))
        val kp = o.agg(
          coalesce(max(when(col("sat"), col("pfx") + col("cap_tokens"))), lit(0L))
            .as("pk"),
          coalesce(max(when(col("sat"), col("i"))), lit(0L)).as("kk"))
        o.crossJoin(broadcast(kp))
          .withColumn("lambda", (col("budget") - col("pk")).cast("double")
            / (col("m") - col("kk")).cast("double"))
          .withColumn("alloc_tokens",
            least(col("cap_tokens").cast("double"), col("lambda")))
          .select(col("source"), col("avail_tokens"), col("cap_tokens"),
            col("alloc_tokens"),
            (col("alloc_tokens") / col("avail_tokens").cast("double"))
              .as("epochs"))
          .orderBy("source")
      },
      Some("WITH toks AS (SELECT source, regexp_split_to_array(trim(text), '[ \\t\\n\\x0B\\f\\r]+') AS ws " +
        "FROM documents WHERE text IS NOT NULL), " +
        "av AS (SELECT source, CAST(SUM(len(ws)) AS BIGINT) AS avail_tokens FROM toks GROUP BY 1), " +
        "cp AS (SELECT source, avail_tokens, avail_tokens * 4 AS cap_tokens FROM av), " +
        "t AS (SELECT CAST(SUM(avail_tokens) * 2 AS BIGINT) AS budget, count(*) AS m FROM cp), " +
        "o AS (SELECT source, avail_tokens, cap_tokens, " +
        "CAST(row_number() OVER (ORDER BY cap_tokens, source) AS BIGINT) AS i, " +
        "CAST(coalesce(SUM(cap_tokens) OVER (ORDER BY cap_tokens, source " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS pfx FROM cp), " +
        "s AS (SELECT o.*, budget, m, " +
        "CAST(budget - pfx AS DOUBLE) / CAST(m - i + 1 AS DOUBLE) AS lvl FROM o, t), " +
        "sat AS (SELECT *, CAST(cap_tokens AS DOUBLE) <= lvl AS is_sat FROM s), " +
        "k AS (SELECT CAST(coalesce(max(CASE WHEN is_sat THEN pfx + cap_tokens END), 0) AS BIGINT) AS pk, " +
        "CAST(coalesce(max(CASE WHEN is_sat THEN i END), 0) AS BIGINT) AS kk FROM sat) " +
        "SELECT source, avail_tokens, cap_tokens, " +
        "least(CAST(cap_tokens AS DOUBLE), CAST(budget - pk AS DOUBLE) / CAST(m - kk AS DOUBLE)) AS alloc_tokens, " +
        "least(CAST(cap_tokens AS DOUBLE), CAST(budget - pk AS DOUBLE) / CAST(m - kk AS DOUBLE)) / CAST(avail_tokens AS DOUBLE) AS epochs " +
        "FROM sat, k ORDER BY source")),

    // Training-shard layout: the deterministic global shuffle + shard
    // assignment every pipeline runs before writing its
    // webdataset/TFRecord shards. shard = md5("shard:"||doc) mod S breaks
    // any source/domain ordering (adjacent docs land on different shards);
    // pos orders within the shard by the same hash, so the full layout is
    // reproducible from doc ids alone — no RNG state, identical on any
    // cluster size (the md5-coin convention). Scale: ONE shuffle on
    // shard; the per-shard row_number window is bounded BY DESIGN — in
    // production S is chosen so corpus/S ≈ the target shard file size (a
    // few hundred MB), so a window partition is never corpus-sized (S=8
    // mirrors that contract at test scale). The salt prefix decorrelates
    // the shard coin from q83/q67's sampling coins on the same ids.
    Q("q87_shard_layout",
      (s, d) => {
        val keyed = documents(s, d).select(col("doc_id"), col("n_chars"))
          .withColumn("k",
            Hashing.md5Long(concat(lit("shard:"), col("doc_id").cast("string"))))
          .withColumn("shard", (col("k") % 8L).cast("long"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("shard").orderBy(col("k").asc, col("doc_id").asc)
        keyed
          .select(col("doc_id"), col("shard"),
            row_number().over(w).cast("long").as("pos"), col("n_chars"))
          .orderBy("shard", "pos")
      },
      Some("WITH k AS (SELECT doc_id, n_chars, " +
        s"${oMd5Long("'shard:' || CAST(doc_id AS VARCHAR)")} AS k FROM documents) " +
        "SELECT doc_id, k % 8 AS shard, " +
        "CAST(row_number() OVER (PARTITION BY k % 8 ORDER BY k, doc_id) AS BIGINT) AS pos, " +
        "n_chars FROM k ORDER BY shard, pos")),

    // Per-document TF-IDF keyword extraction: each document's top-3 terms
    // by tf·idf — the "what is this document about" signal corpus reports
    // and topic-mixture audits publish (q69 is the CORPUS-level
    // vocabulary; q52 ranks documents for one query; this is the per-doc
    // projection). idf is q52's log-free odds ratio (N − df + 0.5)/(df +
    // 0.5): ln() is not correctly-rounded across libm builds, and the
    // odds ratio preserves the df ranking in +/÷ doubles both engines
    // compute bit-identically. Scale: the (doc, term, tf) table IS the
    // SHARED term-frequency index's g=1 tier (r10 — the r9 form built
    // its own transient copy, the family's last private tokenize pass);
    // df DERIVES from it (one row per doc containing w), and both the df
    // aggregate and the tf⋈df join ride the index's term partitioning
    // with no exchange of their own; the join stays planner-gated with
    // NO broadcast hint (unbounded vocabulary — the q79 lesson); only
    // the 1-row doc count broadcasts. The top-k window partitions by doc
    // — bounded by a document's distinct-term count, never corpus-sized.
    Q("q88_tfidf_keywords",
      (s, d) => {
        // df is the index row's own column — no df aggregate, no join;
        // scoring is map-side off the cached index, and the only
        // exchange left is the per-doc top-k window's
        val tf = termFreq(s, d).filter(col("g") === 1)
          .select(col("doc_id"), col("term").as("w"), col("tf"), col("df"))
        val nd = docTextLean(s, d).filter(col("text").isNotNull)
          .agg(count(lit(1)).as("n_docs"))
        val win = org.apache.spark.sql.expressions.Window
          .partitionBy("doc_id").orderBy(col("score").desc, col("w").asc)
        tf.crossJoin(broadcast(nd))
          .withColumn("score", col("tf") *
            ((col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
          .withColumn("rnk", row_number().over(win))
          .filter(col("rnk") <= 3)
          .select(col("doc_id"), col("rnk"), col("w"), col("tf"), col("score"))
          .orderBy("doc_id", "rnk")
      },
      Some("WITH toks AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '[ \\t\\n\\x0B\\f\\r]+')) AS w " +
        "FROM documents WHERE text IS NOT NULL), " +
        "tf AS (SELECT doc_id, w, count(*) AS tf FROM toks GROUP BY 1, 2), " +
        "dfreq AS (SELECT w, count(*) AS df FROM tf GROUP BY 1), " +
        "nd AS (SELECT count(*) AS n_docs FROM documents WHERE text IS NOT NULL), " +
        "sc AS (SELECT doc_id, w, tf, tf * ((n_docs - df + 0.5) / (df + 0.5)) AS score " +
        "FROM tf JOIN dfreq USING (w), nd), " +
        "r AS (SELECT doc_id, w, tf, score, " +
        "row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, w) AS rnk FROM sc) " +
        "SELECT doc_id, rnk, w, tf, score FROM r WHERE rnk <= 3 ORDER BY doc_id, rnk")),

    // Shard manifest: the governance artifact published NEXT TO q87's
    // shard layout — per shard: document count, token/char budgets, the
    // doc-id range, and an ORDER-INSENSITIVE content checksum.
    // Order-insensitivity is the point: any cluster size, any
    // partitioning, any task order produces the SAME manifest, so two
    // independent corpus builds can be compared shard-by-shard without
    // re-reading a byte of text. Scale: one map pass (shard key +
    // content md5 + token count are all per-row) into one 8-group
    // partial-agg shuffle, and EVERY column of that shuffle carries an
    // O(1) buffer: the checksum is the MERGEABLE multiset digest
    // (Hashing.multisetDigest — exact int128 sums of the per-doc hash
    // halves, r12), not the A2 sorted-list hash, whose collect_list
    // buffer would hold a corpus-sized shard's every hash in one reduce
    // task. The A2 form stays where the reference uses it (q12's
    // per-contract file sets — bounded groups).
    Q("q89_shard_manifest",
      (s, d) => {
        val keyed = documents(s, d)
          .select(col("doc_id"), col("text"), col("n_chars"))
          .withColumn("shard",
            (Hashing.md5Long(concat(lit("shard:"), col("doc_id").cast("string"))) % 8L)
              .cast("long"))
          .withColumn("h", Hashing.simpleHash(col("text")))
          .withColumn("toks", size(words(col("text"))).cast("long"))
        keyed.groupBy("shard")
          .agg(count(lit(1)).as("n_docs"),
            sum("toks").as("n_tokens"),
            sum("n_chars").as("sum_chars"),
            min("doc_id").as("min_doc"),
            max("doc_id").as("max_doc"),
            Hashing.multisetDigest(col("h")).as("content_mh"))
          .orderBy("shard")
      },
      Some("WITH k AS (SELECT doc_id, n_chars, " +
        s"${oMd5Long("'shard:' || CAST(doc_id AS VARCHAR)")} % 8 AS shard, " +
        "md5(regexp_replace(text, '\\s+', '', 'g')) AS h, " +
        "CAST(len(regexp_split_to_array(trim(text), '[ \\t\\n\\x0B\\f\\r]+')) AS BIGINT) AS toks " +
        "FROM documents) " +
        "SELECT shard, count(*) AS n_docs, CAST(sum(toks) AS BIGINT) AS n_tokens, " +
        "CAST(sum(n_chars) AS BIGINT) AS sum_chars, " +
        "min(doc_id) AS min_doc, max(doc_id) AS max_doc, " +
        s"${oMultisetDigest("h")} AS content_mh " +
        "FROM k GROUP BY shard ORDER BY shard")),

    // Shard-takedown PLAN (X118, r17): the page a release manager reads
    // BEFORE rewriting a published shard artifact ([[graft.sink.Sink
    // .takedownShards]] — this query is its registry face, the
    // q133↔takedownImpact discipline at the shard tier). For the
    // deterministic stand-in takedown set doc_id ≡ 0 (mod 97) (q133's
    // convention) against q87's 8-shard layout: per shard, how many
    // docs leave vs stay, the token mass leaving, and the q89 manifest
    // digest BEFORE and AFTER — the oracle-checked proof that a
    // takedown changes the published checksum detectably (mh_pre ≠
    // mh_post exactly where n_del > 0; engines must agree on both).
    // Scale: ONE map pass (shard key + content hash + token count are
    // per-row) into an 8-group partial-agg shuffle where every column
    // carries an O(1) buffer — the post digest is the SAME mergeable
    // int128 multiset sum, just over the kept rows (a null-skipping
    // conditional, so no second pass and no second shuffle).
    Q("q135_shard_takedown_plan",
      (s, d) => {
        val keyed = documents(s, d)
          .select(col("doc_id"), col("text"))
          .withColumn("shard",
            (Hashing.md5Long(concat(lit("shard:"), col("doc_id").cast("string"))) % 8L)
              .cast("long"))
          .withColumn("h", Hashing.simpleHash(col("text")))
          .withColumn("toks", size(words(col("text"))).cast("long"))
          .withColumn("del", col("doc_id") % 97 === 0)
        keyed.groupBy("shard")
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("del"), 1L).otherwise(0L)).as("n_del"),
            coalesce(sum(when(col("del"), col("toks"))), lit(0L))
              .cast("long").as("tok_del"),
            Hashing.multisetDigest(col("h")).as("mh_pre"),
            Hashing.multisetDigest(when(!col("del"), col("h"))).as("mh_post"))
          .orderBy("shard")
      },
      Some("WITH k AS (SELECT doc_id, " +
        s"${oMd5Long("'shard:' || CAST(doc_id AS VARCHAR)")} % 8 AS shard, " +
        "md5(regexp_replace(text, '\\s+', '', 'g')) AS h, " +
        "CAST(len(regexp_split_to_array(trim(text), '[ \\t\\n\\x0B\\f\\r]+')) AS BIGINT) AS toks, " +
        "CASE WHEN doc_id % 97 = 0 THEN 1 ELSE 0 END AS del " +
        "FROM documents) " +
        "SELECT shard, count(*) AS n_docs, " +
        "CAST(sum(del) AS BIGINT) AS n_del, " +
        "CAST(coalesce(sum(CASE WHEN del = 1 THEN toks END), 0) AS BIGINT) AS tok_del, " +
        s"${oMultisetDigest("h")} AS mh_pre, " +
        s"${oMultisetDigest("CASE WHEN del = 0 THEN h END")} AS mh_post " +
        "FROM k GROUP BY shard ORDER BY shard")),

    // POST-takedown shard manifest (r18): the oracle face of the
    // `_manifest` SIDECAR [[graft.sink.Sink.writeShards]] now persists
    // beside every released shard artifact and [[graft.sink.Sink
    // .takedownShards]] maintains per affected shard — for the %97
    // stand-in takedown set (q133/q135's convention), the exact q89
    // manifest frame a reader must find in the sidecar AFTER the
    // takedown lands: per shard over the KEPT rows only. q89 stays the
    // full-artifact manifest face; q135 prices the plan; this row pins
    // the post-state values both engines must agree on (SinkSpec closes
    // the loop by asserting the maintained sidecar equals this frame
    // after a real takedownShards run). Scale: identical to q89 — one
    // map pass into an 8-group partial-agg shuffle, every column an
    // O(1) buffer (count/sums/min/max/mergeable int128 digest); the
    // production sidecar is maintained incrementally from the takedown's
    // own kept-rows aggregates, so learning this truth never costs a
    // release-wide scan.
    Q("q136_shard_manifest_post",
      (s, d) => {
        val kept = documents(s, d)
          .select(col("doc_id"), col("text"), col("n_chars"))
          .filter(col("doc_id") % 97 =!= 0)
          .withColumn("shard",
            (Hashing.md5Long(concat(lit("shard:"), col("doc_id").cast("string"))) % 8L)
              .cast("long"))
          .withColumn("h", Hashing.simpleHash(col("text")))
          .withColumn("toks", size(words(col("text"))).cast("long"))
        kept.groupBy("shard")
          .agg(count(lit(1)).as("n_docs"),
            sum("toks").as("n_tokens"),
            sum("n_chars").as("sum_chars"),
            min("doc_id").as("min_doc"),
            max("doc_id").as("max_doc"),
            Hashing.multisetDigest(col("h")).as("content_mh"))
          .orderBy("shard")
      },
      Some("WITH k AS (SELECT doc_id, n_chars, " +
        s"${oMd5Long("'shard:' || CAST(doc_id AS VARCHAR)")} % 8 AS shard, " +
        "md5(regexp_replace(text, '\\s+', '', 'g')) AS h, " +
        "CAST(len(regexp_split_to_array(trim(text), '[ \\t\\n\\x0B\\f\\r]+')) AS BIGINT) AS toks " +
        "FROM documents WHERE doc_id % 97 <> 0) " +
        "SELECT shard, count(*) AS n_docs, CAST(sum(toks) AS BIGINT) AS n_tokens, " +
        "CAST(sum(n_chars) AS BIGINT) AS sum_chars, " +
        "min(doc_id) AS min_doc, max(doc_id) AS max_doc, " +
        s"${oMultisetDigest("h")} AS content_mh " +
        "FROM k GROUP BY shard ORDER BY shard")),

    // Filter-funnel yield report: the cascade counts a pipeline publishes
    // with every corpus build (how many documents survive each filter
    // stage, applied in order: minimum length → language allowlist →
    // maximum size). ONE conditional-sum pass — four counters in the
    // same aggregation buffer, no per-stage scan, no intermediate
    // materialization; at 100 TB this is a single map-side-combined
    // reduction to one row. The aggregation lives in
    // Streaming.funnelCounts — the SAME code streams in complete mode
    // (batch-equals-stream pinned in StreamingSpec).
    Q("q72_filter_funnel",
      // no fan-out: tokenize-and-count weight (the docTextLean rule)
      (s, d) => graft.streaming.Streaming.funnelCounts(
        documents(s, d).select(col("text"), col("lang"), col("n_chars"))),
      Some("SELECT count(*) AS n_total, " +
        "CAST(sum(CASE WHEN text IS NOT NULL AND len(regexp_split_to_array(trim(text), '[ \\t\\n\\x0B\\f\\r]+')) >= 30 " +
        "THEN 1 ELSE 0 END) AS BIGINT) AS n_min_len, " +
        "CAST(sum(CASE WHEN text IS NOT NULL AND len(regexp_split_to_array(trim(text), '[ \\t\\n\\x0B\\f\\r]+')) >= 30 " +
        "AND lang IN ('en', 'es', 'de') THEN 1 ELSE 0 END) AS BIGINT) AS n_lang, " +
        "CAST(sum(CASE WHEN text IS NOT NULL AND len(regexp_split_to_array(trim(text), '[ \\t\\n\\x0B\\f\\r]+')) >= 30 " +
        "AND lang IN ('en', 'es', 'de') AND n_chars <= 400 THEN 1 ELSE 0 END) AS BIGINT) AS n_max_size " +
        "FROM documents")),

    // Vector-quantization assignment (one k-means E-step): every embedding
    // assigned to the nearest of 16 fixed centroids (the vec_id < 16
    // vectors — a deterministic init) by exact squared-L2 over the
    // 2^20-quantized int64 components. The q34 pattern: the centroid
    // table is driver-collected (16 rows — closure-sized, like a
    // broadcast codebook) and the argmin is ONE primitive-loop map stage,
    // 16×64 integer ops per vector, no join, no explosion; the only
    // shuffle is the 16-group partial agg. Per-cell distortion sums go
    // through DECIMAL(38,0) — exact at any corpus size where an int64
    // running sum would wrap — and surface as the double of that exact
    // integer, bit-identical on both engines.
    Q("q73_vq_assign",
      (s, d) => {
        val rows = embeddings(s, d)
          .filter(col("vec_id") < 16)
          .select(col("vec_id"), quantize(col("embedding")).as("qv"))
          .collect()
          .sortBy(_.getLong(0))
        // codebook position MUST equal vec_id or cid diverges from the
        // oracle's vec_id-based labels — fail loudly on a sparse/short
        // id range instead of silently mislabeling
        require(rows.length == 16 && rows.map(_.getLong(0)).toSeq == (0L until 16L),
          s"q73 needs embeddings vec_id 0..15 as centroids; got " +
            rows.map(_.getLong(0)).mkString(","))
        val cents: Array[Array[Long]] = rows.map(_.getSeq[Long](1).toArray)
        val assign = udf((qv: Seq[Long]) => {
          val (bc, bd) = graft.functions.VectorQuantizer.nearest(cents, qv)
          Array(bc, bd)
        })
        // no fan-out: 16×dim integer ops per row (the docTextLean rule)
        embeddings(s, d)
          .select(col("vec_id"), assign(quantize(col("embedding"))).as("a"))
          .select(col("a").getItem(0).as("cid"), col("a").getItem(1).as("dist"))
          .groupBy("cid")
          .agg(count(lit(1)).as("n_vec"),
            sum(col("dist").cast("decimal(38,0)")).cast("double")
              .as("total_distortion"))
          .orderBy("cid")
      },
      Some(s"WITH ce AS (SELECT vec_id AS cid, $oQuant AS v FROM embeddings WHERE vec_id < 16), " +
        s"ev AS (SELECT vec_id, $oQuant AS v FROM embeddings), " +
        "cx AS (SELECT cid, unnest(range(len(v))) AS pos, unnest(v) AS x FROM ce), " +
        "ex AS (SELECT vec_id, unnest(range(len(v))) AS pos, unnest(v) AS x FROM ev), " +
        "dist AS (SELECT e.vec_id, c.cid, CAST(SUM((e.x - c.x) * (e.x - c.x)) AS BIGINT) AS d " +
        "FROM ex e JOIN cx c USING (pos) GROUP BY 1, 2), " +
        "best AS (SELECT vec_id, cid, d, row_number() OVER " +
        "(PARTITION BY vec_id ORDER BY d, cid) AS rn FROM dist) " +
        "SELECT cid, count(*) AS n_vec, CAST(SUM(d) AS DOUBLE) AS total_distortion " +
        "FROM best WHERE rn = 1 GROUP BY 1 ORDER BY 1")),

    // Token-length histogram: the corpus length distribution every
    // pipeline publishes (and cuts its length filters from). Bucket =
    // tokens DIV 10 capped at 10 — a pure map, then a ≤11-group
    // partial agg; the whole report is one map-side-combined pass.
    Q("q74_length_histogram",
      (s, d) => docTextLean(s, d).filter(col("text").isNotNull)
        .select(size(words(col("text"))).cast("bigint").as("n_tok"))
        .selectExpr("least(n_tok DIV 10, 10) AS bucket", "n_tok")
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"))
        .orderBy("bucket"),
      Some("WITH t AS (SELECT CAST(len(regexp_split_to_array(trim(text), '[ \\t\\n\\x0B\\f\\r]+')) AS BIGINT) AS n_tok " +
        "FROM documents WHERE text IS NOT NULL) " +
        "SELECT least(n_tok // 10, 10) AS bucket, count(*) AS n_docs, " +
        "CAST(sum(n_tok) AS BIGINT) AS n_tokens FROM t GROUP BY 1 ORDER BY 1")),

    // Full k-means codebook fit (3 Lloyd iterations, k=8) + final
    // assignment stats — the trainer behind q73's E-step, exact-integer
    // throughout (see graft.functions.VectorQuantizer). An iterative fit
    // has no single-statement SQL equivalent, but it IS bit-deterministic
    // (exact integer arithmetic, doc-id-ordered init, lowest-id tie
    // break), so the oracle is the q50 pinned-VALUES pattern: the one
    // correct answer for k=8/iters=3 over the frozen sf0.01 corpus,
    // generated by tools/pin_oracle.py from a hash-verified run. The
    // algorithmic checks — monotone distortion, M-step ground truth,
    // determinism — live in VectorQuantizerSpec. bench=false stands: the
    // DuckDB side of a pinned oracle is a constant VALUES scan (~1 ms),
    // so timing the multi-job fit against it would skew the bench ratio's
    // comparability.
    Q("q75_kmeans_fit",
      (s, d) => {
        import graft.functions.VectorQuantizer
        // the fit persists the quantized frame; the final assignment is a
        // pure map over that same cache — no second scan+quantize pass
        val qvecs = VectorQuantizer.quantized(embeddings(s, d))
        val (cents, trace) = VectorQuantizer.fitQuantized(qvecs, 8, 3)
        val assign = udf((qv: Seq[Long]) => {
          val (bc, bd) = VectorQuantizer.nearest(cents, qv)
          Array(bc, bd)
        })
        qvecs
          .select(assign(col("qv")).as("a"))
          .select(col("a").getItem(0).as("cid"), col("a").getItem(1).as("dist"))
          .groupBy("cid")
          .agg(count(lit(1)).as("n_vec"),
            sum(col("dist").cast("decimal(38,0)")).cast("double")
              .as("total_distortion"))
          .withColumn("first_iter_distortion", lit(trace.head.toDouble))
          .withColumn("last_iter_distortion", lit(trace.last.toDouble))
          .orderBy("cid")
      },
      Some(Q.pinned("q75_oracle.sql")),
      bench = false),

    // ==== robustness & scale techniques ====================================

    // P7 error-row filtering (`main.rs:106-111`): permissive parse of a
    // partially corrupt JSON column — parse failures become nulls, not
    // pipeline aborts; a validity flag keeps the corrupt count auditable.
    Q("q47_permissive_parse",
      (s, d) => {
        // the columnNameOfCorruptRecord idiom: corrupt payloads land in a
        // side column instead of nulling silently — `parsed.isNotNull`
        // alone is NOT a validity test (permissive mode yields an all-null
        // row, not a null struct, for scalar-prefixed garbage)
        val schema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("k",
            org.apache.spark.sql.types.IntegerType),
          org.apache.spark.sql.types.StructField("_corrupt",
            org.apache.spark.sql.types.StringType)))
        // JSON parsing is CPU-heavy enough that fanning the single-row-
        // group scan across cores beats the extra exchange (measured
        // 0.22 → 0.13 s at sf0.1; identity on a parallel scan)
        graft.util.Tables.fanOut(
          events(s, d).select(col("event_id"), col("props")))
          // every 3rd row corrupted: drop the opening brace
          .withColumn("payload", when(col("event_id") % 3 === 0,
            expr("substring(props, 2)")).otherwise(col("props")))
          .withColumn("parsed", from_json(col("payload"), schema,
            Map("columnNameOfCorruptRecord" -> "_corrupt")))
          .select(col("event_id"), col("parsed._corrupt").isNull.as("valid"),
            col("parsed.k").as("k"))
          .orderBy("event_id")
      },
      Some("SELECT event_id, json_valid(payload) AS valid, " +
        "CASE WHEN json_valid(payload) THEN CAST(json_extract_string(payload, '$.k') AS INTEGER) END AS k " +
        "FROM (SELECT event_id, CASE WHEN event_id % 3 = 0 THEN substr(props, 2) ELSE props END AS payload " +
        "FROM events) ORDER BY event_id")),

    // End-to-end ANN: 6-bit hyperplane bucket of the query vector →
    // MULTI-PROBE candidates (hamming ≤ 1 expansion: the query bucket plus
    // its 6 one-bit flips) → exact cosine top-k. The candidate set is an
    // equi-join on `bucket` against 7 broadcast probe values — the 100 TB
    // path never scores beyond the probed buckets, and near-boundary
    // neighbors a single probe drops are recovered.
    // Hard-negative mining (contrastive/retrieval training's negative
    // sampling): for each probe vector (q98's deterministic md5 panel),
    // the top-5 IN-CELL vectors whose cosine falls in the hard band
    // [0.35, 0.75) — similar enough to be informative, below the
    // near-dup region. Scale: the probe panel is the only broadcast
    // (bounded audit/mining contract, the q98 argument), candidates are
    // restricted to the probe's IVF cell (never probe × corpus), cosines
    // are exact int64-dot ratios (band compares identical doubles in
    // both engines), and the per-probe top-5 plans a partial
    // WindowGroupLimit below the qid exchange.
    Q("q106_hard_negatives",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val (e, probes) = quantizedPanel(s, d)
        val wq = Window.partitionBy("qid")
          .orderBy(col("cos").desc, col("vec_id").asc)
        e.join(broadcast(probes),
            col("label") === col("qcell") && col("vec_id") =!= col("qid"))
          .select(col("qid"), col("vec_id"),
            cosQ(dotQ(col("qv"), col("query_v")), col("n2"), col("qn2")).as("cos"))
          .filter(col("cos") >= 0.35 && col("cos") < 0.75)
          .withColumn("rk", row_number().over(wq))
          .filter(col("rk") <= 5)
          .select(col("qid"), col("rk").cast("long").as("rk"),
            col("vec_id"), col("cos"))
          .orderBy("qid", "rk")
      },
      Some(s"WITH ev AS (SELECT vec_id, label, $oQuant AS v FROM embeddings), " +
        "ee AS (SELECT vec_id, unnest(range(len(v))) AS pos, unnest(v) AS x FROM ev), " +
        "n AS (SELECT vec_id, CAST(SUM(x * x) AS BIGINT) AS n2 FROM ee GROUP BY 1), " +
        s"$oProbePanel, " +
        "dots AS (SELECT p.qid, e.vec_id, CAST(SUM(e.x * q.x) AS BIGINT) AS dot " +
        "FROM p JOIN ee q ON q.vec_id = p.qid " +
        "JOIN ev ON ev.label = p.qcell AND ev.vec_id <> p.qid " +
        "JOIN ee e ON e.vec_id = ev.vec_id AND e.pos = q.pos " +
        "GROUP BY 1, 2), " +
        "cs AS (SELECT d.qid, d.vec_id, " +
        "CAST(dot AS DOUBLE) / (sqrt(CAST(ne.n2 AS DOUBLE)) * sqrt(CAST(nq.n2 AS DOUBLE))) AS cos " +
        "FROM dots d JOIN n ne ON d.vec_id = ne.vec_id JOIN n nq ON d.qid = nq.vec_id), " +
        "b AS (SELECT qid, vec_id, cos, " +
        "row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rk " +
        "FROM cs WHERE cos >= 0.35 AND cos < 0.75) " +
        "SELECT qid, CAST(rk AS BIGINT) AS rk, vec_id, cos FROM b " +
        "WHERE rk <= 5 ORDER BY qid, rk")),

    Q("q48_ann_topk",
      (s, d) => {
        val bk = hyperBuckets(s, d, 6)
        val e = embeddings(s, d)
          .withColumn("qv", quantize(col("embedding")))
          .select(col("vec_id"), col("qv"), norm2Q(col("qv")).as("n2"))
          .join(bk, Seq("vec_id"))
        val q = e.filter(col("vec_id") === 0)
          .select(col("bucket").as("qb"), col("qv").as("query_v"), col("n2").as("qn2"))
        // probe buckets are pairwise distinct (distinct xor masks), so no
        // candidate dedup is needed after the equi-join
        val probes = q.withColumn("flip",
            explode(array((Seq(0L) ++ (0 until 6).map(i => 1L << i)).map(lit): _*)))
          .withColumn("pb", expr("qb ^ flip"))
        e.filter(col("vec_id") =!= 0)
          .join(broadcast(probes), col("bucket") === col("pb"))
          .select(col("vec_id"),
            cosQ(dotQ(col("qv"), col("query_v")), col("n2"), col("qn2")).as("cos"))
          .orderBy(col("cos").desc, col("vec_id").asc)
          .limit(5)
          .orderBy(col("cos").desc, col("vec_id").asc)
      },
      Some(s"WITH ev AS (SELECT vec_id, $oQuant AS v FROM embeddings), " +
        "ee AS (SELECT vec_id, unnest(range(len(v))) AS pos, unnest(v) AS x FROM ev), " +
        oHyperCte(6) + ", " +
        "qb AS (SELECT bucket FROM bk WHERE vec_id = 0), " +
        "probes AS (SELECT xor(bucket, f) AS pb FROM qb, unnest([0, 1, 2, 4, 8, 16, 32]) AS u(f)), " +
        "cand AS (SELECT b.vec_id FROM bk b JOIN probes ON b.bucket = probes.pb WHERE b.vec_id <> 0), " +
        "n AS (SELECT vec_id, CAST(SUM(x * x) AS BIGINT) AS n2 FROM ee GROUP BY vec_id), " +
        "qe AS (SELECT pos, x FROM ee WHERE vec_id = 0), " +
        "dots AS (SELECT e.vec_id, CAST(SUM(e.x * q.x) AS BIGINT) AS dot FROM ee e " +
        "JOIN qe q USING (pos) WHERE e.vec_id IN (SELECT vec_id FROM cand) GROUP BY e.vec_id) " +
        "SELECT d.vec_id, CAST(dot AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(qn.qn2 AS DOUBLE))) AS cos " +
        "FROM dots d JOIN n na ON d.vec_id = na.vec_id, " +
        "(SELECT n2 AS qn2 FROM n WHERE vec_id = 0) qn " +
        "ORDER BY cos DESC, d.vec_id LIMIT 5")),

    // Skew-resistant two-phase (salted) aggregation: event_type has only 5
    // values — a worst-case skew key. Phase 1 aggregates on (key, salt)
    // spreading each hot key over 16 reducers; phase 2 merges the 16
    // partials. Result identical to the plain groupBy the oracle runs.
    Q("q49_salted_agg",
      (s, d) => events(s, d)
        .withColumn("salt", pmod(col("event_id"), lit(16)))
        .groupBy("event_type", "salt")
        .agg(count(lit(1)).as("pn"),
          sum(col("value").cast(org.apache.spark.sql.types.DecimalType(20, 6))).as("pv"))
        .groupBy("event_type")
        .agg(sum(col("pn")).as("n"), sum(col("pv")).cast("double").as("sum_value"))
        .orderBy("event_type"),
      Some("SELECT event_type, count(*) AS n, " +
        "CAST(SUM(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS sum_value " +
        "FROM events GROUP BY event_type ORDER BY event_type")),

    // ==== derivation: ABI selector surface (F2/F3) =========================

    // Canonical signature + keccak-256 4-byte selector, the reference's
    // `function.selector` derivation (`functions.rs:28-31`) exercised on the
    // event_type domain. keccak256 is a native codegen Catalyst Expression
    // (graft.plans.Keccak256, registered via GraftExtensions) validated
    // against published vectors (KeccakSpec); the oracle pins the expected
    // selectors as constants.
    Q("q44_selector",
      (s, d) => {
        events(s, d)
          .select(col("event_type")).distinct()
          .withColumn("signature", concat(col("event_type"), lit("(address,uint256)")))
          .withColumn("selector", concat(lit("0x"),
            substring(call_function("keccak256", encode(col("signature"), "UTF-8")), 1, 8)))
          .withColumn("row_id", Hashing.rowId(col("event_type"), lit("|"), col("selector")))
          .orderBy("event_type")
      },
      Some("SELECT event_type, event_type || '(address,uint256)' AS signature, " +
        "CASE event_type WHEN 'click' THEN '0x20948731' WHEN 'purchase' THEN '0x8de93222' " +
        "WHEN 'signup' THEN '0x7f8cb4c1' WHEN 'error' THEN '0x87873088' " +
        "WHEN 'view' THEN '0x315ad64a' END AS selector, " +
        "md5(regexp_replace(event_type || '|' || (CASE event_type WHEN 'click' THEN '0x20948731' " +
        "WHEN 'purchase' THEN '0x8de93222' WHEN 'signup' THEN '0x7f8cb4c1' " +
        "WHEN 'error' THEN '0x87873088' WHEN 'view' THEN '0x315ad64a' END), '\\s+', '', 'g')) AS row_id " +
        "FROM (SELECT DISTINCT event_type FROM events) ORDER BY event_type"))
  )
}
