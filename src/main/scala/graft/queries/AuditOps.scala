package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Hashing
import graft.util.Tables._

/** Corpus-audit endpoints — the reports a pipeline operator reads BEFORE
  * trusting the cheaper approximate machinery at 100 TB: cross-source
  * overlap (what dedup across dumps will find), DSIR-shaped importance
  * weights (what a targeted subsample would keep), ANN recall and MinHash
  * calibration (how much the approximate tiers diverge from exact ground
  * truth). All four compose the session-shared kernels (shingle index,
  * term-frequency index, pair intersections, wide MinHash signatures,
  * quantized embeddings) — none pays a corpus tokenize/hash pass of its
  * own.
  *
  * Cross-engine exactness follows the house conventions: md5-derived
  * hashes and coins, exact integer sums, and only correctly-rounded
  * double ops (+ × ÷ sqrt floor) — no libm transcendentals (the q52
  * lesson), no order-sensitive double accumulation (every reported
  * double is a ratio of exact integer sums).
  */
object AuditOps {

  import TrainingOps.{oMd5Long, oQuant, quantize, dotQ, norm2Q, cosQ, shCte, shhCte}

  /** X95's shared span kernel — the merged mask spans (doc_id, s, e)
    * both the report (q112) and the apply (q114) tiers consume; a
    * session running both pays the generate + gate + island windows
    * once. See q112's comment for the full semantics and scale story.
    */
  private def maskSpans(s: SparkSession, d: String): DataFrame =
    graft.util.Caches.sharedIndex(s, s"maskSpans:$d") {
      import org.apache.spark.sql.expressions.Window
      val docs = documents(s, d).filter(col("text").isNotNull)
      val ev = docs.filter(col("doc_id") % 50 === 0)
        .selectExpr("shingles(text, 8) AS g")
        .select(Hashing.md5Long(col("g")).as("h1")).distinct()
      val hits = docs.filter(col("doc_id") % 50 =!= 0)
        .selectExpr("doc_id", "posngrams(text, 8) AS (pos, g)")
        .select(col("doc_id"), col("pos").cast("long").as("pos"),
          Hashing.md5Long(col("g")).as("h1"))
        .join(ev, Seq("h1"), "left_semi")
      val wOrd = Window.partitionBy("doc_id").orderBy("pos")
      val prevEnd = max(col("pos") + lit(7L))
        .over(wOrd.rowsBetween(Window.unboundedPreceding, -1))
      hits
        .withColumn("flag",
          when(prevEnd.isNull || col("pos") > prevEnd + lit(1L), 1L)
            .otherwise(0L))
        .withColumn("island",
          sum("flag").over(wOrd.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy("doc_id", "island")
        .agg(min("pos").as("s"), (max("pos") + lit(7L)).as("e"))
        .select("doc_id", "s", "e")
    }

  /** X99's shared projection — the (eval_id, train_id, cos) semantic
    * contamination pairs both the provenance report (q115) and the
    * decision table's drop flag (q117) consume; factored so the
    * eval-split convention and the threshold cannot drift between the
    * tiers (the contaminationHits discipline: one kernel, N consumers).
    * Map-side over the retained cellPairCos cache — the ≥ threshold
    * filter is contract-exact (every pair ≥ CellPairRetainCos survives
    * retention), the cross-set XOR and orientation are projections.
    */
  private def semanticContamPairs(s: SparkSession, d: String): DataFrame =
    TrainingOps.cellPairCos(s, d)
      .filter(col("cos") >= TrainingOps.CellPairRetainCos)
      .filter((col("ida") % 50 === 0) =!= (col("idb") % 50 === 0))
      .select(
        when(col("ida") % 50 === 0, col("ida")).otherwise(col("idb"))
          .as("eval_id"),
        when(col("ida") % 50 === 0, col("idb")).otherwise(col("ida"))
          .as("train_id"),
        col("cos"))

  /** Oracle CTE mirroring [[semanticContamPairs]] — `semcp(eval_id,
    * train_id, cos)`; expects `cpc` (cellPairCosCtes) in scope.
    */
  private val semContamCte: String =
    "semcp AS (SELECT CASE WHEN ida % 50 = 0 THEN ida ELSE idb END AS eval_id, " +
      "CASE WHEN ida % 50 = 0 THEN idb ELSE ida END AS train_id, cos " +
      "FROM cpc WHERE cos >= 0.35 AND ((ida % 50 = 0) <> (idb % 50 = 0)))"

  /** X104's shared kernel — corpus-INTERNAL duplicated-span masks with
    * keep-first attribution (Lee et al. 2021's "deduplicating training
    * data" remedy at span granularity): the merged (doc_id, s, e) token
    * spans covering every occurrence of an 8-gram that appears in ≥ 2
    * documents, in every document EXCEPT the gram's owner (min doc_id —
    * the keep-FIRST rule: one copy of every duplicated span survives the
    * corpus). Distinct from [[maskSpans]]/q112, whose mask set is a
    * FIXED eval suite (broadcastable by contract): here the duplicated-
    * gram set is corpus-derived and corpus-sized, so the attribution
    * join is a real shuffle — and distinct from q80's pairwise substring
    * runs, whose enumeration grows df² on hot grams where this
    * aggregates per-gram (df-bounded, never df² pairs).
    *
    * Scale shape, exchange by exchange (all int64 — text never leaves
    * the scan): (1) the positional triples (doc_id, pos, h1) are born
    * inside the `posngrams` Generator and transient-persisted — the
    * owner aggregation and the attribution join both read them, and a
    * second corpus tokenize would cost more than the disk-backed
    * columnar persist; (2) owners = distinct (doc_id, h1) → one h1
    * aggregation (min/count — partial map-side, no per-key state
    * beyond two longs, so hot boilerplate grams cannot spill a
    * reducer); (3) the triples join owners on h1 — the one token-volume
    * exchange, the irreducible cost of GLOBAL attribution (every
    * position must learn its gram's df; there is no fixed small side to
    * broadcast) — with the owners side riding its aggregation's own
    * partitioning; (4) only true cross-doc-duplicated positions reach
    * the per-doc island windows (overlap-bounded, q112's shape).
    *
    * Hot-gram skew note (100 TB, r14 — DEMONSTRATED, the r13 AQE
    * delegation refuted and replaced): a corpus-wide boilerplate 8-gram
    * puts all its positions on one reduce partition of exchange (3).
    * The join carries no per-key state (both sides stream), so the
    * hazard is a straggler, not a spill — but the constructed df=100k
    * fixture showed AQE's skew-join splitting can NEVER rescue this
    * join: the kernel is cache-materialized (partitioning-changing AQE
    * rules are disabled there by default), and even uncached the
    * owners-side aggregate is fused onto the join's input partitioning,
    * a shape OptimizeSkewedJoin's SMJ(Sort(shuffle),Sort(shuffle))
    * pattern never matches (BASELINE.md r14). The bound therefore
    * lives in the plan: the attribution join is SALTED on doc_id % 8
    * (see the build body), spreading any hot gram over 8 reducers
    * deterministically. No df cap is applied because every occurrence
    * genuinely must be masked; a corpus where one gram dominates the
    * token stream is a corpus-prep bug the q124 datasheet's df_max row
    * exists to surface first.
    */
  private def dupSpans(s: SparkSession, d: String): DataFrame =
    graft.util.Caches.sharedIndex(s, s"dupSpans:$d")(dupSpansBuild(s, d))

  /** Kernel body: one generate + a token-volume transient persist of
    * the triples, which the owner aggregation and the attribution join
    * both read. Recomputing them instead (two generates, zero persist
    * footprint) measured a dead heat whose sign flips between sf0.1 and
    * sf10 — BASELINE.md r13c records the A/B.
    */
  private def dupSpansBuild(s: SparkSession, d: String): DataFrame = {
      val docs = documents(s, d).filter(col("text").isNotNull)
      val tri = graft.util.Caches.transientPersist(
        docs.selectExpr("doc_id", "posngrams(text, 8) AS (pos, g)")
          .select(col("doc_id"), col("pos").cast("long").as("pos"),
            Hashing.md5Long(col("g")).as("h1")))
      dupSpansOver(tri)
  }

  /** The kernel body over a (doc_id, pos, h1) triples frame. A persisted
    * positional tier feeding it was priced and rejected (BASELINE.md
    * r14).
    */
  private def dupSpansOver(tri: DataFrame): DataFrame = {
      import org.apache.spark.sql.expressions.Window
      // owner/df straight off the positions in ONE aggregation (r19 —
      // the q107 min/max rule): the pre-r19 form pre-deduped to
      // distinct (doc_id, h1) [a full token-volume exchange] and then
      // aggregated by h1 [a second one] to learn min(doc) and the
      // distinct-doc count, but the count was only ever compared to 2 —
      // and "≥ 2 distinct docs" ⟺ min(doc_id) ≠ max(doc_id), while
      // min(doc_id) over positions equals min over distinct docs. One
      // map-side partial min/max (two longs of state per key, hot
      // boilerplate grams cannot spill a reducer) into one h1 exchange
      // replaces both. Same owner set by construction; oracle-diffed
      // (the DuckDB face keeps its DISTINCT + HAVING count(*) ≥ 2 form).
      // Measured (OPTIMIZATION_r19.md, warm triples, min-of-5): owners
      // stage 0.62 → 0.32 s, full kernel 1.25 → 0.63 s.
      val owners = tri.groupBy("h1")
        .agg(min("doc_id").as("owner"), max("doc_id").as("mx"))
        .filter(col("owner") =!= col("mx"))
        .select("h1", "owner")
      // SALTED attribution join (r14 — the hot-gram mitigation,
      // demonstrated rather than asserted): the r13 posture delegated a
      // corpus-wide boilerplate gram to AQE's skew-join splitting, but
      // the constructed-skew measurement (BASELINE.md r14) showed the
      // split CANNOT engage on this join: (a) the kernel is
      // sharedIndex-cached, and Spark's default
      // canChangeCachedPlanOutputPartitioning=false disables every
      // partitioning-changing AQE rule inside cached-plan
      // materialization; (b) even uncached, OptimizeSkewedJoin only
      // matches SMJ(Sort(shuffle), Sort(shuffle)), and the owners
      // side's final aggregate is fused onto the join's input
      // partitioning — the pattern never matches. So the bound is built
      // into the plan instead: the probe side salts on doc_id % B (a
      // boilerplate gram sits at a FIXED position in every doc, so pos
      // would not spread it; doc_id always does), the owners side
      // explodes ×B — cheap by construction, owners holds only the
      // df ≥ 2 grams — and any hot gram now lands on B reducers
      // deterministically, cached or not, cluster or not. Measured on
      // the df=100k fixture at 512 partitions: hot-partition bytes
      // 1.73 MB (1.77× median) → 1.16 MB (1.18× median), results
      // identical (the full 125-query oracle gate).
      val B = 8
      val hits = tri
        .withColumn("salt", pmod(col("doc_id"), lit(B)).cast("int"))
        .join(owners.withColumn("salt",
          explode(sequence(lit(0), lit(B - 1)))), Seq("h1", "salt"))
        .filter(col("doc_id") =!= col("owner"))
        .select("doc_id", "pos")
      val wOrd = Window.partitionBy("doc_id").orderBy("pos")
      val prevEnd = max(col("pos") + lit(7L))
        .over(wOrd.rowsBetween(Window.unboundedPreceding, -1))
      hits
        .withColumn("flag",
          when(prevEnd.isNull || col("pos") > prevEnd + lit(1L), 1L)
            .otherwise(0L))
        .withColumn("island",
          sum("flag").over(wOrd.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy("doc_id", "island")
        .agg(min("pos").as("s"), (max("pos") + lit(7L)).as("e"))
        .select("doc_id", "s", "e")
    }

  /** Oracle CTE chain mirroring [[dupSpans]] — ends in
    * `dsp(doc_id, s, e)` with `dtoks(doc_id, ws)` also in scope.
    */
  private val dupCtes: String =
    "dtoks AS (SELECT doc_id, " +
      "regexp_split_to_array(trim(text), '[ \\t\\n\\x0B\\f\\r]+') AS ws " +
      "FROM documents WHERE text IS NOT NULL), " +
      "dpos AS (SELECT doc_id, i AS pos, " +
      oMd5Long("array_to_string(ws[i:i+7], ' ')") + " AS h1 " +
      "FROM dtoks, unnest(range(1, len(ws) - 6)) AS t(i)), " +
      "down AS (SELECT h1, min(doc_id) AS owner FROM " +
      "(SELECT DISTINCT doc_id, h1 FROM dpos) GROUP BY 1 " +
      "HAVING count(*) >= 2), " +
      // (doc_id, pos) unique in dpos and down unique per h1, so the
      // join is 1:1 on positions
      "dhit AS (SELECT p.doc_id, p.pos FROM dpos p JOIN down o USING (h1) " +
      "WHERE p.doc_id <> o.owner), " +
      "drr AS (SELECT doc_id, pos, max(pos + 7) OVER (PARTITION BY doc_id " +
      "ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) " +
      "AS prev_end FROM dhit), " +
      "dfl AS (SELECT doc_id, pos, CASE WHEN prev_end IS NULL " +
      "OR pos > prev_end + 1 THEN 1 ELSE 0 END AS flag FROM drr), " +
      "disl AS (SELECT doc_id, pos, sum(flag) OVER (PARTITION BY doc_id " +
      "ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) " +
      "AS island FROM dfl), " +
      "dsp AS (SELECT doc_id, island, min(pos) AS s, max(pos) + 7 AS e " +
      "FROM disl GROUP BY 1, 2)"

  /** X105's shared frame — per-batch-doc novelty (doc_id, n_shingles,
    * n_seen, novelty, band), consumed by the q121 report and the q123
    * triage composite. Seam-aware via [[TrainingOps.shinglePostings]];
    * see q121's registry comment for the scale story.
    */
  private def noveltyFrame(s: SparkSession, d: String): DataFrame =
    // r18 kernel promotion (BASELINE.md r18 OPTIMIZATION phase): the
    // doc comment always called this "X105's shared frame ... consumed
    // by the q121 report and the q123 triage composite", but each
    // consumer re-ran the
    // corpus-wide standing-distinct + membership join. Batch-sized
    // narrow frame; key carries the fpIndex seam (shinglePostings is
    // seam-aware).
    graft.util.Caches.sharedIndex(s,
      s"noveltyFrame:$d" + TrainingOps.fpKey(s))(noveltyFrameBuild(s, d))

  private def noveltyFrameBuild(s: SparkSession, d: String): DataFrame = {
    val post = TrainingOps.shinglePostings(s, d)
    val standing = post.filter(col("doc_id") % 10 =!= 0)
      .select("h1").distinct().withColumn("seen", lit(1L))
    post.filter(col("doc_id") % 10 === 0)
      .join(standing, Seq("h1"), "left")
      .groupBy("doc_id")
      // plain counts, not countDistinct (r18): postings are DISTINCT per
      // (doc, h1) — shingles() has set semantics and the index's
      // healthy-index audit contract (shinglePostings doc) guarantees the
      // seam path the same — and `standing` is unique per h1, so the left
      // join is 1:1. countDistinct re-ran a distinct expansion (an extra
      // aggregate phase per countDistinct) over already-unique keys.
      // Same integers by construction (BASELINE.md r18 A/B).
      .agg(count(col("h1")).as("n_shingles"),
        sum(when(col("seen").isNotNull, 1L).otherwise(0L)).as("n_seen"))
      .select(col("doc_id"), col("n_shingles"), col("n_seen"),
        ((col("n_shingles") - col("n_seen")).cast("double") /
          col("n_shingles").cast("double")).as("novelty"))
      .withColumn("band",
        when(col("novelty") >= 0.9, "novel")
          .when(col("novelty") >= 0.5, "mixed")
          .otherwise(lit("dup_heavy")))
  }

  /** Oracle CTE chain mirroring [[noveltyFrame]] — ends in
    * `nvb(doc_id, n_shingles, n_seen, novelty, band)`; expects `shh`
    * ([[TrainingOps.shhCte]]) in scope.
    */
  private val nvCtes: String =
    "stg AS (SELECT DISTINCT h1 FROM shh WHERE doc_id % 10 <> 0), " +
      "bt AS (SELECT b.doc_id, b.h1, stg.h1 AS seen FROM shh b " +
      "LEFT JOIN stg ON b.h1 = stg.h1 WHERE b.doc_id % 10 = 0), " +
      "bagg AS (SELECT doc_id, count(DISTINCT h1) AS n_shingles, " +
      "count(DISTINCT CASE WHEN seen IS NOT NULL THEN h1 END) AS n_seen " +
      "FROM bt GROUP BY 1), " +
      "nv AS (SELECT doc_id, CAST(n_shingles AS BIGINT) AS n_shingles, " +
      "CAST(n_seen AS BIGINT) AS n_seen, " +
      "CAST(n_shingles - n_seen AS DOUBLE) / CAST(n_shingles AS DOUBLE) " +
      "AS novelty FROM bagg), " +
      "nvb AS (SELECT doc_id, n_shingles, n_seen, novelty, " +
      "CASE WHEN novelty >= 0.9 THEN 'novel' " +
      "WHEN novelty >= 0.5 THEN 'mixed' ELSE 'dup_heavy' END AS band FROM nv)"

  /** Oracle CTE chain mirroring [[maskSpans]] — ends in
    * `sp(doc_id, island, s, e)` with `toks(doc_id, ws)` also in scope.
    */
  private val spanCtes: String =
    "toks AS (SELECT doc_id, " +
      "regexp_split_to_array(trim(text), '[ \\t\\n\\x0B\\f\\r]+') AS ws " +
      "FROM documents WHERE text IS NOT NULL), " +
      "evh AS (SELECT DISTINCT " + oMd5Long("array_to_string(ws[i:i+7], ' ')") +
      " AS h1 FROM toks, unnest(range(1, len(ws) - 6)) AS t(i) " +
      "WHERE doc_id % 50 = 0), " +
      "pos0 AS (SELECT doc_id, i AS pos, " +
      oMd5Long("array_to_string(ws[i:i+7], ' ')") + " AS h1 " +
      "FROM toks, unnest(range(1, len(ws) - 6)) AS t(i) " +
      "WHERE doc_id % 50 <> 0), " +
      // (doc_id, pos) is unique in pos0 and evh is distinct, so the
      // inner join IS the semi-join
      "hits AS (SELECT doc_id, pos FROM pos0 JOIN evh USING (h1)), " +
      "r AS (SELECT doc_id, pos, max(pos + 7) OVER (PARTITION BY doc_id " +
      "ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) " +
      "AS prev_end FROM hits), " +
      "f AS (SELECT doc_id, pos, CASE WHEN prev_end IS NULL " +
      "OR pos > prev_end + 1 THEN 1 ELSE 0 END AS flag FROM r), " +
      "isl AS (SELECT doc_id, pos, sum(flag) OVER (PARTITION BY doc_id " +
      "ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) " +
      "AS island FROM f), " +
      "sp AS (SELECT doc_id, island, min(pos) AS s, max(pos) + 7 AS e " +
      "FROM isl GROUP BY 1, 2)"

  /** X109's shared pair kernel — verified media near-dup pairs
    * (ida, idb, hamming ≤ 4), consumed by the q125 report and the q126
    * tier-agreement (one fingerprint pass + one banded self-join per
    * session, the lshPairs discipline). Fingerprints via the seam-aware
    * [[TrainingOps.mediaFps]]; the cache key carries the index dir so
    * the seam and kernel paths can never serve each other.
    *
    * The band self-join is shuffle_hash, not planner-gated (the
    * cellPairCos precedent for corpus self-joins): under the fpIndex
    * seam the planner prices the media table's small file, misses the
    * ×5 explode and the multi-million-entry hash-relation build, and
    * BROADCASTS — measured 5× slower at sf10 on the r14 sketch; at
    * 100 TB a corpus-sized build side must never broadcast regardless.
    * The hamming verify references only the candidate distinct's
    * grouping columns, so Catalyst pushes it BELOW the distinct —
    * random-collision candidates live and die inside one codegen stage
    * and only survivors reach an exchange. With the r15 24-bit bands
    * the candidate volume itself is ~C(n,2)·5/2^24 — near-linear
    * decades at corpus scale (the r14 12-bit keyspace was the round's
    * one `weak`: 2.85e8 candidates at sf10, quadratic by construction).
    */
  private def mediaPairs(s: SparkSession, d: String): DataFrame = {
    graft.util.Caches.sharedIndex(s, s"mediaPairs:$d" + TrainingOps.fpKey(s)) {
      val fps = graft.util.Caches.transientPersist(
        TrainingOps.mediaFps(s, d))
      val bands = fps.select(col("doc_id"), col("fp0"), col("fp1"))
        .withColumn("bk", explode(sequence(lit(0),
          lit(graft.multimodal.Multimodal.MediaBands - 1))))
        .withColumn("bkey",
          expr(graft.multimodal.Multimodal.bandKeySql("fp0", "fp1")))
      val joinCond = col("a.bk") === col("b.bk") &&
        col("a.bkey") === col("b.bkey") &&
        col("a.doc_id") < col("b.doc_id")
      bands.as("a").join(bands.hint("shuffle_hash").as("b"), joinCond)
        .select(col("a.doc_id").as("ida"), col("b.doc_id").as("idb"),
          col("a.fp0").as("fpa0"), col("a.fp1").as("fpa1"),
          col("b.fp0").as("fpb0"), col("b.fp1").as("fpb1"))
        .distinct()
        .select(col("ida"), col("idb"),
          expr(graft.multimodal.Multimodal
            .hammingSql("fpa0", "fpa1", "fpb0", "fpb1"))
            .cast("int").as("hamming"))
        .filter(col("hamming") <= 4)
    }
  }

  /** The q127 verdict frame, factored (r15) so the q123 triage
    * composite can carry a media column off the SAME kernel (the
    * incrementalVerdicts/noveltyFrame discipline): each batch payload
    * (doc_id ≡ 0 mod 10) gets 'near' with its best standing partner
    * (min hamming, ties → min id) or 'fresh'; unfingerprintable
    * payloads read 'fresh' (the probe's spine convention). A filter +
    * best-partner window over the shared [[mediaPairs]] kernel; the
    * spine join is planner-gated.
    */
  private def mediaVerdicts(s: SparkSession, d: String): DataFrame =
    // r18 kernel promotion (BASELINE.md r18 OPTIMIZATION phase): two
    // consumers (q127 and q123's media column) each re-ran the filter + best-partner window
    // + spine join over the cached mediaPairs kernel. Batch-sized
    // narrow frame; key mirrors mediaPairs' seam dir so postures can
    // never serve each other.
    graft.util.Caches.sharedIndex(s, s"mediaVerdicts:$d" + TrainingOps.fpKey(s))(
      mediaVerdictsBuild(s, d))

  private def mediaVerdictsBuild(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val isA = col("ida") % 10 === 0
    val isB = col("idb") % 10 === 0
    val w = Window.partitionBy("doc_id")
      .orderBy(col("hamming"), col("near_of"))
    val near = mediaPairs(s, d)
      .filter(isA =!= isB)
      .select(
        when(isA, col("ida")).otherwise(col("idb")).as("doc_id"),
        when(isA, col("idb")).otherwise(col("ida")).as("near_of"),
        col("hamming"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
    documents(s, d).filter(col("doc_id") % 10 === 0)
      .select(col("doc_id"))
      .join(near, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("near_of").isNotNull, lit("near"))
          .otherwise(lit("fresh")).as("verdict"),
        col("near_of"), col("hamming"))
  }

  /** Oracle CTE chain mirroring [[mediaVerdicts]] — ends in
    * `mv(doc_id, verdict, near_of, hamming)`; expects `mpairs`
    * ([[mediaPairCtes]]) in scope.
    */
  private val mvCtes: String =
    "mhits AS (SELECT CASE WHEN ida % 10 = 0 THEN ida ELSE idb END AS doc_id, " +
      "CASE WHEN ida % 10 = 0 THEN idb ELSE ida END AS near_of, hamming FROM mpairs " +
      "WHERE (ida % 10 = 0) <> (idb % 10 = 0)), " +
      "mnr AS (SELECT doc_id, near_of, hamming FROM (SELECT doc_id, near_of, hamming, " +
      "row_number() OVER (PARTITION BY doc_id ORDER BY hamming, near_of) AS rn " +
      "FROM mhits) WHERE rn = 1), " +
      "mv AS (SELECT b.doc_id, " +
      "CASE WHEN near_of IS NOT NULL THEN 'near' ELSE 'fresh' END AS verdict, " +
      "near_of, hamming " +
      "FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 0) b " +
      "LEFT JOIN mnr ON b.doc_id = mnr.doc_id)"

  /** Oracle CTE chain mirroring [[mediaPairs]] — ends in
    * `mpairs(ida, idb, hamming)` with `mfp(doc_id, fp0, fp1)` also in
    * scope (the r15 120-bit two-long packing, 5×24-bit bands).
    */
  private[queries] val mediaPairCtes: String =
    "mt AS (SELECT doc_id, text, strlen(text) AS n FROM documents " +
      "WHERE text IS NOT NULL AND strlen(text) >= 125), " +
      "mb AS (SELECT doc_id, (((ord(substr(text, CAST(i AS INTEGER), 1)) * 16777216 " +
      "+ ord(substr(text, CAST(i + 1 AS INTEGER), 1)) * 65536 " +
      "+ ord(substr(text, CAST(i + 3 AS INTEGER), 1)) * 256 " +
      "+ ord(substr(text, CAST(i + 5 AS INTEGER), 1))) * 2654435761) >> 16) % 120 AS bkt " +
      "FROM mt, unnest(range(1, n - 4)) AS u(i)), " +
      "mh AS (SELECT doc_id, bkt, count(*) AS c FROM mb GROUP BY 1, 2), " +
      "mfp AS (SELECT doc_id, CAST(sum(CASE WHEN c % 2 = 1 AND bkt < 60 " +
      "THEN (CAST(1 AS BIGINT) << CAST(bkt AS INTEGER)) ELSE 0 END) AS BIGINT) AS fp0, " +
      "CAST(sum(CASE WHEN c % 2 = 1 AND bkt >= 60 " +
      "THEN (CAST(1 AS BIGINT) << CAST(bkt - 60 AS INTEGER)) ELSE 0 END) AS BIGINT) AS fp1 " +
      "FROM mh GROUP BY 1), " +
      "mbands AS (SELECT doc_id, fp0, fp1, bk, " +
      "CASE bk WHEN 0 THEN fp0 & 16777215 " +
      "WHEN 1 THEN (fp0 >> 24) & 16777215 " +
      "WHEN 2 THEN ((fp0 >> 48) & 4095) | ((fp1 & 4095) << 12) " +
      "WHEN 3 THEN (fp1 >> 12) & 16777215 " +
      "ELSE (fp1 >> 36) & 16777215 END AS bkey " +
      "FROM mfp, unnest(range(0, 5)) AS u(bk)), " +
      "mcand AS (SELECT DISTINCT a.doc_id AS ida, b2.doc_id AS idb, " +
      "a.fp0 AS fpa0, a.fp1 AS fpa1, b2.fp0 AS fpb0, b2.fp1 AS fpb1 " +
      "FROM mbands a JOIN mbands b2 " +
      "ON a.bk = b2.bk AND a.bkey = b2.bkey AND a.doc_id < b2.doc_id), " +
      "mpairs AS (SELECT ida, idb, " +
      "CAST(bit_count(xor(fpa0, fpb0)) + bit_count(xor(fpa1, fpb1)) AS INTEGER) AS hamming " +
      "FROM mcand WHERE bit_count(xor(fpa0, fpb0)) + bit_count(xor(fpa1, fpb1)) <= 4)"

  // ---- the KMV source-overlap pair stages (q132/q134, r15/r16) -------

  /** The bottom-k/KMV signature frame per source — q132's aggregate,
    * parameterized by provenance granularity: `grain` refines `source`
    * to `source#(doc_id % grain)`, the synthetic fine-grained-provenance
    * scenario (per-domain sources) the sketch exists for. Per-source
    * state is O(k) at ANY granularity; one exchange of map-side-combined
    * partial buffers.
    */
  private[graft] def kmvSigs(s: SparkSession, d: String,
      grain: Option[Int] = None, k: Int = 256): DataFrame = {
    val srcCol = grain match {
      case Some(g) => concat(col("source"), lit("#"),
        (col("doc_id") % g).cast("string"))
      case None => col("source")
    }
    val src = documents(s, d).select(col("doc_id"), srcCol.as("source"))
    val sig = udaf(new graft.functions.KmvSignature(k))
    TrainingOps.shinglePostings(s, d)
      .join(src.hint("shuffle_hash"), "doc_id")
      .groupBy("source").agg(sig(col("h1")).as("sig"))
  }

  /** The KMV Jaccard estimator over a candidate frame of (source_a,
    * source_b, sa, sb): est = |{h ∈ A∩B : h ≤ kth-min(A∪B)}| /
    * min(k, |A∪B|) — exact integer arithmetic until the one division
    * (q132's oracle-checkable contract). ONE definition shared by the
    * NL and banded pair stages, so the estimate cannot drift between
    * the bounded-|S| and fine-grained paths.
    *
    * Evaluated as a FUSED MERGE WALK over the two sorted-distinct
    * signatures (tight-loop UDF, the simhash/q64 precedent — r17):
    * one ascending pass counts union positions and common elements and
    * stops at the k-th union element, computing exactly the integers
    * the expression form (array_union → array_sort → element_at →
    * filter(array_intersect)) assembled through four O(k)
    * allocate-and-hash passes. Measured (pair stage isolated,
    * BASELINE.md r17): at |S|=140 banded 3.03 → 0.45 s and NL
    * 5.10 → 0.35 s (the estimator WAS ~90% of both stages); at
    * |S|=2000 NL 12.6 vs banded 5.5 s — the crossover anchors hold
    * with banded still ~2× from the mid-hundreds on. Same integers,
    * same division, oracle rows unchanged (the estimate-identity and
    * driver-KMV pins in AuditSpec hold across the swap).
    */
  private def kmvEstimate(k: Int)(pairs: DataFrame): DataFrame = {
    val walk = udf((sa: Seq[Long], sb: Seq[Long]) => {
      val na = sa.length
      val nb = sb.length
      var i = 0; var j = 0; var union = 0; var common = 0L
      while (union < k && (i < na || j < nb)) {
        val a = if (i < na) sa(i) else Long.MaxValue
        val b = if (j < nb) sb(j) else Long.MaxValue
        if (a == b) { common += 1; i += 1; j += 1 }
        else if (a < b) i += 1
        else j += 1
        union += 1
      }
      (common, union)
    })
    pairs
      .withColumn("e", walk(col("sa"), col("sb")))
      .select(col("source_a"), col("source_b"),
        col("e").getField("_1").as("n_common"),
        (col("e").getField("_1").cast("double") /
          col("e").getField("_2").cast("double")).as("est_jacc"))
      .filter(col("n_common") > 0)
  }

  /** q132's pair stage: broadcast nested-loop over the |sources|-row
    * signature frame — |S|²/2 bounded-cost rows, shuffle-free, the
    * right shape at the documented tens-of-sources contract. At
    * fine-grained provenance |S|²/2 dominates ([[kmvPairsBanded]] is
    * the scale path; BASELINE.md r16/r17 record the crossover).
    */
  private[graft] def kmvPairsNL(sigs: DataFrame, k: Int = 256): DataFrame =
    kmvEstimate(k)(
      sigs.select(col("source").as("source_a"), col("sig").as("sa"))
        .join(broadcast(sigs.select(col("source").as("source_b"),
          col("sig").as("sb"))), col("source_a") < col("source_b")))

  /** The fine-grained-provenance pair stage (r16 — the r15 "band the
    * signature minima" posture as code): every output pair has
    * n_common > 0, i.e. shares a signature element ≤ the union's
    * kth-min — in particular shares a signature ELEMENT — so joining
    * the exploded signatures on the element finds every output pair
    * and ONLY co-occurring ones. Candidate volume is the co-occurrence
    * structure itself (output-bounded + the per-element fan-out),
    * never |S|²/2: at 10⁵ sources the NL stage enumerates 5·10⁹ pairs
    * whether or not they overlap; this stage pays |S|·k exploded rows
    * (one shuffle on the 64-bit element) plus the pairs that actually
    * co-occur. Estimate-identity with [[kmvPairsNL]] is pinned in
    * AuditSpec; the per-element fan-out is bounded by the number of
    * sources sharing a bottom-k hash (skew = real cross-source
    * duplication, exactly what the report exists to surface).
    */
  private[graft] def kmvPairsBanded(sigs: DataFrame, k: Int = 256): DataFrame = {
    val el = sigs.select(col("source"), explode(col("sig")).as("h"))
    val cand = el.select(col("source").as("source_a"), col("h"))
      .join(el.select(col("source").as("source_b"), col("h")), Seq("h"))
      .filter(col("source_a") < col("source_b"))
      .select("source_a", "source_b").distinct()
    kmvEstimate(k)(cand
      .join(sigs.select(col("source").as("source_a"), col("sig").as("sa")),
        Seq("source_a"))
      .join(sigs.select(col("source").as("source_b"), col("sig").as("sb")),
        Seq("source_b")))
  }

  /** The measured NL-win ceiling: NL is chosen only at |S| ≤ this. The
    * r16 stage-isolation table (BASELINE.md) puts the crossover
    * between |S|=20 (NL 1.35 s vs banded 1.61 — a noise-level margin at q132's tens-of-sources
    * contract) and |S|=100 (banded ~2× and widening from there at EVERY
    * measured tier, dense sf0.1 and sparse sf10 alike); both stages are
    * sub-2 s anywhere under this ceiling, so the constant is uncritical.
    */
  private[graft] val KmvNlMaxSources = 64L

  /** The banded-stage choice rule, pure (r17 — the measured crossover
    * as code): banded from |S| > [[KmvNlMaxSources]]. The r16 verdict
    * proposed comparing candidate VOLUMES instead — banded iff
    * Σ_h C(c_h, 2) element-join rows < the NL square |S|²/2 — and that
    * rule was implemented first and REFUTED by stage isolation
    * (r16 + r17, BASELINE.md r17): on the dense
    * shared-vocabulary bench corpus at |S|=140 it reads 156k ≫ 9.7k
    * and routes to NL, which MEASURES 1.6× slower than banded there
    * (5.13 vs 3.26 s; r16's table already had banded ~2× ahead from
    * |S|≈100 regardless of density). The volume comparison mis-prices
    * the stages: banded's estimator evaluations are a SUBSET of NL's
    * (only co-occurring pairs; in the dense regime the sets coincide),
    * and its extra element-join rows are thin 64-bit hash rows, two
    * orders cheaper than an O(k) array-estimator evaluation — so
    * banded is never materially worse and wins everywhere the work is
    * non-trivial. NL survives only at tiny |S|, where the shuffle-free
    * broadcast plan's simplicity beats an exploded exchange that has
    * nothing to amortize. `bandedRows` stays an input for the logged
    * statistics line (observability), not the decision.
    */
  private[graft] def kmvChooseBanded(nSources: Long, bandedRows: Long): Boolean =
    nSources > KmvNlMaxSources

  /** The source-overlap pair FRONT DOOR (r17 ask #2): chooses the NL or
    * banded stage from the signature frame's own cheap statistics —
    * |S| (one count of the already-aggregated frame) and the banded
    * stage's pre-distinct join volume Σ_h C(c_h, 2) (one bounded agg
    * over the |S|·k exploded signatures — rows keyed by the 64-bit
    * element, counts bounded by |S|). The choice is LOGGED; the two
    * stages are estimate-identical by construction (one shared
    * [[kmvEstimate]] expression, pinned in AuditSpec), so dispatch can
    * change the plan but never the answer. The signature frame is
    * transient-persisted: the stats pass and the chosen stage must not
    * re-pay the corpus-side signature build.
    */
  private[graft] def kmvPairs(sigs0: DataFrame, k: Int = 256): DataFrame =
    kmvPairsDispatch(sigs0, k).pairs

  /** [[kmvPairs]] with the dispatch DECISION returned alongside the
    * pair frame (r18 — the front door's production caller, `Cli audit`,
    * must log the choice INTO the audit output, not just stderr): the
    * chosen stage plus the statistics it was chosen from. The two
    * stages stay estimate-identical by construction, so the decision is
    * observability, never an answer change.
    */
  private[graft] final case class KmvDispatch(pairs: DataFrame,
      stage: String, nSources: Long, nlPairs: Long, bandedRows: Long)

  private[graft] def kmvPairsDispatch(sigs0: DataFrame,
      k: Int = 256): KmvDispatch = {
    val sigs = graft.util.Caches.transientPersist(sigs0)
    val nS = sigs.count()
    val bandedRows = sigs.select(explode(col("sig")).as("h"))
      .groupBy("h").agg(count(lit(1)).as("c"))
      .agg(coalesce(sum(col("c") * (col("c") - lit(1L))), lit(0L)))
      .head.getLong(0) / 2
    val banded = kmvChooseBanded(nS, bandedRows)
    val stage = if (banded) "banded" else "nl"
    System.err.println(s"[audit] kmvPairs dispatch: |S|=$nS " +
      s"nl_pairs=${nS * (nS - 1) / 2} banded_rows=$bandedRows -> $stage")
    KmvDispatch(
      if (banded) kmvPairsBanded(sigs, k) else kmvPairsNL(sigs, k),
      stage, nS, nS * (nS - 1) / 2, bandedRows)
  }

  val all: Seq[Q] = Seq(

    // Cross-source n-gram overlap matrix: for every pair of sources, how
    // many distinct hashed shingles they share, and the source-level
    // Jaccard — the "how much will dedup across dumps find" report a
    // curator reads before merging crawls (the cross-dump overlap tables
    // in the C4/RefinedWeb/FineWeb writeups). Scale: rides the SHARED
    // shingle index (no tokenize pass of its own); ONE exchange on h1
    // groups each shingle's distinct source set via collect_set — bounded
    // by |sources| (tens, never corpus-sized), unlike a doc-level
    // inverted index whose hot keys fan out df² — and the unordered pair
    // expansion off the sorted set is map-side (≤ |sources|²/2 rows per
    // shingle); the final aggregate has ≤ |sources|²/2 groups and the
    // size join is a bounded |sources|-row broadcast. Output is one row
    // per co-occurring source pair.
    Q("q96_source_overlap",
      (s, d) => {
        val src = documents(s, d).select(col("doc_id"), col("source"))
        // the doc_id-keyed source attach rides the index's doc_id
        // partitioning (shuffle_hash hint: the planner's estimate would
        // broadcast the INDEX side — its cached 16-byte rows undercut
        // the documents scan estimate — backwards at any scale; hinted,
        // only the (doc_id, source) side moves); the h1 groupBy is the
        // query's one wide exchange. Identical source sets then roll
        // together BEFORE any pair expansion: word-soup corpora have far
        // fewer distinct source sets than distinct shingles, so the |S|²
        // expansion runs over set-profile rows weighted by multiplicity,
        // never over every shingle. Transient-persisted: the pair
        // expansion AND the per-source sizes both read it (the q95
        // hashed-frame lesson). A dictionary-encoded bit_or bitmap form
        // of this aggregate measured a DEAD HEAT in an interleaved
        // pass-posture A/B (r16: 1.69 vs 1.64 s at sf0.1 — the
        // cost is the per-pass job floor, not the aggregate), and needs
        // a source-dictionary collect (an extra corpus pass at scale
        // unless sources come from metadata) — so the simpler form ships.
        val bySet = graft.util.Caches.transientPersist(
          TrainingOps.shinglePostings(s, d)
            .join(src.hint("shuffle_hash"), "doc_id")
            .groupBy("h1")
            .agg(array_sort(collect_set(col("source"))).as("srcs"))
            .groupBy("srcs").agg(count(lit(1)).as("w")))
        val sz = bySet.select(explode(col("srcs")).as("source"), col("w"))
          .groupBy("source").agg(sum("w").as("n"))
        // unordered-pair expansion as two chained explodes (both plan
        // codegen'd GenerateExec; an equivalent nested-HOF flatten was
        // measured ~0.5 s slower at sf0.1 — HOF lambdas never enter
        // codegen) with the a < b filter deduplicating orientation
        val pairs = bySet
          .select(explode(col("srcs")).as("sa"), col("srcs"), col("w"))
          .select(col("sa"), explode(col("srcs")).as("sb"), col("w"))
          .filter(col("sa") < col("sb"))
          .groupBy(col("sa").as("source_a"), col("sb").as("source_b"))
          .agg(sum("w").as("shared"))
        pairs
          .join(broadcast(sz.select(col("source").as("source_a"), col("n").as("na"))),
            "source_a")
          .join(broadcast(sz.select(col("source").as("source_b"), col("n").as("nb"))),
            "source_b")
          .select(col("source_a"), col("source_b"), col("shared"),
            (col("shared").cast("double") /
              (col("na") + col("nb") - col("shared")).cast("double")).as("jacc"))
          .orderBy("source_a", "source_b")
      },
      Some(s"WITH ${TrainingOps.shCte}, ${TrainingOps.shhCte}, " +
        "ss AS (SELECT DISTINCT dd.source, shh.h1 FROM shh JOIN documents dd USING (doc_id)), " +
        "sz AS (SELECT source, count(*) AS n FROM ss GROUP BY 1) " +
        "SELECT a.source AS source_a, b.source AS source_b, " +
        "count(*) AS shared, " +
        "CAST(count(*) AS DOUBLE) / CAST(za.n + zb.n - count(*) AS DOUBLE) AS jacc " +
        "FROM ss a JOIN ss b ON a.h1 = b.h1 AND a.source < b.source " +
        "JOIN sz za ON a.source = za.source JOIN sz zb ON b.source = zb.source " +
        "GROUP BY a.source, b.source, za.n, zb.n " +
        "ORDER BY source_a, source_b")),

    // q96's overlap matrix from BOUNDED per-source state (r15 — closes
    // the q96 watch item): q96's set-profile aggregate is bounded by the
    // DISTINCT SOURCE SETS that actually co-occur, which is fine at tens
    // of sources but regrows toward per-shingle rows if sources ever
    // become fine-grained (per-domain provenance). This variant estimates
    // the same pairwise Jaccard from a bottom-k/KMV SIGNATURE per source
    // (the k=256 smallest distinct shingle hashes — KmvSignature, the
    // mergeable typed Aggregator): per-source state is O(k) REGARDLESS of
    // granularity, and bottom-k sketches COMPOSE (the k smallest of a
    // union fall out of the two truncated signatures), so the estimator
    // est = |{h ∈ A∩B : h ≤ kth-min(A∪B)}| / min(k, |A∪B|) is exact
    // integer arithmetic until one final division — deterministic, hence
    // oracle-checkable, unlike HLL. When a pair's union fits inside k the
    // estimate IS the exact Jaccard (both signatures complete); beyond
    // it the error concentrates at ~1/√k (AuditSpec pins both the exact
    // driver recomputation of the signatures and the error envelope
    // against q96's exact answer). Scale: ONE exchange of partial
    // signature buffers (|sources|·k longs per task, map-side combined —
    // no per-shingle set profile, no |S|²-per-shingle expansion); the
    // pair stage is a broadcast nested-loop over the |sources|-row
    // signature frame (bounded-panel posture). At 10⁵ fine-grained
    // sources the pair stage is |S|²/2 ≈ 5·10⁹ bounded-cost rows — still
    // embarrassingly parallel with NO shuffle (documented posture: band
    // the signatures' minima first if |S| ever makes even that heavy).
    Q("q132_source_overlap_sketch",
      (s, d) => {
        // signature aggregate + NL pair stage, both factored (r16) so
        // the fine-grained path (q134/kmvPairsBanded) shares the same
        // doc_id-keyed source attach (shuffle_hash for the q96
        // planner-estimate reason; duplicates need no pre-distinct —
        // the signature buffer dedups by construction) and the SAME
        // estimator expression. Persist + materialize before the pair
        // stage (r18, the q134 fix): the NL stage reads the sig frame
        // twice (broadcast build + stream side) — 0.62 → 0.49 s at
        // sf0.1 (OPTIMIZATION_r18.md). Same rows either way.
        val sigs = graft.util.Caches.transientPersist(kmvSigs(s, d))
        sigs.count()
        kmvPairsNL(sigs).orderBy("source_a", "source_b")
      },
      Some(s"WITH ${TrainingOps.shCte}, ${TrainingOps.shhCte}, " +
        "ss AS (SELECT DISTINCT dd.source, shh.h1 FROM shh JOIN documents dd USING (doc_id)), " +
        "sig AS (SELECT source, h1 FROM (SELECT source, h1, " +
        "row_number() OVER (PARTITION BY source ORDER BY h1) AS rn FROM ss) " +
        "WHERE rn <= 256), " +
        "srcs AS (SELECT DISTINCT source FROM sig), " +
        "pr AS (SELECT a.source AS sa, b.source AS sb FROM srcs a " +
        "JOIN srcs b ON a.source < b.source), " +
        "uni AS (SELECT pr.sa, pr.sb, s.h1, " +
        "max(CASE WHEN s.source = pr.sa THEN 1 ELSE 0 END) AS ina, " +
        "max(CASE WHEN s.source = pr.sb THEN 1 ELSE 0 END) AS inb " +
        "FROM pr JOIN sig s ON s.source = pr.sa OR s.source = pr.sb " +
        "GROUP BY 1, 2, 3), " +
        "rk AS (SELECT sa, sb, h1, ina, inb, " +
        "row_number() OVER (PARTITION BY sa, sb ORDER BY h1) AS rn, " +
        "count(*) OVER (PARTITION BY sa, sb) AS nu FROM uni) " +
        "SELECT sa AS source_a, sb AS source_b, n_common, " +
        "CAST(n_common AS DOUBLE) / CAST(denom AS DOUBLE) AS est_jacc " +
        "FROM (SELECT sa, sb, " +
        "CAST(sum(CASE WHEN rn <= LEAST(nu, 256) AND ina = 1 AND inb = 1 " +
        "THEN 1 ELSE 0 END) AS BIGINT) AS n_common, " +
        "LEAST(min(nu), 256) AS denom FROM rk GROUP BY sa, sb) " +
        "WHERE n_common > 0 ORDER BY source_a, source_b")),

    // Takedown impact report (X116, r15): the page a curator reads
    // BEFORE landing a deletion batch against the standing indexes
    // ([[graft.sink.Sink.deleteFingerprints]]/[[graft.sink.Sink
    // .deleteVectors]] — the tombstone tier this query is the registry
    // face of). The deletion set here is the deterministic stand-in
    // doc_id ≡ 0 (mod 97) (~1% of the corpus — the q95 %-convention
    // for a takedown-sized batch). One row per source with at least one
    // takedown: how many docs and tokens leave, and how many VERIFIED
    // near-dup pairs at each tier (lexical jacc ≥ 0.8, semantic in-cell
    // cos ≥ 0.35, media hamming ≤ 4) reference a deleted doc from this
    // source — the dedup coverage the corpus loses (a surviving doc
    // whose only duplicate partner is taken down silently becomes
    // 'unique'; a release manager re-prices keep-best decisions against
    // exactly these counts). Attribution is per deleted ENDPOINT: a
    // pair with both endpoints deleted counts once for each endpoint's
    // source. Scale: all three pair inputs are the shared session
    // kernels (overlap-bounded lists — nothing here enumerates pairs);
    // the endpoint explode is map-side ×2; the deletion-set join is
    // planner-gated (request-sized side — broadcast at any real scale);
    // final aggregate has ≤ |sources| groups.
    Q("q133_takedown_report",
      (s, d) => {
        val isDel = col("doc_id") % 97 === 0
        // 4 consumers (spine + three tier attachments) — persisted once
        val del = graft.util.Caches.transientPersist(
          documents(s, d).filter(isDel).select(col("doc_id"), col("source")))
        val tok = documents(s, d).filter(isDel)
          .filter(col("text").isNotNull)
          .select(col("doc_id"),
            size(split(trim(col("text")), "[ \\t\\n\\u000B\\f\\r]+"))
              .cast("long").as("n_tokens"))
        val spine = del.join(tok, Seq("doc_id"), "left")
          .groupBy("source")
          .agg(count(lit(1)).as("n_del"),
            coalesce(sum("n_tokens"), lit(0L)).cast("long").as("tok_del"))
        // deleted endpoints of a verified pair list, counted per source
        def tier(pairs: DataFrame, name: String): DataFrame = pairs
          .select(explode(array(col("ida"), col("idb"))).as("doc_id"))
          .join(del, Seq("doc_id"))
          .groupBy("source").agg(count(lit(1)).as(name))
        val lex = tier(TrainingOps.lshPairs(s, d), "lex_pairs")
        val sem = tier(TrainingOps.cellPairCos(s, d)
          .filter(col("cos") >= TrainingOps.CellPairRetainCos), "sem_pairs")
        val med = tier(mediaPairs(s, d), "media_pairs")
        spine
          .join(lex, Seq("source"), "left")
          .join(sem, Seq("source"), "left")
          .join(med, Seq("source"), "left")
          .select(col("source"), col("n_del"), col("tok_del"),
            coalesce(col("lex_pairs"), lit(0L)).as("lex_pairs"),
            coalesce(col("sem_pairs"), lit(0L)).as("sem_pairs"),
            coalesce(col("media_pairs"), lit(0L)).as("media_pairs"))
          .orderBy("source")
      },
      Some(s"WITH ${TrainingOps.lshPairsCtes}, " +
        s"${TrainingOps.cellPairCosCtes}, $mediaPairCtes, " +
        "del AS (SELECT doc_id, source FROM documents WHERE doc_id % 97 = 0), " +
        "dtok AS (SELECT doc_id, " +
        "CAST(len(regexp_split_to_array(trim(text), '[ \\t\\n\\x0B\\f\\r]+')) " +
        "AS BIGINT) AS n_tokens FROM documents " +
        "WHERE doc_id % 97 = 0 AND text IS NOT NULL), " +
        "spine AS (SELECT d.source, count(*) AS n_del, " +
        "CAST(coalesce(sum(t.n_tokens), 0) AS BIGINT) AS tok_del " +
        "FROM del d LEFT JOIN dtok t USING (doc_id) GROUP BY 1), " +
        "lexc AS (SELECT d.source, count(*) AS c FROM " +
        "(SELECT ida AS doc_id FROM pairs UNION ALL SELECT idb FROM pairs) ep " +
        "JOIN del d USING (doc_id) GROUP BY 1), " +
        "semc AS (SELECT d.source, count(*) AS c FROM " +
        "(SELECT ida AS doc_id FROM cpc WHERE cos >= 0.35 " +
        "UNION ALL SELECT idb FROM cpc WHERE cos >= 0.35) ep " +
        "JOIN del d USING (doc_id) GROUP BY 1), " +
        "medc AS (SELECT d.source, count(*) AS c FROM " +
        "(SELECT ida AS doc_id FROM mpairs UNION ALL SELECT idb FROM mpairs) ep " +
        "JOIN del d USING (doc_id) GROUP BY 1) " +
        "SELECT s.source, s.n_del, s.tok_del, " +
        "CAST(coalesce(l.c, 0) AS BIGINT) AS lex_pairs, " +
        "CAST(coalesce(e.c, 0) AS BIGINT) AS sem_pairs, " +
        "CAST(coalesce(m.c, 0) AS BIGINT) AS media_pairs " +
        "FROM spine s LEFT JOIN lexc l USING (source) " +
        "LEFT JOIN semc e USING (source) LEFT JOIN medc m USING (source) " +
        "ORDER BY source")),

    // DSIR-shaped importance weights (Xie et al. 2023, "Data Selection
    // for Language Models via Importance Resampling"): score every
    // document by how much its hashed-unigram feature mass looks like a
    // TARGET slice (here lang='en') relative to the raw corpus — the
    // importance weight a targeted subsample resamples by. Re-expressed
    // in the engine's exact-arithmetic house style: per-bucket weight
    // w_b = floor((t_b+1)·2^20 / (r_b+1)) in correctly-rounded double
    // ops then an exact int64 (the q86 fixed-point convention; the
    // published log-ratio needs ln(), rejected per the q52 libm lesson —
    // monotone-equivalent for ranking), and each doc's score is an exact
    // integer sum Σ tf·w_b over its terms, divided once at the end.
    // Scale: features ride the SHARED term-frequency index (no tokenize
    // pass); the lang attach is the one doc-keyed exchange (planner-
    // gated join — documents is unbounded, no broadcast hint: the q79
    // lesson); the bucket-mass aggregate has exactly 512 groups and the
    // weight table is a 512-row broadcast BY CONSTRUCTION; the per-doc
    // score aggregate rides the persisted attach's partitioning.
    Q("q97_dsir_weights",
      (s, d) => {
        // the term STRING dies here (r13): after the 512-bucket hash,
        // nothing downstream reads `term` — carrying it through the
        // doc-keyed exchange and the persisted attach made the join
        // shuffle and the cache term-string-volume for zero use (the
        // q112 string-free-exchange rule applied to this query). The
        // attach now moves only (doc_id, bucket, tf) int64s + lang.
        val tfk = TrainingOps.termFreq(s, d).filter(col("g") === 1)
          .select(col("doc_id"),
            pmod(Hashing.md5Long(col("term")), lit(512L)).as("bucket"),
            col("tf"))
        val lang = documents(s, d).select(col("doc_id"), col("lang"))
        // transient-persisted: bucket masses AND the score aggregate
        // both read the attach (the q95 hashed-frame lesson)
        val wl = graft.util.Caches.transientPersist(tfk.join(lang, "doc_id"))
        val masses = wl.groupBy("bucket")
          .agg(sum("tf").as("r"),
            sum(when(col("lang") === "en", col("tf")).otherwise(0L)).as("t"))
        val weights = masses.select(col("bucket"),
          floor((col("t") + 1).cast("double") * lit(1048576.0)
            / (col("r") + 1).cast("double")).cast("long").as("ps"))
        wl.join(broadcast(weights), "bucket")
          .groupBy("doc_id", "lang")
          .agg(sum("tf").cast("long").as("n_tokens"),
            sum(col("tf") * col("ps")).as("sps"))
          .select(col("doc_id"), col("lang"), col("n_tokens"),
            (col("sps").cast("double")
              / (col("n_tokens").cast("double") * 1048576.0)).as("dsir_score"))
          .orderBy("doc_id")
      },
      Some("WITH toks AS (SELECT doc_id, lang, " +
        "regexp_split_to_array(trim(text), '[ \\t\\n\\x0B\\f\\r]+') AS ws " +
        "FROM documents WHERE text IS NOT NULL), " +
        "tok AS (SELECT doc_id, lang, unnest(ws) AS w FROM toks), " +
        s"tb AS (SELECT doc_id, lang, ${oMd5Long("w")} % 512 AS bucket, " +
        "count(*) AS tf FROM tok GROUP BY 1, 2, 3), " +
        "m AS (SELECT bucket, SUM(tf) AS r, " +
        "SUM(CASE WHEN lang = 'en' THEN tf ELSE 0 END) AS t FROM tb GROUP BY 1), " +
        "w AS (SELECT bucket, CAST(floor(CAST(t + 1 AS DOUBLE) * 1048576.0 " +
        "/ CAST(r + 1 AS DOUBLE)) AS BIGINT) AS ps FROM m) " +
        "SELECT doc_id, lang, CAST(SUM(tf) AS BIGINT) AS n_tokens, " +
        "CAST(SUM(tf * ps) AS DOUBLE) / (CAST(SUM(tf) AS DOUBLE) * 1048576.0) AS dsir_score " +
        "FROM tb JOIN w USING (bucket) GROUP BY doc_id, lang ORDER BY doc_id")),

    // ANN recall audit: recall@10 of the IVF tier (in-cell search, q33's
    // coarse quantizer) against exact brute force, on a deterministic
    // md5-sampled probe panel — the measurement that justifies trusting
    // the bucketed tier at 100 TB (an approximate index you haven't
    // measured recall for is a silent-data-loss hazard). Scale: the probe
    // panel is the ONLY broadcast and is FIXED-SIZE by contract (r13 —
    // production passes explicit probe ids; the pinned
    // smallest-md5(vec_id) panel is the deterministic stand-in, making
    // the exact tier panel×corpus = linear) and both tiers are map-side
    // pair-enumerations against it: exact = one linear corpus pass
    // (inherent to ground truth), IVF = the probe's own cell. Both top-10
    // cuts are rank filters planning partial WindowGroupLimits below the
    // qid exchange (the q71 trick); the intersect join and per-probe
    // aggregate are panel-bounded.
    Q("q98_ann_recall",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        // the SHARED quantized frame + probe panel (q106 mines the same
        // panel this audit measures — TrainingOps.quantizedPanel is the
        // one definition of both); shared-index lifetime, so the five
        // consumers here AND q106 in the same pass pay one scan+quantize
        val (e, probes) = TrainingOps.quantizedPanel(s, d)
        val wq = Window.partitionBy("qid")
          .orderBy(col("cos").desc, col("vec_id").asc)
        def scored(cand: DataFrame): DataFrame = cand
          .select(col("qid"), col("vec_id"),
            cosQ(dotQ(col("qv"), col("query_v")), col("n2"), col("qn2")).as("cos"))
          .withColumn("rk", row_number().over(wq))
          .filter(col("rk") <= 10)
          .select(col("qid"), col("vec_id"))
        val exact = scored(e.crossJoin(broadcast(probes))
          .filter(col("vec_id") =!= col("qid")))
        val ivf = scored(e.join(broadcast(probes),
          col("label") === col("qcell") && col("vec_id") =!= col("qid")))
        val m = exact.join(ivf, Seq("qid", "vec_id"))
          .groupBy("qid").agg(count(lit(1)).as("matched"))
        probes.select(col("qid")).join(m, Seq("qid"), "left")
          .select(col("qid"),
            coalesce(col("matched"), lit(0L)).as("matched"),
            (coalesce(col("matched"), lit(0L)).cast("double") / 10.0).as("recall"))
          .orderBy("qid")
      },
      Some(s"WITH ev AS (SELECT vec_id, label, $oQuant AS v FROM embeddings), " +
        "ee AS (SELECT vec_id, unnest(range(len(v))) AS pos, unnest(v) AS x FROM ev), " +
        "n AS (SELECT vec_id, CAST(SUM(x * x) AS BIGINT) AS n2 FROM ee GROUP BY 1), " +
        s"${TrainingOps.oProbePanel}, " +
        "dots AS (SELECT p.qid, e.vec_id, ev.label, " +
        "CAST(SUM(e.x * q.x) AS BIGINT) AS dot " +
        "FROM p JOIN ee q ON q.vec_id = p.qid " +
        "JOIN ee e ON e.pos = q.pos AND e.vec_id <> p.qid " +
        "JOIN ev ON ev.vec_id = e.vec_id " +
        "GROUP BY 1, 2, 3), " +
        "cs AS (SELECT d.qid, d.vec_id, d.label, " +
        "CAST(dot AS DOUBLE) / (sqrt(CAST(ne.n2 AS DOUBLE)) * sqrt(CAST(nq.n2 AS DOUBLE))) AS cos " +
        "FROM dots d JOIN n ne ON d.vec_id = ne.vec_id JOIN n nq ON d.qid = nq.vec_id), " +
        "ex AS (SELECT qid, vec_id FROM (SELECT qid, vec_id, " +
        "row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rk FROM cs) " +
        "WHERE rk <= 10), " +
        "iv AS (SELECT qid, vec_id FROM (SELECT cs.qid, cs.vec_id, " +
        "row_number() OVER (PARTITION BY cs.qid ORDER BY cos DESC, cs.vec_id) AS rk " +
        "FROM cs JOIN p ON cs.qid = p.qid WHERE cs.label = p.qcell) " +
        "WHERE rk <= 10), " +
        "m AS (SELECT ex.qid, count(*) AS matched FROM ex JOIN iv " +
        "ON ex.qid = iv.qid AND ex.vec_id = iv.vec_id GROUP BY 1) " +
        "SELECT p.qid, COALESCE(m.matched, 0) AS matched, " +
        "CAST(COALESCE(m.matched, 0) AS DOUBLE) / 10.0 AS recall " +
        "FROM p LEFT JOIN m ON p.qid = m.qid ORDER BY p.qid")),

    // MinHash estimator calibration: for every truly-overlapping pair,
    // compare the 8-lane signature agreement (the estimate LSH banding
    // acts on) against exact shingle Jaccard, pooled per true-Jaccard
    // decile — the "can I trust 8 lanes at my threshold" table read
    // before sizing bands for a 100 TB dedup run. Scale: true Jaccard is
    // the SHARED pairIntersections kernel (overlap-bounded, never
    // all-pairs), the estimate comes from (band, minh) bucket collisions
    // (see inline), and the final aggregates have ≤ 10 groups. Both
    // reported doubles are ratios of exact integer sums (pooled
    // Jaccard = Σ∩/Σ∪, mean estimate = Σlanes/8n) — no order-sensitive
    // double accumulation anywhere.
    Q("q99_minhash_error",
      (s, d) => {
        // deciles are a map-side column off the CACHED pair kernel
        val base = TrainingOps.pairIntersections(s, d)
          .select(col("ida"), col("idb"), col("inter"),
            (col("na") + col("nb") - col("inter")).as("uni"))
          .withColumn("decile",
            least(floor(col("inter").cast("double") * 10.0
              / col("uni").cast("double")), lit(9L)).cast("long"))
        // lane agreements via a tall-signature self-join on the
        // (band, minh) BUCKET — a pair agrees on a lane iff both docs
        // land in the same bucket, so agreement volume is governed by
        // actual minhash collisions (≈ Σ jaccard per band), never
        // |pairs| × 8. The r10-rejected form — two doc-keyed joins
        // against the wide-signature frame — shuffled the FULL pair
        // volume twice with 8 lane columns aboard (measured 1.43 s at
        // sf0.1); here the only pair-volume data movement is the
        // agree⋈base attach, whose small side the planner broadcasts at
        // bench scale and shuffles at cluster scale (no hint — the q79
        // rule; agreement volume is corpus-structured, not bounded).
        val sig = TrainingOps.minhashSig(s, d)
        val agree = sig.as("a")
          .join(sig.as("b"),
            col("a.band") === col("b.band") && col("a.minh") === col("b.minh")
              && col("a.doc_id") < col("b.doc_id"))
          .groupBy(col("a.doc_id").as("ida"), col("b.doc_id").as("idb"))
          .agg(count(lit(1)).as("lanes"))
        // true-Jaccard mass per decile needs no join at all (11-group
        // partial agg over the cached pairs); estimate mass joins the
        // agreement table to the pair keys to keep ONLY true-overlap
        // pairs (a cross-shingle hash collision can put a non-
        // overlapping pair in `agree` — the oracle counts lanes for iv
        // pairs only, so must this side)
        val truth = base.groupBy("decile")
          .agg(count(lit(1)).as("n_pairs"), sum("inter").as("sum_inter"),
            sum("uni").as("sum_union"))
        val est = base.select(col("ida"), col("idb"), col("decile"))
          .join(agree, Seq("ida", "idb"))
          .groupBy("decile").agg(sum("lanes").as("sum_lanes"))
        truth.join(est, Seq("decile"), "left")
          .select(col("decile"), col("n_pairs"),
            (col("sum_inter").cast("double")
              / col("sum_union").cast("double")).as("pooled_true"),
            (coalesce(col("sum_lanes"), lit(0L)).cast("double")
              / (col("n_pairs").cast("double") * 8.0)).as("mean_est"))
          .orderBy("decile")
      },
      Some(s"WITH ${TrainingOps.shCte}, ${TrainingOps.shhCte}, " +
        s"${TrainingOps.ivSzCte}, ${TrainingOps.sigCte}, " +
        // wide (pivoted) signatures, the Spark side's shape — joining the
        // TALL sig per pair (iv × 8 bands × 2 sides) costs DuckDB ~20×
        // this plan at sf0.1; the baseline deserves the efficient form
        "sigw AS (SELECT doc_id, " +
        (0 until 8).map(b =>
          s"min(CASE WHEN band = $b THEN minh END) AS m$b").mkString(", ") +
        " FROM sig GROUP BY doc_id), " +
        "base AS (SELECT iv.ida, iv.idb, iv.inter, " +
        "za.n + zb.n - iv.inter AS uni, " +
        (0 until 8).map(b =>
          s"(CASE WHEN a.m$b = b.m$b THEN 1 ELSE 0 END)").mkString(" + ") +
        " AS lanes " +
        "FROM iv JOIN sz za ON iv.ida = za.doc_id " +
        "JOIN sz zb ON iv.idb = zb.doc_id " +
        "JOIN sigw a ON a.doc_id = iv.ida " +
        "JOIN sigw b ON b.doc_id = iv.idb), " +
        "dec AS (SELECT least(CAST(floor(CAST(inter AS DOUBLE) * 10.0 " +
        "/ CAST(uni AS DOUBLE)) AS BIGINT), 9) AS decile, " +
        "inter, uni, lanes FROM base) " +
        "SELECT decile, count(*) AS n_pairs, " +
        "CAST(SUM(inter) AS DOUBLE) / CAST(SUM(uni) AS DOUBLE) AS pooled_true, " +
        "CAST(SUM(lanes) AS DOUBLE) / (CAST(count(*) AS DOUBLE) * 8.0) AS mean_est " +
        "FROM dec GROUP BY 1 ORDER BY 1")),

    // Data-expectations audit (the Deequ / Great Expectations shape): the
    // schema-level invariants a pipeline asserts before a table enters
    // production — key uniqueness, null bounds, derived-column
    // consistency, enum domains, referential integrity, constant
    // embedding dimensionality — as one report row per check with EXACT
    // violation counts (never a boolean that hides the magnitude).
    // NULL-comparison semantics are part of the contract: a NULL operand
    // makes a violation predicate NULL, which counts as NON-violation in
    // both engines (CASE/when fall through) — nullability itself is its
    // own check. Scale: every per-table check is one partial-agg scan
    // (all the checks on a table could fuse into one pass; kept separate
    // rows here for the report shape), the FK checks are anti-joins on
    // the key — the join a 100 TB validation pays anyway — and the dim
    // check's max is a 1-row broadcast. Output is 8 rows.
    Q("q102_expectations",
      (s, d) => {
        // ALL the checks on a table fuse into ONE aggregation pass (one
        // scan, one 1-row partial-agg exchange per table — the shape a
        // 100 TB validation must have); the 1-row wide result unpivots to
        // report rows with a map-side stack(). FK checks stay anti-joins
        // on the key; the dim check's max rides the same fused pass via
        // a self cross-join of its own 1-row aggregate.
        def viol(c: org.apache.spark.sql.Column) =
          sum(c.cast("long")).cast("long")
        val docs = documents(s, d)
          .agg(count(lit(1)).cast("long").as("c"),
            (count(lit(1)) - countDistinct(col("doc_id"))).cast("long")
              .as("v_uniq"),
            viol(when(col("text").isNull, 1L).otherwise(0L)).as("v_null"),
            viol(when(col("text").isNotNull &&
              col("n_chars") =!= length(col("text")).cast("long"), 1L)
              .otherwise(0L)).as("v_chars"))
          .selectExpr("stack(3, " +
            "'documents.doc_id_unique', c, v_uniq, " +
            "'documents.text_not_null', c, v_null, " +
            "'documents.n_chars_consistent', c, v_chars) " +
            "AS (check_name, n_checked, n_violations)")
        val ev = events(s, d)
          .agg(count(lit(1)).cast("long").as("c"),
            viol(when(col("value") < 0, 1L).otherwise(0L)).as("v_neg"),
            viol(when(!col("event_type").isin(
              "click", "purchase", "signup", "error", "view"), 1L)
              .otherwise(0L)).as("v_dom"))
          .selectExpr("stack(2, " +
            "'events.value_non_negative', c, v_neg, " +
            "'events.event_type_in_domain', c, v_dom) " +
            "AS (check_name, n_checked, n_violations)")
        def fk(name: String, child: DataFrame, parent: DataFrame,
            ck: String, pk: String) =
          child.agg(count(lit(1)).cast("long").as("n_checked"))
            .crossJoin(
              child.join(parent, col(ck) === col(pk), "left_anti")
                .agg(count(lit(1)).cast("long").as("n_violations")))
            .select(lit(name).as("check_name"),
              col("n_checked"), col("n_violations"))
        val emb = embeddings(s, d)
        val dims = emb.crossJoin(
            broadcast(emb.agg(max(size(col("embedding"))).as("dmax"))))
          .agg(count(lit(1)).cast("long").as("n_checked"),
            viol(when(size(col("embedding")) =!= col("dmax"), 1L)
              .otherwise(0L)).as("n_violations"))
          .select(lit("embeddings.dim_constant").as("check_name"),
            col("n_checked"), col("n_violations"))
        Seq(docs, ev,
          fk("orders.custkey_references_customer",
            orders(s, d), customer(s, d), "o_custkey", "c_custkey"),
          fk("lineitem.orderkey_references_orders",
            lineitem(s, d), orders(s, d), "l_orderkey", "o_orderkey"),
          dims)
          .reduce(_ unionAll _)
          .withColumn("pass", (col("n_violations") === 0L).cast("int"))
          .orderBy("check_name")
      },
      Some("SELECT check_name, n_checked, n_violations, " +
        "CAST(n_violations = 0 AS INTEGER) AS pass FROM (" +
        "SELECT 'documents.doc_id_unique' AS check_name, count(*) AS n_checked, " +
        "count(*) - count(DISTINCT doc_id) AS n_violations FROM documents " +
        "UNION ALL SELECT 'documents.text_not_null', count(*), " +
        "CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM documents " +
        "UNION ALL SELECT 'documents.n_chars_consistent', count(*), " +
        "CAST(sum(CASE WHEN text IS NOT NULL AND n_chars <> length(text) THEN 1 ELSE 0 END) AS BIGINT) FROM documents " +
        "UNION ALL SELECT 'events.value_non_negative', count(*), " +
        "CAST(sum(CASE WHEN value < 0 THEN 1 ELSE 0 END) AS BIGINT) FROM events " +
        "UNION ALL SELECT 'events.event_type_in_domain', count(*), " +
        "CAST(sum(CASE WHEN event_type NOT IN ('click','purchase','signup','error','view') " +
        "THEN 1 ELSE 0 END) AS BIGINT) FROM events " +
        "UNION ALL SELECT 'orders.custkey_references_customer', " +
        "(SELECT count(*) FROM orders), " +
        "(SELECT count(*) FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey " +
        "WHERE c.c_custkey IS NULL) " +
        "UNION ALL SELECT 'lineitem.orderkey_references_orders', " +
        "(SELECT count(*) FROM lineitem), " +
        "(SELECT count(*) FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey " +
        "WHERE o.o_orderkey IS NULL) " +
        "UNION ALL SELECT 'embeddings.dim_constant', count(*), " +
        "CAST(sum(CASE WHEN len(embedding) <> (SELECT max(len(embedding)) FROM embeddings) " +
        "THEN 1 ELSE 0 END) AS BIGINT) FROM embeddings" +
        ") t ORDER BY check_name")),

    // Train/val/test split assignment + duplicate-leakage audit: assign
    // every document a deterministic 80/10/10 split (md5 coin — stable
    // across runs and machines, the q67/q83 convention), then measure
    // the classic eval-contamination number: how many documents sit in a
    // content-hash group that SPANS splits (an exact duplicate of a
    // train doc inside val/test leaks the answer into evaluation). The
    // near-dup tier of the same audit is q65's decontamination; this is
    // the exact tier at split granularity. Scale: one shuffle of 16-byte
    // hashes for the span groups, one hash-keyed join back (leaky side
    // is duplicate-group-sized, planner-gated), 3 result rows.
    Q("q107_split_leakage",
      (s, d) => {
        // exact tier hash source: ONE fused documents scan by default
        // (hash + source + split off the same pass — a join against
        // exactHashes would scan twice for nothing); under the X97 seam
        // the hashes come from the index's `exact` table and only the
        // lean (doc_id, source) projection reads the documents parquet —
        // no text column touched, matching the audit command's contract.
        // h IS NULL ⟺ text IS NULL (simple_hash nulls through), so the
        // two forms filter identical rows; FpIndexSeamSpec pins identity.
        val hashed = TrainingOps.fpIndexDir(s) match {
          case Some(_) =>
            TrainingOps.exactHashes(s, d).filter(col("h").isNotNull)
              .join(documents(s, d).select(col("doc_id"), col("source")),
                "doc_id")
          case None =>
            documents(s, d).filter(col("text").isNotNull)
              .select(col("doc_id"), col("source"),
                Hashing.simpleHash(col("text")).as("h"))
        }
        val base = graft.util.Caches.transientPersist(
          hashed.select(col("doc_id"), col("source"), col("h"),
            TrainingOps.splitOf(col("doc_id")).as("split")))
        // "spans >1 split" ⟺ min(split) ≠ max(split) (r18): one ordinary
        // min/max aggregate instead of countDistinct's distinct-expansion
        // phase — same leaky-hash set, cheaper by an aggregate pass
        val leaky = base.groupBy("h")
          .agg(min("split").as("s0"), max("split").as("s1"))
          .filter(col("s0") =!= col("s1"))
          .select(col("h"), lit(1L).as("leak"))
        base.join(leaky, Seq("h"), "left")
          .groupBy("split")
          .agg(count(lit(1)).as("n_docs"),
            countDistinct("source").as("n_sources"),
            sum(when(col("leak").isNotNull, 1L).otherwise(0L))
              .cast("long").as("n_leaked"))
          .orderBy("split")
      },
      Some("WITH t AS (SELECT doc_id, source, " +
        "md5(regexp_replace(text, '\\s+', '', 'g')) AS h, " +
        s"${TrainingOps.oSplitOf("doc_id")} AS split " +
        "FROM documents WHERE text IS NOT NULL), " +
        "l AS (SELECT h, 1 AS leak FROM " +
        "(SELECT h, count(DISTINCT split) AS ns FROM t GROUP BY h) WHERE ns > 1) " +
        "SELECT split, count(*) AS n_docs, count(DISTINCT source) AS n_sources, " +
        "CAST(sum(CASE WHEN l.leak IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_leaked " +
        "FROM t LEFT JOIN l USING (h) GROUP BY split ORDER BY split")),

    // Snapshot churn: the crawl-over-crawl diff report (what changed
    // between two corpus snapshots, per source) — the number a curator
    // reads before deciding whether a re-crawl warrants a re-dedup and
    // shard rebuild. Snapshots are deterministic views of the corpus
    // (old = doc_id % 10 <> 0, new = doc_id % 10 <> 5 — 80% overlap;
    // re-crawled pages simulated by suffixing text on doc_id % 7 = 0),
    // so both engines derive identical sides. Diff = ONE full-outer
    // self-join on doc_id comparing content hashes — the exact-hash
    // tier's machinery, at snapshot granularity: added (old side NULL),
    // removed (new side NULL), changed (hashes differ), else unchanged;
    // churn = changed+added+removed over the union, an integer-ratio
    // double. Scale: both snapshot sides project one transient-persisted
    // scan (the q95 hashed-frame lesson — Spark does no cross-branch
    // CSE), and the persisted frame carries the TWO 16-byte hashes, not
    // the text — one scan+hash pass, a fixed-width cache footprint, and
    // the old/new sides become pure column selections; one doc_id
    // shuffle each side, ≤|sources| result groups — at 100 TB this is
    // the cheapest question one can ask of two crawls (16-byte hashes,
    // never text comparison).
    Q("q103_snapshot_churn",
      (s, d) => {
        val base = graft.util.Caches.transientPersist(
          documents(s, d).filter(col("text").isNotNull)
            .select(col("doc_id"), col("source"),
              Hashing.simpleHash(col("text")).as("h_plain"),
              Hashing.simpleHash(
                when(col("doc_id") % 7 === 0, concat(col("text"), lit(" v2")))
                  .otherwise(col("text"))).as("h_recrawl")))
        val old = base.filter(col("doc_id") % 10 =!= 0)
          .select(col("doc_id"), col("source").as("src_o"),
            col("h_plain").as("h_o"))
        val neu = base.filter(col("doc_id") % 10 =!= 5)
          .select(col("doc_id"), col("source").as("src_n"),
            col("h_recrawl").as("h_n"))
        def cnt(c: org.apache.spark.sql.Column, n: String) =
          sum(c.cast("long")).cast("long").as(n)
        old.join(neu, Seq("doc_id"), "full_outer")
          .select(coalesce(col("src_o"), col("src_n")).as("source"),
            col("h_o"), col("h_n"))
          .groupBy("source")
          .agg(cnt(col("h_o").isNotNull, "n_old"),
            cnt(col("h_n").isNotNull, "n_new"),
            cnt(col("h_o").isNull, "n_added"),
            cnt(col("h_n").isNull, "n_removed"),
            cnt(col("h_o").isNotNull && col("h_n").isNotNull &&
              col("h_o") =!= col("h_n"), "n_changed"),
            cnt(col("h_o").isNotNull && col("h_n").isNotNull &&
              col("h_o") === col("h_n"), "n_unchanged"))
          .withColumn("churn",
            (col("n_added") + col("n_removed") + col("n_changed"))
              .cast("double") /
              (col("n_added") + col("n_removed") + col("n_changed") +
                col("n_unchanged")))
          .orderBy("source")
      },
      Some("WITH base AS (SELECT doc_id, source, text FROM documents WHERE text IS NOT NULL), " +
        "o AS (SELECT doc_id, source AS src_o, " +
        "md5(regexp_replace(text, '\\s+', '', 'g')) AS h_o FROM base WHERE doc_id % 10 <> 0), " +
        "n AS (SELECT doc_id, source AS src_n, " +
        "md5(regexp_replace(CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END, " +
        "'\\s+', '', 'g')) AS h_n FROM base WHERE doc_id % 10 <> 5), " +
        "f AS (SELECT coalesce(src_o, src_n) AS source, h_o, h_n " +
        "FROM o FULL OUTER JOIN n USING (doc_id)), " +
        "g AS (SELECT source, " +
        "CAST(sum(CASE WHEN h_o IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_old, " +
        "CAST(sum(CASE WHEN h_n IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_new, " +
        "CAST(sum(CASE WHEN h_o IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_added, " +
        "CAST(sum(CASE WHEN h_n IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_removed, " +
        "CAST(sum(CASE WHEN h_o IS NOT NULL AND h_n IS NOT NULL AND h_o <> h_n THEN 1 ELSE 0 END) AS BIGINT) AS n_changed, " +
        "CAST(sum(CASE WHEN h_o IS NOT NULL AND h_n IS NOT NULL AND h_o = h_n THEN 1 ELSE 0 END) AS BIGINT) AS n_unchanged " +
        "FROM f GROUP BY source) " +
        "SELECT source, n_old, n_new, n_added, n_removed, n_changed, n_unchanged, " +
        "CAST(n_added + n_removed + n_changed AS DOUBLE) / " +
        "(n_added + n_removed + n_changed + n_unchanged) AS churn " +
        "FROM g ORDER BY source")),

    // Memorization screen (r11): the top-10 most-repeated n-grams across
    // the corpus with their document frequency -- the report a curator
    // reads for verbatim-memorization risk (boilerplate, licenses,
    // templated spam: exactly the strings a model regurgitates; the
    // Carlini-style screen's corpus-side half). Two-tier shape, and the
    // ORDER of the tiers is the scale story: frequency is computed
    // entirely over the SHARED hashed-shingle index (8-byte h1 groups --
    // no text ever shuffles; per-h1 row count IS the doc frequency since
    // the index is distinct per (doc, shingle)), the top-10 selection is
    // a TakeOrdered under (df DESC, h1) -- both engines break ties on
    // the same md5-derived key -- and only THEN is n-gram text recovered.
    // Recovery (r12) never re-tokenizes the corpus: the index's POSTINGS
    // already name exactly which doc_ids contain a top-10 h1, so the
    // documents scan is semi-joined down to those docs (bounded by the
    // top set's df) before the one recovery shingle pass, which is then
    // filtered map-side by the broadcast 10-row top set. Recovering
    // from ALL posting docs (not one per h1) keeps a hypothetical
    // 60-bit h1 collision engine-identical with the oracle, which
    // surfaces every distinct colliding shingle. A text-first design
    // would shuffle token-volume strings; this shuffles token-volume
    // int64s once (already paid by the family's shared index) and
    // strings never.
    Q("q109_memorization_ngrams",
      (s, d) => {
        val idx = TrainingOps.shinglePostings(s, d)
        // df off the shared dfCounts kernel (r18): q124's datasheet runs
        // the same h1 aggregation in the same session — one exchange,
        // two consumers
        val dfc = TrainingOps.dfCounts(s, d)
          .select(col("h1"), col("c").as("n_docs"))
        val top = dfc.orderBy(col("n_docs").desc, col("h1").asc).limit(10)
        val postings = idx.join(broadcast(top.select("h1")), "h1")
          .select("doc_id").distinct()
        val txt = documents(s, d).select(col("doc_id"), col("text"))
          .join(postings, Seq("doc_id"), "left_semi")
          .selectExpr("shingles(text, 3) AS ngram")
          .select(Hashing.md5Long(col("ngram")).as("h1"), col("ngram"))
          .join(broadcast(top), "h1")
          .select(col("ngram"), col("n_docs")).distinct()
        txt.orderBy(col("n_docs").desc, col("ngram").asc)
      },
      Some(s"WITH $shCte, $shhCte, " +
        "dfc AS (SELECT h1, CAST(count(*) AS BIGINT) AS n_docs FROM shh GROUP BY 1), " +
        "top AS (SELECT h1, n_docs FROM dfc ORDER BY n_docs DESC, h1 LIMIT 10), " +
        s"txt AS (SELECT DISTINCT ${oMd5Long("shingle")} AS h1, shingle FROM sh) " +
        "SELECT t.shingle AS ngram, x.n_docs FROM top x JOIN txt t USING (h1) " +
        "ORDER BY n_docs DESC, ngram")),

    // NEAR-dup split leakage (r11): q107 counts EXACT duplicates spanning
    // train/val/test; this is the near-dup tier of the same
    // eval-contamination audit -- every LSH-verified pair (jacc >= 0.8)
    // whose endpoints landed in different splits, summarized per
    // unordered split pair with the leaked-document count and the worst
    // Jaccard. The release pipeline (q108) drops near-dups BEFORE
    // splitting, so its output audits to zero here by construction; this
    // query is the check one runs on a corpus that split FIRST. Scale:
    // rides the SHARED verified-pair list (never re-derives candidates);
    // the split coins are map-side md5s of the pair's own ids; <= 3
    // result groups.
    Q("q110_neardup_split_leakage",
      (s, d) => {
        val leaks = graft.util.Caches.transientPersist(
          TrainingOps.lshPairs(s, d)
            .withColumn("sa", TrainingOps.splitOf(col("ida")))
            .withColumn("sb", TrainingOps.splitOf(col("idb")))
            .filter(col("sa") =!= col("sb"))
            .select(least(col("sa"), col("sb")).as("s1"),
              greatest(col("sa"), col("sb")).as("s2"),
              col("ida"), col("idb"), col("jacc")))
        val pairsAgg = leaks.groupBy("s1", "s2")
          .agg(count(lit(1)).as("n_pairs"), max("jacc").as("max_jacc"))
        val docsAgg = leaks
          .select(col("s1"), col("s2"),
            explode(array(col("ida"), col("idb"))).as("doc"))
          .distinct()
          .groupBy("s1", "s2").agg(count(lit(1)).as("n_docs"))
        pairsAgg.join(docsAgg, Seq("s1", "s2"))
          .select(col("s1"), col("s2"), col("n_pairs"), col("n_docs"),
            col("max_jacc"))
          .orderBy("s1", "s2")
      },
      Some("WITH " + TrainingOps.lshPairsCtes + ", " +
        "sp AS (SELECT ida, idb, jacc, " +
        s"${TrainingOps.oSplitOf("ida")} AS sa, " +
        s"${TrainingOps.oSplitOf("idb")} AS sb " +
        "FROM pairs), " +
        "x AS (SELECT least(sa, sb) AS s1, greatest(sa, sb) AS s2, ida, idb, jacc " +
        "FROM sp WHERE sa <> sb), " +
        "pa AS (SELECT s1, s2, count(*) AS n_pairs, max(jacc) AS max_jacc FROM x GROUP BY 1, 2), " +
        "da AS (SELECT s1, s2, CAST(count(*) AS BIGINT) AS n_docs FROM " +
        "(SELECT s1, s2, ida AS doc FROM x UNION SELECT s1, s2, idb FROM x) GROUP BY 1, 2) " +
        "SELECT s1, s2, n_pairs, n_docs, max_jacc FROM pa JOIN da USING (s1, s2) ORDER BY s1, s2")),

    // Contamination PROVENANCE (r11): the detail tier under q65's
    // per-train-doc hit counts -- which (train doc, eval doc) pairs
    // share enough shingles to matter (the q101 release threshold,
    // >= 8), with the shared-shingle count. This is the row a curator
    // actually inspects before deleting a training document: not "doc
    // 123 overlaps the eval split" (q65) but "doc 123 leaks eval doc
    // 450 through 17 shared n-grams". Scale: rides the SHARED shingle
    // index, and (r12) the train side is SEMI-JOIN-GATED against the
    // cached contaminationHits >= 8 frame BEFORE the h1 pair join --
    // lossless, since a pair's n_shared(t, e) can never exceed t's
    // total eval-overlap count n_hits(t), so only train docs that can
    // appear in the report ever enter the expansion. Without the gate
    // the join volume is sum over h1 of df_train(h1) * df_eval(h1): one
    // boilerplate shingle in 10^6 train x 10^4 eval docs makes 10^10
    // pairs before the threshold applies. The gate bounds the train
    // side by TRUE contamination; the residual hazard (a boilerplate
    // shingle shared by many GATED train docs and many eval docs) is
    // the q31-style df-cap's territory -- apply a per-h1 df cap (both
    // engines) if a real corpus exhibits it; uncapped is the exact
    // semantics and stays the default.
    Q("q111_contamination_pairs",
      (s, d) => {
        val idx = TrainingOps.shinglePostings(s, d)
        val ev = idx.filter(col("doc_id") % 50 === 0)
          .select(col("doc_id").as("eval_id"), col("h1"))
        val eligible = TrainingOps.contaminationHits(s, d)
          .filter(col("n_hits") >= 8)
          .select(col("doc_id").as("train_id"))
        val tr = idx.filter(col("doc_id") % 50 =!= 0)
          .select(col("doc_id").as("train_id"), col("h1"))
          .join(eligible, Seq("train_id"), "left_semi")
        tr.join(ev, "h1")
          .groupBy("train_id", "eval_id")
          // count, not countDistinct (r18, the q121 rule): both sides
          // are distinct per (id, h1), so the join emits each shared h1
          // once per pair — same integers, one fewer aggregate phase
          .agg(count(lit(1)).as("n_shared"))
          .filter(col("n_shared") >= 8)
          .orderBy("train_id", "eval_id")
      },
      Some(s"WITH $shCte, $shhCte, " +
        "ev AS (SELECT doc_id AS eval_id, h1 FROM shh WHERE doc_id % 50 = 0), " +
        // the same lossless gate, mirrored: train docs with >= 8 distinct
        // eval-overlapping shingles (q65's n_hits kernel)
        "evh AS (SELECT DISTINCT h1 FROM shh WHERE doc_id % 50 = 0), " +
        "hits AS (SELECT t.doc_id, count(DISTINCT t.h1) AS n_hits FROM shh t " +
        "JOIN evh USING (h1) WHERE t.doc_id % 50 <> 0 GROUP BY 1), " +
        "tr AS (SELECT doc_id AS train_id, h1 FROM shh WHERE doc_id % 50 <> 0 " +
        "AND doc_id IN (SELECT doc_id FROM hits WHERE n_hits >= 8)) " +
        "SELECT train_id, eval_id, CAST(count(DISTINCT h1) AS BIGINT) AS n_shared " +
        "FROM tr JOIN ev USING (h1) GROUP BY 1, 2 HAVING count(DISTINCT h1) >= 8 " +
        "ORDER BY train_id, eval_id")),

    // Span-level surgical decontamination (r12): instead of DROPPING a
    // train document that overlaps the eval split (q65's doc-level
    // remedy), mark the exact token spans to mask — the GPT-3/PaLM-style
    // "remove the colliding n-gram window plus its run" middle ground
    // that keeps the rest of the document. An 8-gram window (the
    // substring-run family's width; production uses 8-13) hits only
    // genuine verbatim runs, never topical 3-gram noise. Every
    // occurrence counts (a repeated leaked n-gram must mark every
    // site), so this rides the new all-occurrence `posngrams`
    // generator, not the first-occurrence profile. Overlapping or
    // adjacent windows [p, p+7] merge gaps-and-islands style into
    // maximal spans; the report is per-doc: span count, maskable token
    // count, doc length. Scale: text becomes (doc_id, pos, h1) int64
    // triples map-side inside the generator (strings never leave the
    // scan); the eval-side distinct 8-gram set is eval-corpus-sized —
    // production eval suites are FIXED size (the q98 fixed-panel
    // argument), so the semi-join broadcasts and the token-volume
    // position rows never shuffle: the only rows that reach the
    // per-doc window exchange are true eval-colliding positions
    // (overlap-bounded, like q111's gated expansion). The window
    // itself is doc-partitioned with bounded frames. No broadcast
    // hint — if an eval set ever outgrows the threshold the planner
    // falls back to a shuffled semi-join, correct either way.
    Q("q112_decontaminate_spans",
      (s, d) => {
        val perDoc = maskSpans(s, d).groupBy("doc_id")
          .agg(count(lit(1)).as("n_spans"),
            sum(col("e") - col("s") + lit(1L)).as("masked_tokens"))
        perDoc
          .join(documents(s, d).filter(col("text").isNotNull)
            .select(col("doc_id"),
              size(graft.functions.Text.words(col("text"))).cast("long")
                .as("n_tokens")), Seq("doc_id"))
          .select(col("doc_id"), col("n_spans"), col("masked_tokens"),
            col("n_tokens"))
          .orderBy("doc_id")
      },
      Some(s"WITH $spanCtes, " +
        "agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans, " +
        "CAST(sum(e - s + 1) AS BIGINT) AS masked_tokens FROM sp GROUP BY 1) " +
        "SELECT a.doc_id, a.n_spans, a.masked_tokens, " +
        "CAST(len(t.ws) AS BIGINT) AS n_tokens " +
        "FROM agg a JOIN toks t USING (doc_id) ORDER BY doc_id")),

    // X95's APPLY tier (r12): actually produce the surgically masked
    // documents — cut every masked span out and re-join the survivors —
    // completing report → apply (a q112 report alone doesn't
    // decontaminate anything). Output, for every document that HAS
    // spans: the masked text's content hash (the release-manifest
    // convention — the full corpus writer is the same expression
    // against the shard sink), surviving token count, original length.
    // Scale: rides the SHARED maskSpans kernel (one generate+gate for
    // report and apply); the apply itself touches ONLY span-bearing
    // documents (inner join against the overlap-bounded span list — the
    // clean 99.x% of the corpus never re-tokenizes, never moves); the
    // surgery is per-row higher-order functions (token index ∉ any
    // span) — no explode, no shuffle of text; the span list per doc is
    // span-count-sized (collect_list bounded by the doc's own overlap).
    Q("q114_mask_apply",
      (s, d) => {
        val spans = maskSpans(s, d).groupBy("doc_id")
          .agg(collect_list(struct(col("s"), col("e"))).as("spans"))
        val base = documents(s, d).filter(col("text").isNotNull)
          .join(spans, Seq("doc_id"))
          .withColumn("ws", graft.functions.Text.words(col("text")))
        // 1-based token index, kept iff no span covers it
        val toks = transform(col("ws"),
          (w, i) => struct((i + lit(1)).cast("long").as("i"), w.as("w")))
        val kept = filter(toks, x => !exists(col("spans"),
          sp => x.getField("i") >= sp.getField("s")
            && x.getField("i") <= sp.getField("e")))
        base.select(col("doc_id"),
            md5(array_join(transform(kept, x => x.getField("w")), " "))
              .as("masked_hash"),
            size(kept).cast("long").as("kept_tokens"),
            size(col("ws")).cast("long").as("n_tokens"))
          .orderBy("doc_id")
      },
      Some(s"WITH $spanCtes, " +
        "m AS (SELECT t.doc_id, t.ws FROM toks t " +
        "WHERE EXISTS (SELECT 1 FROM sp WHERE sp.doc_id = t.doc_id)), " +
        // token i survives iff no span of its doc covers it; string_agg
        // ORDER BY i rebuilds the masked text deterministically
        "keep AS (SELECT m.doc_id, i, ws[i] AS w " +
        "FROM m, unnest(range(1, len(ws) + 1)) AS t(i) " +
        "WHERE NOT EXISTS (SELECT 1 FROM sp WHERE sp.doc_id = m.doc_id " +
        "AND i >= sp.s AND i <= sp.e)), " +
        "out AS (SELECT doc_id, md5(coalesce(string_agg(w, ' ' ORDER BY i), '')) " +
        "AS masked_hash, CAST(count(*) AS BIGINT) AS kept_tokens " +
        "FROM keep GROUP BY 1) " +
        // a fully-masked doc has no keep rows: hash of '' and 0 kept
        "SELECT m.doc_id, coalesce(o.masked_hash, md5('')) AS masked_hash, " +
        "coalesce(o.kept_tokens, 0) AS kept_tokens, " +
        "CAST(len(m.ws) AS BIGINT) AS n_tokens " +
        "FROM m LEFT JOIN out o USING (doc_id) ORDER BY m.doc_id")),

    // Per-source document caps (r12): keep only the top-K documents of
    // each source by quality — the per-domain cap / domain-balancing
    // step of web-corpus curation (a boilerplate-heavy domain must not
    // drown the mixture; distinct from q104's per-LANGUAGE temperature
    // resampling, which balances masses, not per-domain quality tails).
    // Rank = (quality score DESC, doc_id) over the q36/q82 shared
    // quality kernel; the report is per source: incoming docs, kept
    // docs, the kept tier's score floor and token mass. Scale: the
    // rank's top-K filter plans a PARTIAL WindowGroupLimit below the
    // source exchange (only ≤K rows per source leave each map
    // partition — the exchange never carries the corpus), the incoming
    // count is a separate partial agg on the same base, and the final
    // join is |sources|-rows. The quality kernel is the session-shared
    // one — no tokenize pass of its own in-family.
    Q("q113_source_caps",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val base = TrainingOps.qualityFeatures(s, d)
          .join(documents(s, d).select(col("doc_id"), col("source")),
            Seq("doc_id"))
          .filter(col("score").isNotNull)
        val w = Window.partitionBy("source")
          .orderBy(col("score").desc, col("doc_id").asc)
        val kept = base.withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 10)
          .groupBy("source")
          .agg(count(lit(1)).as("n_kept"),
            min("score").as("min_kept_score"),
            sum("n_tokens").cast("long").as("kept_tokens"))
        base.groupBy("source").agg(count(lit(1)).as("n_docs"))
          .join(kept, Seq("source"))
          .select(col("source"), col("n_docs"), col("n_kept"),
            col("min_kept_score"), col("kept_tokens"))
          .orderBy("source")
      },
      Some(s"WITH ${TrainingOps.qualCte}, " +
        "b AS (SELECT q.doc_id, q.n_tokens, q.score, d.source FROM qual q " +
        "JOIN documents d USING (doc_id) WHERE q.score IS NOT NULL), " +
        "r AS (SELECT *, row_number() OVER (PARTITION BY source " +
        "ORDER BY score DESC, doc_id) AS rk FROM b), " +
        "k AS (SELECT source, count(*) AS n_kept, min(score) AS min_kept_score, " +
        "CAST(sum(n_tokens) AS BIGINT) AS kept_tokens FROM r " +
        "WHERE rk <= 10 GROUP BY 1), " +
        "c AS (SELECT source, count(*) AS n_docs FROM b GROUP BY 1) " +
        "SELECT c.source, c.n_docs, k.n_kept, k.min_kept_score, k.kept_tokens " +
        "FROM c JOIN k USING (source) ORDER BY source")),

    // Semantic contamination provenance (r13): the EMBEDDING tier of
    // decontamination — (eval item, train item) pairs whose vectors sit
    // in the same IVF cell with cosine ≥ the near-dup threshold. q111
    // catches verbatim 8-gram leakage; this catches PARAPHRASED leakage
    // that shares no n-gram (the semantic decontamination screen of the
    // Llama-2/GPT-4-era eval-hygiene reports) — the two are the lexical
    // and semantic tiers of one audit. Scale: rides the SHARED retained
    // cellPairCos kernel (its contract keeps every pair ≥ 0.35, so the
    // filter is contract-exact); the cross-set gate and the eval/train
    // orientation are map-side projections over the overlap-bounded
    // pair list — no join, no new exchange; the sort is output-sized.
    // At 100 TB the cost is the kernel build the family already shares
    // (cell-bounded, block-salted — q33's story); this report adds
    // only a filter over its cache.
    Q("q115_semantic_contamination",
      (s, d) => semanticContamPairs(s, d).orderBy("eval_id", "train_id"),
      Some(s"WITH ${TrainingOps.cellPairCosCtes}, $semContamCte " +
        "SELECT eval_id, train_id, cos FROM semcp " +
        "ORDER BY eval_id, train_id")),

    // Dedup tier agreement (r13): where the LEXICAL near-dup tier
    // (MinHash/LSH-verified Jaccard ≥ 0.8) and the SEMANTIC tier
    // (in-cell cosine ≥ 0.35) agree and disagree — the measurement
    // behind SemDeDup's (Abbas et al. 2023) pitch that embedding dedup
    // finds duplicates MinHash misses, and the converse sanity check
    // (near-verbatim pairs the embedding tier's cell assignment split).
    // Restricted to pairs where BOTH docs are embedded (the semantic
    // tier only sees those — an unembedded doc must read as "not
    // evaluated", never "disagreement"). Scale: both inputs are shared
    // session kernels whose outputs are overlap-bounded pair lists; the
    // full-outer join shuffles only those pair rows. The embedded-
    // subset gate semi-joins the lexical pairs against the vector id
    // column twice — 8-byte keys, the minimal possible volume, and on
    // a cluster the planner broadcasts whichever side is small.
    Q("q116_dedup_tier_agreement",
      (s, d) => {
        val sem = TrainingOps.cellPairCos(s, d)
          .filter(col("cos") >= TrainingOps.CellPairRetainCos)
          .select(col("ida"), col("idb"), col("cos"))
        // one persisted single-column projection serves BOTH semi-joins
        // (the q95 exactHashes discipline: a multi-consumer subplan is
        // materialized once, not re-scanned per consumer)
        val emb = graft.util.Caches.transientPersist(
          embeddings(s, d).select(col("vec_id")))
        val lex = TrainingOps.lshPairs(s, d)
          .join(emb.withColumnRenamed("vec_id", "ida"), Seq("ida"), "left_semi")
          .join(emb.withColumnRenamed("vec_id", "idb"), Seq("idb"), "left_semi")
          .select(col("ida"), col("idb"), col("jacc"))
        sem.join(lex, Seq("ida", "idb"), "full_outer")
          .select(col("ida"), col("idb"), col("cos"), col("jacc"),
            when(col("cos").isNotNull && col("jacc").isNotNull, lit("both"))
              .when(col("cos").isNotNull, lit("semantic_only"))
              .otherwise(lit("lexical_only")).as("tier"))
          .orderBy("ida", "idb")
      },
      Some(s"WITH ${TrainingOps.lshPairsCtes}, ${TrainingOps.cellPairCosCtes}, " +
        "sem AS (SELECT ida, idb, cos FROM cpc WHERE cos >= 0.35), " +
        "lex AS (SELECT ida, idb, jacc FROM pairs " +
        "WHERE ida IN (SELECT vec_id FROM embeddings) " +
        "AND idb IN (SELECT vec_id FROM embeddings)) " +
        "SELECT coalesce(s.ida, l.ida) AS ida, coalesce(s.idb, l.idb) AS idb, " +
        "s.cos, l.jacc, " +
        "CASE WHEN s.ida IS NOT NULL AND l.ida IS NOT NULL THEN 'both' " +
        "WHEN s.ida IS NOT NULL THEN 'semantic_only' " +
        "ELSE 'lexical_only' END AS tier " +
        "FROM sem s FULL OUTER JOIN lex l ON s.ida = l.ida AND s.idb = l.idb " +
        "ORDER BY 1, 2")),

    // Unified decontamination DECISION table (r13): one row per
    // (source, action) with doc and char masses — the page a release
    // manager signs off on. Per train doc the remedies compose by
    // severity: DROP if the lexical tier says ≥ 8 distinct eval-shared
    // shingles (q65/q101's release rule) OR the semantic tier finds an
    // eval near-match (q115 — paraphrase leakage has no span to mask);
    // else MASK if span surgery applies (q112's overlap-bounded spans);
    // else KEEP. r15 adds the MEDIA tier to the drop rule (the r15
    // verdict's ask #3): a train doc whose PAYLOAD is a byte-level
    // near-dup of an eval payload (q125's hamming ≤ 4, cross-split) is
    // leakage whether or not the token tier sees it — byte-near-identity
    // has no span to mask, so it composes at drop severity beside the
    // semantic flag. Scale: all four flag frames are shared-kernel
    // derivatives bounded by TRUE contamination (hit counts, retained
    // pairs, span docs, band-bounded media pairs) — the doc spine
    // left-joins them on doc_id with no broadcast hints (planner-gated,
    // the q108 posture), and the final aggregate is |sources| × 3
    // groups. The clean bulk of the corpus flows through as four null
    // flags and one 'keep' counter — no text moves anywhere in this
    // plan.
    Q("q117_decontam_decision",
      (s, d) => {
        val base = documents(s, d).filter(col("doc_id") % 50 =!= 0)
          .select(col("doc_id"), col("source"), col("n_chars"))
        val dlex = TrainingOps.contaminationHits(s, d)
          .filter(col("n_hits") >= 8)
          .select(col("doc_id")).withColumn("dlex", lit(true))
        val dsem = semanticContamPairs(s, d)
          .select(col("train_id").as("doc_id"))
          .distinct().withColumn("dsem", lit(true))
        val isEvA = col("ida") % 50 === 0
        val isEvB = col("idb") % 50 === 0
        val dmed = mediaPairs(s, d)
          .filter(isEvA =!= isEvB)
          .select(when(isEvA, col("idb")).otherwise(col("ida")).as("doc_id"))
          .distinct().withColumn("dmed", lit(true))
        val dmask = maskSpans(s, d).select(col("doc_id")).distinct()
          .withColumn("dmask", lit(true))
        base.join(dlex, Seq("doc_id"), "left")
          .join(dsem, Seq("doc_id"), "left")
          .join(dmed, Seq("doc_id"), "left")
          .join(dmask, Seq("doc_id"), "left")
          .withColumn("decision",
            when(col("dlex") || col("dsem") || col("dmed"), lit("drop"))
              .when(col("dmask"), lit("mask"))
              .otherwise(lit("keep")))
          .groupBy("source", "decision")
          .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("chars_total"))
          .orderBy("source", "decision")
      },
      // the mask flag needs only EXISTENCE of a colliding 8-gram
      // position (≥ 1 hit position ⇔ ≥ 1 merged span), so the oracle
      // derives it directly without the islands machinery — and without
      // spanCtes' `toks`, which would collide with shCte's
      Some(s"WITH $shCte, $shhCte, ${TrainingOps.cellPairCosCtes}, $semContamCte, " +
        s"$mediaPairCtes, " +
        "cevh AS (SELECT DISTINCT h1 FROM shh WHERE doc_id % 50 = 0), " +
        "chit AS (SELECT t.doc_id FROM shh t JOIN cevh USING (h1) " +
        "WHERE t.doc_id % 50 <> 0 GROUP BY 1 HAVING count(DISTINCT t.h1) >= 8), " +
        "dsem AS (SELECT DISTINCT train_id AS doc_id FROM semcp), " +
        "dmed AS (SELECT DISTINCT CASE WHEN ida % 50 = 0 THEN idb ELSE ida END " +
        "AS doc_id FROM mpairs WHERE (ida % 50 = 0) <> (idb % 50 = 0)), " +
        "t8 AS (SELECT doc_id, " +
        "regexp_split_to_array(trim(text), '[ \\t\\n\\x0B\\f\\r]+') AS ws " +
        "FROM documents WHERE text IS NOT NULL), " +
        "e8 AS (SELECT DISTINCT " + oMd5Long("array_to_string(ws[i:i+7], ' ')") +
        " AS h1 FROM t8, unnest(range(1, len(ws) - 6)) AS t(i) " +
        "WHERE doc_id % 50 = 0), " +
        "dmask AS (SELECT DISTINCT doc_id FROM " +
        "(SELECT doc_id, " + oMd5Long("array_to_string(ws[i:i+7], ' ')") +
        " AS h1 FROM t8, unnest(range(1, len(ws) - 6)) AS t(i) " +
        "WHERE doc_id % 50 <> 0) p JOIN e8 USING (h1)), " +
        "dec AS (SELECT d.source, CASE " +
        "WHEN d.doc_id IN (SELECT doc_id FROM chit) " +
        "OR d.doc_id IN (SELECT doc_id FROM dsem) " +
        "OR d.doc_id IN (SELECT doc_id FROM dmed) THEN 'drop' " +
        "WHEN d.doc_id IN (SELECT doc_id FROM dmask) THEN 'mask' " +
        "ELSE 'keep' END AS decision, d.n_chars " +
        "FROM documents d WHERE d.doc_id % 50 <> 0) " +
        "SELECT source, decision, CAST(count(*) AS BIGINT) AS n_docs, " +
        "CAST(sum(n_chars) AS BIGINT) AS chars_total " +
        "FROM dec GROUP BY 1, 2 ORDER BY 1, 2")),

    // Duplicated-span removal, REPORT tier (X104, r13c): per document,
    // the merged token spans covered by 8-grams that occur in ≥ 2
    // documents and are owned elsewhere (keep-first: the minimum doc_id
    // containing a gram keeps it; every other occurrence is maskable).
    // This is the span-granular middle ground between exact/near doc
    // dedup (q27/q29 — drop whole documents) and nothing: boilerplate
    // headers, licence blocks and templated passages are cut while the
    // novel remainder of each document survives (Lee et al. 2021's
    // ExactSubstr remedy). See [[dupSpans]] for the exchange-by-exchange
    // scale story; the report itself is one overlap-bounded per-doc
    // aggregate over the shared kernel + a doc-length attach.
    Q("q119_dupspan_report",
      (s, d) => {
        val perDoc = dupSpans(s, d).groupBy("doc_id")
          .agg(count(lit(1)).as("n_spans"),
            sum(col("e") - col("s") + lit(1L)).as("masked_tokens"))
        // n_tokens rides the session's cached quality kernel (r18 — this
        // was the query's own SECOND corpus tokenize: size(words(text))
        // over a fresh documents scan). qualityFeatures' n_tokens is the
        // same size(words(text)) expression; null-text docs carry a null
        // n_tokens there and a span-bearing doc always has text, so the
        // inner join selects identical rows with identical values
        // (oracle-diffed).
        perDoc
          .join(TrainingOps.qualityFeatures(s, d)
            .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens")),
            Seq("doc_id"))
          .select(col("doc_id"), col("n_spans"), col("masked_tokens"),
            col("n_tokens"))
          .orderBy("doc_id")
      },
      Some(s"WITH $dupCtes, " +
        "dagg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans, " +
        "CAST(sum(e - s + 1) AS BIGINT) AS masked_tokens FROM dsp GROUP BY 1) " +
        "SELECT a.doc_id, a.n_spans, a.masked_tokens, " +
        "CAST(len(t.ws) AS BIGINT) AS n_tokens " +
        "FROM dagg a JOIN dtoks t USING (doc_id) ORDER BY doc_id")),

    // Duplicated-span removal, APPLY tier (X104, r13c): produce the
    // deduplicated documents — cut every non-owner duplicated span and
    // re-join the survivors (the q114 surgery over [[dupSpans]] instead
    // of the eval-driven maskSpans). Output for every span-bearing doc:
    // masked-text content hash, surviving and original token counts.
    // Scale: the apply touches ONLY span-bearing docs (inner join
    // against the overlap-bounded span list — the clean bulk never
    // re-tokenizes or moves); surgery is per-row higher-order functions
    // (no explode, no text shuffle); span lists per doc are bounded by
    // the doc's own duplication.
    Q("q120_dupspan_apply",
      (s, d) => {
        val spans = dupSpans(s, d).groupBy("doc_id")
          .agg(collect_list(struct(col("s"), col("e"))).as("spans"))
        val base = documents(s, d).filter(col("text").isNotNull)
          .join(spans, Seq("doc_id"))
          .withColumn("ws", graft.functions.Text.words(col("text")))
        val toks = transform(col("ws"),
          (w, i) => struct((i + lit(1)).cast("long").as("i"), w.as("w")))
        val kept = filter(toks, x => !exists(col("spans"),
          sp => x.getField("i") >= sp.getField("s")
            && x.getField("i") <= sp.getField("e")))
        base.select(col("doc_id"),
            md5(array_join(transform(kept, x => x.getField("w")), " "))
              .as("masked_hash"),
            size(kept).cast("long").as("kept_tokens"),
            size(col("ws")).cast("long").as("n_tokens"))
          .orderBy("doc_id")
      },
      Some(s"WITH $dupCtes, " +
        "dm AS (SELECT t.doc_id, t.ws FROM dtoks t " +
        "WHERE EXISTS (SELECT 1 FROM dsp WHERE dsp.doc_id = t.doc_id)), " +
        "dkeep AS (SELECT dm.doc_id, i, ws[i] AS w " +
        "FROM dm, unnest(range(1, len(ws) + 1)) AS t(i) " +
        "WHERE NOT EXISTS (SELECT 1 FROM dsp WHERE dsp.doc_id = dm.doc_id " +
        "AND i >= dsp.s AND i <= dsp.e)), " +
        "dout AS (SELECT doc_id, md5(coalesce(string_agg(w, ' ' ORDER BY i), '')) " +
        "AS masked_hash, CAST(count(*) AS BIGINT) AS kept_tokens " +
        "FROM dkeep GROUP BY 1) " +
        // a fully-masked doc has no dkeep rows: hash of '' and 0 kept
        "SELECT dm.doc_id, coalesce(o.masked_hash, md5('')) AS masked_hash, " +
        "coalesce(o.kept_tokens, 0) AS kept_tokens, " +
        "CAST(len(dm.ws) AS BIGINT) AS n_tokens " +
        "FROM dm LEFT JOIN dout o USING (doc_id) ORDER BY dm.doc_id")),

    // Batch novelty scoring (X105, r13c): for every incoming-batch
    // document (doc_id ≡ 0 mod 10 — q95's daily-crawl convention), the
    // fraction of its distinct shingles NOT already present in the
    // standing corpus — the triage signal between q95's binary verdicts
    // ('near'/'fresh') and nothing: a 'fresh' doc that is 95% known
    // shingles is recombined boilerplate, not new content, and a
    // curator prioritizing genuinely-novel data wants the ratio, not
    // the verdict. Bands at 0.9/0.5 mirror the report a triage page
    // shows. Scale: rides [[TrainingOps.shinglePostings]] — SEAM-AWARE
    // (with `spark.graft.fpIndex` set, both sides are parquet reads of
    // the persisted X76 index's pre-hashed postings; no tokenize). One
    // h1 aggregation builds the standing distinct-shingle set, one
    // h1-keyed join (standing side unique per h1 — no fanout) flags the
    // batch's postings, one batch-sized per-doc aggregate emits the
    // report. The standing set is corpus-sized, so the join is a real
    // shuffle — the irreducible cost of membership against a standing
    // corpus; what the seam saves is the re-tokenize, and the batch
    // side the exchange carries is batch-sized.
    Q("q121_batch_novelty",
      (s, d) => noveltyFrame(s, d).orderBy("doc_id"),
      Some(s"WITH $shCte, $shhCte, $nvCtes " +
        "SELECT doc_id, n_shingles, n_seen, novelty, band " +
        "FROM nvb ORDER BY doc_id")),

    // Batch triage (X107, r13c): the daily-batch SIGN-OFF page — one row
    // per (dedup verdict × novelty band) with doc counts, token mass and
    // the quality range, composing q95's two-tier verdicts, q121's
    // novelty bands and the shared quality kernel for the SAME ≡ 0
    // mod 10 batch. This is the q117 posture applied to the incremental
    // tier: before admitting a day's crawl, an operator reads how much
    // of it is exact/near duplication, how novel the 'fresh' remainder
    // actually is (a fresh-but-dup_heavy cell is recombined boilerplate
    // — the triage signal q95 alone cannot give), and what quality
    // range each cell spans. r15 adds the MEDIA verdict as a third
    // grouping dimension (the r15 verdict's ask #3): a lexically-fresh
    // doc whose payload is a byte-level near-dup of a standing payload
    // is duplication the token tier diluted — the sign-off page now
    // shows it. Scale: all four inputs are shared-kernel derivatives
    // (verdict frame batch-sized over the pair kernel, novelty bands
    // postings-bounded, quality map-side, media verdicts band-bounded
    // over the media kernel); the joins are batch-sized doc_id-keyed
    // and planner-gated; the final aggregate is ≤ 3 × 4 × 2 groups.
    // min/max over doubles are order-insensitive (the house exactness
    // rule — no double SUMs cross engines).
    Q("q123_batch_triage",
      (s, d) => {
        val v = TrainingOps.incrementalVerdicts(s, d)
          .select(col("doc_id"), col("verdict"))
        val nb = noveltyFrame(s, d).select(col("doc_id"), col("band"))
        val qual = TrainingOps.qualityFeatures(s, d)
          .select(col("doc_id"), col("n_tokens"), col("score"))
        val mv = mediaVerdicts(s, d)
          .select(col("doc_id"), col("verdict").as("media"))
        v.join(nb, Seq("doc_id"), "left")
          .join(qual, Seq("doc_id"), "left")
          .join(mv, Seq("doc_id"), "left")
          .groupBy(col("verdict"),
            coalesce(col("band"), lit("none")).as("band"),
            col("media"))
          .agg(count(lit(1)).as("n_docs"),
            sum("n_tokens").cast("long").as("n_tokens"),
            min("score").as("min_score"), max("score").as("max_score"))
          .orderBy("verdict", "band", "media")
      },
      Some(s"WITH ${TrainingOps.lshPairsCtes}, ${TrainingOps.bvCte}, " +
        s"$nvCtes, ${TrainingOps.qualCte}, $mediaPairCtes, $mvCtes, " +
        "tri AS (SELECT bv.verdict, coalesce(nvb.band, 'none') AS band, " +
        "mv.verdict AS media, q.n_tokens, q.score FROM bv " +
        "LEFT JOIN nvb ON bv.doc_id = nvb.doc_id " +
        "LEFT JOIN qual q ON bv.doc_id = q.doc_id " +
        "LEFT JOIN mv ON bv.doc_id = mv.doc_id) " +
        "SELECT verdict, band, media, CAST(count(*) AS BIGINT) AS n_docs, " +
        "CAST(sum(n_tokens) AS BIGINT) AS n_tokens, " +
        "min(score) AS min_score, max(score) AS max_score " +
        "FROM tri GROUP BY 1, 2, 3 ORDER BY 1, 2, 3")),

    // Fingerprint-index datasheet (X108, r13c): the ops health report
    // over the standing dedup index — the page an operator reads before
    // trusting the X76/X91 artifact at production cadence. Sixteen
    // metrics in one (metric, value) frame: postings volume and df
    // distribution (df_max/p99 name the boilerplate grams that drive
    // q111-class hot-shingle fanout), per-doc shingle spread, the LSH
    // bucket occupancy tier — bucket_max is THE hot-bucket indicator,
    // and candidate_pairs = Σ c·(c−1)/2 over buckets PREDICTS the band
    // self-join's exact collision volume (q29's cost) before anyone
    // runs it — and the exact tier's duplicate rate. Every accessor is
    // SEAM-AWARE: with `spark.graft.fpIndex` set the whole datasheet is
    // parquet reads of the index itself (postings + bands + exact — no
    // corpus access at all), which is the production posture: you audit
    // the index you maintain, not a re-derivation. Quantiles are the
    // q55 cross-engine convention (type-7 percentile ↔ quantile_cont);
    // ratios are exact-integer quotients; the percentile buffers
    // histogram DISTINCT count-values (bounded), never raw rows.
    Q("q124_index_stats",
      (s, d) => {
        // STATS TIER (r14 — the datasheet made incremental): with a
        // stats-carrying index, all four aggregate families read the
        // sink-maintained PRE-AGGREGATED count tables — one row per
        // distinct key per batch generation, merged by a per-key sum
        // (LSM-on-read; compaction folds to one row per key) — instead
        // of scanning the postings volume. Every metric is an exact
        // function of the counts: sums/maxes commute with the merge,
        // and Spark's frequency-weighted `percentile(c, p, n)` is
        // defined as the percentile of the EXPANDED multiset, so the
        // histogram form is bit-identical to the raw form (pinned in
        // FpIndexSeamSpec across appends + compactions). The datasheet
        // drops from O(postings) per run to O(distinct keys) — and the
        // maintenance cost is O(batch) at append, a rider on
        // compaction's existing full rewrite otherwise.
        val (a1, a2, a3, a4) = TrainingOps.fpStatsDir(s) match {
          case Some(dir) =>
            val dfc = s.read.parquet(s"$dir/dfc")
              .groupBy("h1").agg(sum("c").as("c"))
            val a1 = dfc.agg(count(lit(1)).as("distinct_shingles"),
              sum("c").as("postings_rows"),
              expr("percentile(c, 0.5)").as("df_p50"),
              expr("percentile(c, 0.99)").as("df_p99"),
              max("c").as("df_max"))
            val dsh = s.read.parquet(s"$dir/dsh")
            val a2 = dsh.agg(sum("n").as("docs"),
              expr("percentile(c, 0.5, n)").as("doc_shingles_p50"),
              max("c").as("doc_shingles_max"))
            val bkc = s.read.parquet(s"$dir/bkc")
              .groupBy("bk", "bandkey").agg(sum("c").as("c"))
            val a3 = bkc.agg(count(lit(1)).as("bucket_count"),
              max("c").as("bucket_max"),
              expr("percentile(c, 0.99)").as("bucket_p99"),
              sum(expr("c * (c - 1) div 2")).as("candidate_pairs"))
            val a4 = s.read.parquet(s"$dir/xc")
              .groupBy("h").agg(sum("c").as("c"))
              .agg(sum("c").as("exact_docs"),
                count(lit(1)).as("exact_distinct"))
            (a1, a2, a3, a4)
          case None =>
            // r18: the df distribution rides the shared dfCounts kernel
            // (one h1 exchange per session, shared with q109) and the
            // per-doc spread rides the cached wide-signature sizes (the
            // `n` the dedup family's one per-doc aggregation already
            // computed) instead of a second token-volume doc_id exchange
            // over the postings. Same integers: postings are distinct
            // per (doc, h1), so the wide frame's n IS the per-doc
            // postings count.
            val a1 = TrainingOps.dfCounts(s, d)
              .agg(count(lit(1)).as("distinct_shingles"),
                sum("c").as("postings_rows"),
                expr("percentile(c, 0.5)").as("df_p50"),
                expr("percentile(c, 0.99)").as("df_p99"),
                max("c").as("df_max"))
            val a2 = TrainingOps.docSizes(s, d)
              .agg(count(lit(1)).as("docs"),
                expr("percentile(n, 0.5)").as("doc_shingles_p50"),
                max("n").as("doc_shingles_max"))
            val a3 = TrainingOps.bandBuckets(s, d)
              .groupBy("bk", "bandkey").agg(count(lit(1)).as("c"))
              .agg(count(lit(1)).as("bucket_count"),
                max("c").as("bucket_max"),
                expr("percentile(c, 0.99)").as("bucket_p99"),
                sum(expr("c * (c - 1) div 2")).as("candidate_pairs"))
            // r19: the promoted exact-hash kernel (shared with q27 and
            // the incrementalVerdicts build) replaces this query's own
            // regex-strip + md5 corpus pass
            val a4 = TrainingOps.exactHashesK(s, d).filter(col("h").isNotNull)
              .agg(count(lit(1)).as("exact_docs"),
                countDistinct(col("h")).as("exact_distinct"))
            (a1, a2, a3, a4)
        }
        a1.crossJoin(a2).crossJoin(a3).crossJoin(a4)
          .withColumn("df_mean",
            col("postings_rows").cast("double") / col("distinct_shingles"))
          .withColumn("exact_dup_rate",
            lit(1.0) - col("exact_distinct").cast("double") / col("exact_docs"))
          .selectExpr("stack(16, " +
            "'bucket_count', CAST(bucket_count AS DOUBLE), " +
            "'bucket_max', CAST(bucket_max AS DOUBLE), " +
            "'bucket_p99', CAST(bucket_p99 AS DOUBLE), " +
            "'candidate_pairs', CAST(candidate_pairs AS DOUBLE), " +
            "'df_max', CAST(df_max AS DOUBLE), " +
            "'df_mean', df_mean, " +
            "'df_p50', df_p50, " +
            "'df_p99', df_p99, " +
            "'distinct_shingles', CAST(distinct_shingles AS DOUBLE), " +
            "'doc_shingles_max', CAST(doc_shingles_max AS DOUBLE), " +
            "'doc_shingles_p50', doc_shingles_p50, " +
            "'docs', CAST(docs AS DOUBLE), " +
            "'exact_distinct', CAST(exact_distinct AS DOUBLE), " +
            "'exact_docs', CAST(exact_docs AS DOUBLE), " +
            "'exact_dup_rate', exact_dup_rate, " +
            "'postings_rows', CAST(postings_rows AS DOUBLE)" +
            ") AS (metric, value)")
          .orderBy("metric")
      },
      // lshPairsCtes supplies shh + the band-bucket CTE `bk`; its
      // pair-side CTEs (cand/iv/sz/pairs) go unreferenced and DuckDB
      // prunes unreferenced CTEs — no pair join runs here
      Some(s"WITH ${TrainingOps.lshPairsCtes}, " +
        "dfh AS (SELECT h1, count(*) AS c FROM shh GROUP BY 1), " +
        "ia1 AS (SELECT count(*) AS distinct_shingles, sum(c) AS postings_rows, " +
        "quantile_cont(c, 0.5) AS df_p50, quantile_cont(c, 0.99) AS df_p99, " +
        "max(c) AS df_max FROM dfh), " +
        "dfd AS (SELECT doc_id, count(*) AS c FROM shh GROUP BY 1), " +
        "ia2 AS (SELECT count(*) AS docs, quantile_cont(c, 0.5) AS doc_shingles_p50, " +
        "max(c) AS doc_shingles_max FROM dfd), " +
        "bb AS (SELECT b0.bk, b0.bandkey, count(*) AS c FROM bk b0 GROUP BY 1, 2), " +
        "ia3 AS (SELECT count(*) AS bucket_count, max(c) AS bucket_max, " +
        "quantile_cont(c, 0.99) AS bucket_p99, " +
        "sum(c * (c - 1) // 2) AS candidate_pairs FROM bb), " +
        "xh AS (SELECT md5(regexp_replace(text, '\\s+', '', 'g')) AS h " +
        "FROM documents WHERE text IS NOT NULL), " +
        "ia4 AS (SELECT count(*) AS exact_docs, count(DISTINCT h) AS exact_distinct FROM xh), " +
        "rw AS (SELECT *, CAST(postings_rows AS DOUBLE) / distinct_shingles AS df_mean, " +
        "1.0 - CAST(exact_distinct AS DOUBLE) / exact_docs AS exact_dup_rate " +
        "FROM ia1, ia2, ia3, ia4) " +
        "SELECT 'bucket_count' AS metric, CAST(bucket_count AS DOUBLE) AS value FROM rw " +
        "UNION ALL SELECT 'bucket_max', CAST(bucket_max AS DOUBLE) FROM rw " +
        "UNION ALL SELECT 'bucket_p99', CAST(bucket_p99 AS DOUBLE) FROM rw " +
        "UNION ALL SELECT 'candidate_pairs', CAST(candidate_pairs AS DOUBLE) FROM rw " +
        "UNION ALL SELECT 'df_max', CAST(df_max AS DOUBLE) FROM rw " +
        "UNION ALL SELECT 'df_mean', df_mean FROM rw " +
        "UNION ALL SELECT 'df_p50', df_p50 FROM rw " +
        "UNION ALL SELECT 'df_p99', df_p99 FROM rw " +
        "UNION ALL SELECT 'distinct_shingles', CAST(distinct_shingles AS DOUBLE) FROM rw " +
        "UNION ALL SELECT 'doc_shingles_max', CAST(doc_shingles_max AS DOUBLE) FROM rw " +
        "UNION ALL SELECT 'doc_shingles_p50', doc_shingles_p50 FROM rw " +
        "UNION ALL SELECT 'docs', CAST(docs AS DOUBLE) FROM rw " +
        "UNION ALL SELECT 'exact_distinct', CAST(exact_distinct AS DOUBLE) FROM rw " +
        "UNION ALL SELECT 'exact_docs', CAST(exact_docs AS DOUBLE) FROM rw " +
        "UNION ALL SELECT 'exact_dup_rate', exact_dup_rate FROM rw " +
        "UNION ALL SELECT 'postings_rows', CAST(postings_rows AS DOUBLE) FROM rw " +
        "ORDER BY metric")),

    // Vector-index datasheet (r15 — the q124 treatment for X103, the
    // r15 verdict's ask #5): the ops health report over the semantic
    // tier's standing index. Eleven metrics in one (metric, value)
    // frame:
    //  - the IVF occupancy tier (vectors, cells, cell_max/mean/p50/p99)
    //    — cell_max is THE IVF-skew indicator (the reason cellPairsOf
    //    block-salts), and cand_pairs = Σ c·(c−1)/2 over cells PREDICTS
    //    the pair build's exact in-cell enumeration volume (the one
    //    real compute writeVectorIndex pays) before anyone runs it —
    //    the q124 candidate_pairs idea at the embedding tier;
    //  - the retained-pair tier at the θ = 0.35 threshold (near_pairs,
    //    near_vecs, near_deg_max/p99) — the q33/q90 edge volume and the
    //    kNN-graph degree skew. Threshold metrics only, deliberately:
    //    they are SUPERSET-CLOSED under the retention contract, so the
    //    datasheet reads identically off a full-build index, an
    //    append-maintained one (whose pairs region is a bounded
    //    superset), and the session kernel — the raw retained-row count
    //    is not contract-stable and stays out of the oracle surface.
    // Every accessor is SEAM-AWARE: with `spark.graft.vecIndex` set the
    // whole datasheet is parquet reads of the index itself (vectors +
    // pairs — no corpus access, no quantize, no dot products; pinned in
    // VectorIndexSpec). No stats tier yet, measured as unnecessary: the
    // index rows are fixed-width and the aggregates are
    // distinct-key-bounded (BASELINE.md r15) — unlike q124's postings
    // volume, there is no O(index) scan to amortize.
    Q("q130_vector_index_stats",
      (s, d) => {
        val occ = TrainingOps.vectorCells(s, d)
          .groupBy("label").agg(count(lit(1)).as("c"))
        val a1 = occ.agg(count(lit(1)).as("cells"),
          sum("c").as("vectors"), max("c").as("cell_max"),
          expr("percentile(c, 0.5)").as("cell_p50"),
          expr("percentile(c, 0.99)").as("cell_p99"),
          sum(expr("c * (c - 1) div 2")).as("cand_pairs"))
        val near = graft.util.Caches.transientPersist(
          TrainingOps.cellPairCos(s, d)
            .filter(col("cos") >= TrainingOps.CellPairRetainCos)
            .select("ida", "idb"))
        val a2 = near.agg(count(lit(1)).as("near_pairs"))
        val a3 = near.select(col("ida").as("v"))
          .unionAll(near.select(col("idb").as("v")))
          .groupBy("v").agg(count(lit(1)).as("dg"))
          .agg(count(lit(1)).as("near_vecs"), max("dg").as("near_deg_max"),
            expr("percentile(dg, 0.99)").as("near_deg_p99"))
        a1.crossJoin(a2).crossJoin(a3)
          .withColumn("cell_mean",
            col("vectors").cast("double") / col("cells"))
          .selectExpr("stack(11, " +
            "'cand_pairs', CAST(cand_pairs AS DOUBLE), " +
            "'cell_max', CAST(cell_max AS DOUBLE), " +
            "'cell_mean', cell_mean, " +
            "'cell_p50', cell_p50, " +
            "'cell_p99', cell_p99, " +
            "'cells', CAST(cells AS DOUBLE), " +
            "'near_deg_max', CAST(near_deg_max AS DOUBLE), " +
            "'near_deg_p99', near_deg_p99, " +
            "'near_pairs', CAST(near_pairs AS DOUBLE), " +
            "'near_vecs', CAST(near_vecs AS DOUBLE), " +
            "'vectors', CAST(vectors AS DOUBLE)" +
            ") AS (metric, value)")
          .orderBy("metric")
      },
      Some(s"WITH ${TrainingOps.cellPairCosCtes}, " +
        "vocc AS (SELECT label, count(*) AS c FROM ev GROUP BY 1), " +
        "va1 AS (SELECT count(*) AS cells, sum(c) AS vectors, " +
        "max(c) AS cell_max, quantile_cont(c, 0.5) AS cell_p50, " +
        "quantile_cont(c, 0.99) AS cell_p99, " +
        "sum(c * (c - 1) // 2) AS cand_pairs FROM vocc), " +
        s"vnp AS (SELECT ida, idb FROM cpc WHERE cos >= 0.35), " +
        "va2 AS (SELECT count(*) AS near_pairs FROM vnp), " +
        "vdg AS (SELECT v, count(*) AS dg FROM " +
        "(SELECT ida AS v FROM vnp UNION ALL SELECT idb FROM vnp) GROUP BY 1), " +
        "va3 AS (SELECT count(*) AS near_vecs, max(dg) AS near_deg_max, " +
        "quantile_cont(dg, 0.99) AS near_deg_p99 FROM vdg), " +
        "vrw AS (SELECT *, CAST(vectors AS DOUBLE) / cells AS cell_mean " +
        "FROM va1, va2, va3) " +
        "SELECT 'cand_pairs' AS metric, CAST(cand_pairs AS DOUBLE) AS value FROM vrw " +
        "UNION ALL SELECT 'cell_max', CAST(cell_max AS DOUBLE) FROM vrw " +
        "UNION ALL SELECT 'cell_mean', cell_mean FROM vrw " +
        "UNION ALL SELECT 'cell_p50', cell_p50 FROM vrw " +
        "UNION ALL SELECT 'cell_p99', cell_p99 FROM vrw " +
        "UNION ALL SELECT 'cells', CAST(cells AS DOUBLE) FROM vrw " +
        "UNION ALL SELECT 'near_deg_max', CAST(near_deg_max AS DOUBLE) FROM vrw " +
        "UNION ALL SELECT 'near_deg_p99', near_deg_p99 FROM vrw " +
        "UNION ALL SELECT 'near_pairs', CAST(near_pairs AS DOUBLE) FROM vrw " +
        "UNION ALL SELECT 'near_vecs', CAST(near_vecs AS DOUBLE) FROM vrw " +
        "UNION ALL SELECT 'vectors', CAST(vectors AS DOUBLE) FROM vrw " +
        "ORDER BY metric")),

    // Media-index datasheet (r15): the third leg of the datasheet
    // family — lexical q124, vector q130, media q131 — so EVERY
    // standing dedup tier has an ops health report whose
    // candidate_pairs metric predicts its pair join's exact collision
    // volume before anyone runs it (the number the r14→r15 media
    // re-sketch was judged on, BASELINE.md r15, promoted to an
    // oracle-checked registry row). Six metrics: fingerprintable docs,
    // band bucket count/max/p99 over the 5×24 banding, candidate_pairs
    // = Σ c·(c−1)/2 over (bk, bkey) buckets, and docs_per_bucket_mean.
    // Seam-aware via mediaFps: under `spark.graft.fpIndex` the whole
    // report is parquet reads of the index's own media table — 24-byte
    // rows, so no stats tier (the q130 argument: there is no O(postings)
    // volume to amortize; the band explode is ×5 map-side).
    Q("q131_media_index_stats",
      (s, d) => {
        val fps = TrainingOps.mediaFps(s, d)
        val bands = fps.select(col("doc_id"), col("fp0"), col("fp1"),
            explode(sequence(lit(0), lit(graft.multimodal.Multimodal.MediaBands - 1))).as("bk"))
          .withColumn("bkey",
            expr(graft.multimodal.Multimodal.bandKeySql("fp0", "fp1")))
        val occ = bands.groupBy("bk", "bkey").agg(count(lit(1)).as("c"))
        // the size-class posture's collision volume, reported BESIDE the
        // plain one (r17 — see Multimodal.SizeClassSlack for its recall
        // cost): the same Σ c·(c−1)/2, over buckets additionally keyed
        // by the exploded size class (n_bytes rides mediaFps from the
        // r17 index schema / the session pass identically)
        val bandsSc = fps.select(col("doc_id"), col("fp0"), col("fp1"),
            explode(graft.multimodal.Multimodal
              .sizeClassesOf(col("n_bytes"))).as("scls"))
          .select(col("doc_id"), col("fp0"), col("fp1"), col("scls"),
            explode(sequence(lit(0), lit(graft.multimodal.Multimodal.MediaBands - 1))).as("bk"))
          .withColumn("bkey",
            expr(graft.multimodal.Multimodal.bandKeySql("fp0", "fp1")))
        val occSc = bandsSc.groupBy("scls", "bk", "bkey")
          .agg(count(lit(1)).as("c"))
        fps.agg(count(lit(1)).as("media_docs"))
          .crossJoin(occ.agg(count(lit(1)).as("bucket_count"),
            max("c").as("bucket_max"),
            expr("percentile(c, 0.99)").as("bucket_p99"),
            sum(expr("c * (c - 1) div 2")).as("candidate_pairs")))
          .crossJoin(occSc.agg(
            sum(expr("c * (c - 1) div 2")).as("candidate_pairs_sized")))
          .withColumn("docs_per_bucket_mean",
            col("media_docs").cast("double") * 5.0 / col("bucket_count"))
          .selectExpr("stack(7, " +
            "'bucket_count', CAST(bucket_count AS DOUBLE), " +
            "'bucket_max', CAST(bucket_max AS DOUBLE), " +
            "'bucket_p99', bucket_p99, " +
            "'candidate_pairs', CAST(candidate_pairs AS DOUBLE), " +
            "'candidate_pairs_sized', CAST(candidate_pairs_sized AS DOUBLE), " +
            "'docs_per_bucket_mean', docs_per_bucket_mean, " +
            "'media_docs', CAST(media_docs AS DOUBLE)" +
            ") AS (metric, value)")
          .orderBy("metric")
      },
      Some(s"WITH $mediaPairCtes, " +
        "mocc AS (SELECT bk, bkey, count(*) AS c FROM mbands GROUP BY 1, 2), " +
        "msc AS (SELECT doc_id, length(bin(n)) - 1 AS scls FROM mt " +
        "UNION SELECT doc_id, length(bin(n + 8)) - 1 FROM mt), " +
        "mbsc AS (SELECT mb2.doc_id, msc.scls, mb2.bk, mb2.bkey " +
        "FROM mbands mb2 JOIN msc USING (doc_id)), " +
        "moccs AS (SELECT scls, bk, bkey, count(*) AS c FROM mbsc GROUP BY 1, 2, 3), " +
        "ma1 AS (SELECT count(*) AS media_docs FROM mfp), " +
        "ma2 AS (SELECT count(*) AS bucket_count, max(c) AS bucket_max, " +
        "quantile_cont(c, 0.99) AS bucket_p99, " +
        "sum(c * (c - 1) // 2) AS candidate_pairs FROM mocc), " +
        "ma3 AS (SELECT sum(c * (c - 1) // 2) AS candidate_pairs_sized FROM moccs), " +
        "mrw AS (SELECT *, CAST(media_docs AS DOUBLE) * 5.0 / bucket_count " +
        "AS docs_per_bucket_mean FROM ma1, ma2, ma3) " +
        "SELECT 'bucket_count' AS metric, CAST(bucket_count AS DOUBLE) AS value FROM mrw " +
        "UNION ALL SELECT 'bucket_max', CAST(bucket_max AS DOUBLE) FROM mrw " +
        "UNION ALL SELECT 'bucket_p99', bucket_p99 FROM mrw " +
        "UNION ALL SELECT 'candidate_pairs', CAST(candidate_pairs AS DOUBLE) FROM mrw " +
        "UNION ALL SELECT 'candidate_pairs_sized', CAST(candidate_pairs_sized AS DOUBLE) FROM mrw " +
        "UNION ALL SELECT 'docs_per_bucket_mean', docs_per_bucket_mean FROM mrw " +
        "UNION ALL SELECT 'media_docs', CAST(media_docs AS DOUBLE) FROM mrw " +
        "ORDER BY metric")),

    // Multimodal near-dup (X109, r14): the dedup modality the BINARY
    // column was missing — text has exact/near/semantic/span tiers
    // (q27/q29/q90/q119); media payloads (X16/X40/X41's opaque binary
    // + stub codec) had none. A 120-bit PERCEPTUAL FINGERPRINT per
    // payload, LSH-banded for candidates, Hamming-verified:
    //
    //  - Fingerprint: skip-gram parity sketch (r15 — see
    //    Multimodal.fingerprintOf for the three measured design steps
    //    that replaced the r14 60-bit trigram/mod-60 sketch): each
    //    6-byte window's (b[i], b[i+1], b[i+3], b[i+5]) gram is
    //    feature-hashed into 120 buckets by a multiplicative mix,
    //    bit_j = parity of bucket j's count, packed as two 60-bit
    //    longs. Integer-only and exactly oracle-expressible on the
    //    ASCII corpus (the q43 char==byte identity).
    //    Position-INVARIANT by construction: a 1-byte substitution
    //    flips ≤ 8 bits (4 windows × remove+add; fewer at payload
    //    edges), a contiguous k-byte edit ≤ 2(k+5) — property-pinned in
    //    PureFunctionProps — while unrelated payloads land at the
    //    binomial mean (~60 of 120 bits). The hamming ≤ 4 verify is the
    //    NEAR-IDENTITY contract (q129 prices any wider radius). The
    //    blockhash-style byte-mean grid was built first and MEASURED
    //    OUT (r14): a 4-byte edit shifts every downstream block
    //    boundary, so true near-identical pairs read hamming ≥ 8 —
    //    indistinguishable from background; the parity sketch puts the
    //    same pairs at hamming ≤ 4.
    //  - Candidates: 5 bands × 24 bits (r15 — widened from the r14
    //    5×12, whose 4096-value keyspace made random collisions
    //    ~C(n,2)·5/4096: 2.85e8 candidates at sf10, quadratic decades,
    //    the r14 verdict's one `weak`). Two payloads within hamming 4
    //    still share a band EXACTLY (pigeonhole — 5 differing bands
    //    need ≥ 5 differing bits), so the candidate join misses
    //    nothing the verify would keep; with the skip-gram's fair bits
    //    the measured candidate volume is 2.4× the irreducible
    //    C(n,2)·5/2^24 floor at sf10 (77k rows, vs r14's 2.85e8 —
    //    BASELINE.md r15) — bucket-bounded like q29's bands, never
    //    all-pairs.
    //  - Verify: hamming over both packed longs ≤ 4, map-side over
    //    candidates.
    //
    // Scale: one UDF pass per payload (map-side, the simhash/q64
    // tight-loop precedent — the 120-long histogram lives in the loop,
    // never in a shuffle), a 5-row band explode per doc, one
    // bucket-equi self-join whose distinct is the only pair-volume
    // state, and an output-sized verify. At 100 TB the fingerprint
    // column belongs IN the media index the sink maintains (the X76
    // posture); here it is computed in-plan.
    Q("q125_media_neardup",
      (s, d) => mediaPairs(s, d).orderBy("ida", "idb"),
      Some(s"WITH $mediaPairCtes " +
        "SELECT ida, idb, hamming FROM mpairs ORDER BY ida, idb")),

    // Media × lexical dedup TIER AGREEMENT (r14): where the perceptual
    // byte-level tier (q125: fingerprint hamming ≤ 4) and the lexical
    // near-dup tier (q29: verified Jaccard ≥ 0.8) agree and disagree —
    // q116's measurement (SemDeDup's pitch, applied to the media
    // modality): media_only rows are byte-level near-identity the
    // token tier's shingles missed or diluted, lexical_only rows are
    // token-overlap the byte profile doesn't see (e.g. re-ordered
    // sections shift gram counts two parities apart). Restricted to
    // pairs where BOTH docs are fingerprintable (an unfingerprintable
    // payload must read "not evaluated", never "disagreement" — q116's
    // embedded-subset discipline). Scale: both inputs are shared
    // session kernels with overlap-bounded outputs; the full-outer join
    // shuffles only those pair rows; the gate semi-joins 8-byte ids.
    Q("q126_media_tier_agreement",
      (s, d) => {
        // one persisted single-column projection serves both semi-joins
        // (the q116/exactHashes discipline)
        val fpd = graft.util.Caches.transientPersist(
          TrainingOps.mediaFps(s, d).select(col("doc_id")))
        val med = mediaPairs(s, d)
        val lex = TrainingOps.lshPairs(s, d)
          .join(fpd.withColumnRenamed("doc_id", "ida"), Seq("ida"), "left_semi")
          .join(fpd.withColumnRenamed("doc_id", "idb"), Seq("idb"), "left_semi")
          .select(col("ida"), col("idb"), col("jacc"))
        med.join(lex, Seq("ida", "idb"), "full_outer")
          .select(col("ida"), col("idb"), col("hamming"), col("jacc"),
            when(col("hamming").isNotNull && col("jacc").isNotNull, lit("both"))
              .when(col("hamming").isNotNull, lit("media_only"))
              .otherwise(lit("lexical_only")).as("tier"))
          .orderBy("ida", "idb")
      },
      Some(s"WITH ${TrainingOps.lshPairsCtes}, $mediaPairCtes, " +
        "lexf AS (SELECT ida, idb, jacc FROM pairs " +
        "WHERE ida IN (SELECT doc_id FROM mfp) " +
        "AND idb IN (SELECT doc_id FROM mfp)) " +
        "SELECT coalesce(m.ida, l.ida) AS ida, coalesce(m.idb, l.idb) AS idb, " +
        "m.hamming, l.jacc, " +
        "CASE WHEN m.ida IS NOT NULL AND l.ida IS NOT NULL THEN 'both' " +
        "WHEN m.ida IS NOT NULL THEN 'media_only' " +
        "ELSE 'lexical_only' END AS tier " +
        "FROM mpairs m FULL OUTER JOIN lexf l ON m.ida = l.ida AND m.idb = l.idb " +
        "ORDER BY 1, 2")),

    // Incremental MEDIA dedup (r14): q95/q118's daily-crawl posture at
    // the byte tier — each batch payload (doc_id ≡ 0 mod 10, the house
    // convention) gets a verdict against the STANDING corpus only:
    // 'near' with its best standing partner (fingerprint hamming ≤ 4,
    // ties by partner id) or 'fresh'. The registry TWIN of
    // [[graft.sink.Sink.probeMediaNearDup]] — every sink probe has an
    // oracle-checked twin (q95↔probeFingerprints, q118↔probeVectorIndex,
    // q121↔probeNovelty, q123↔triageBatch), pinned equal on this split
    // in SinkSpec. Unfingerprintable payloads read 'fresh' (the probe's
    // spine convention). Scale: a filter + best-partner window over the
    // SHARED media pair kernel; the spine join is planner-gated; at
    // production the standing side is the index's media table and a
    // batch pays one fingerprint pass + bucket-bounded band probes.
    Q("q127_incremental_media",
      (s, d) => mediaVerdicts(s, d).orderBy("doc_id"),
      Some(s"WITH $mediaPairCtes, $mvCtes " +
        "SELECT doc_id, verdict, near_of, hamming FROM mv ORDER BY doc_id")),

    // Media dedup CLUSTERS (r14): connected components over the
    // verified media pair list — the q51/q90 endpoint for the byte
    // tier, completing the modality matrix (every near-dup tier ends
    // in cluster labels a keep-one policy can act on: lexical q51,
    // semantic q90, media q128). Rides the SHARED media pair kernel and
    // the SHARED hybrid-CC machinery (driver union-find under the edge
    // threshold, distributed min-label propagation above it — the q51
    // scale story; media components are band-collision-bounded like
    // LSH components, so no propagation round moves corpus-sized
    // state). cluster_id = component minimum, the house convention.
    Q("q128_media_clusters",
      (s, d) => AnalyticsOps.clusterLabels(s,
        mediaPairs(s, d).select("ida", "idb")).orderBy("doc_id"),
      Some("WITH RECURSIVE " + mediaPairCtes + ", " +
        "edges AS (SELECT ida AS u, idb AS v FROM mpairs UNION SELECT idb, ida FROM mpairs), " +
        "reach(u, r) AS (SELECT DISTINCT u, u FROM edges " +
        "UNION SELECT e.u, reach.r FROM edges e JOIN reach ON e.v = reach.u) " +
        "SELECT u AS doc_id, min(r) AS cluster_id FROM reach GROUP BY u ORDER BY doc_id")),

    // Media-tier CALIBRATION (r15 — the q98/q99 treatment for the byte
    // tier, the r15 verdict's ask #2): per true-hamming radius, the
    // fraction of pairs the 5×24 banding would SURFACE as candidates —
    // the measurement that justifies trusting the banded tier at 100 TB.
    // Ground truth is exact hamming between a FIXED 64-probe panel
    // (smallest (md5(doc_id), doc_id) among fingerprintable docs — the
    // q98 deterministic-panel convention) and every fingerprintable
    // corpus doc; the banding answer is explode-free (the OR of the five
    // band-key equalities — the SAME bandKeyOf definition the candidate
    // joins use, so this audits the join's own keys). Pigeonhole says
    // hit_rate ≡ 1.0 at hamming ≤ 4 — MEASURED here, not asserted — and
    // the decay beyond 4 prices the miss rate of any wider radius before
    // anyone re-thresholds. Scale: the panel is the only broadcast
    // (bounded audit contract — panel×corpus is LINEAR in the corpus,
    // the q98 argument); the only exchange is a ≤ 121-group aggregate;
    // hit_rate is a ratio of exact integer sums (the house rule).
    Q("q129_media_calibration",
      (s, d) => {
        val fps = graft.util.Caches.transientPersist(
          TrainingOps.mediaFps(s, d))
        val panel = fps
          .orderBy(Hashing.md5Long(col("doc_id").cast("string")).asc,
            col("doc_id").asc)
          .limit(TrainingOps.ProbePanelSize)
          .select(col("doc_id").as("qid"), col("fp0").as("qf0"),
            col("fp1").as("qf1"))
        fps.join(broadcast(panel), col("doc_id") =!= col("qid"))
          .select(
            expr(graft.multimodal.Multimodal
              .hammingSql("qf0", "qf1", "fp0", "fp1")).cast("int").as("hamming"),
            expr(graft.multimodal.Multimodal
              .bandsShareSql("qf0", "qf1", "fp0", "fp1")).cast("int").as("hit"))
          .groupBy("hamming")
          .agg(count(lit(1)).as("n_pairs"), sum("hit").as("n_band_hit"))
          .select(col("hamming"), col("n_pairs"), col("n_band_hit"),
            (col("n_band_hit").cast("double") /
              col("n_pairs").cast("double")).as("hit_rate"))
          .orderBy("hamming")
      },
      Some(s"WITH $mediaPairCtes, " +
        "mpanel AS (SELECT doc_id AS qid, fp0 AS qf0, fp1 AS qf1 FROM mfp " +
        s"ORDER BY ${oMd5Long("doc_id::VARCHAR")}, doc_id " +
        s"LIMIT ${TrainingOps.ProbePanelSize}), " +
        "mpp AS (SELECT " +
        "CAST(bit_count(xor(qf0, fp0)) + bit_count(xor(qf1, fp1)) AS INTEGER) AS hamming, " +
        "CASE WHEN (qf0 & 16777215) = (fp0 & 16777215) " +
        "OR ((qf0 >> 24) & 16777215) = ((fp0 >> 24) & 16777215) " +
        "OR (((qf0 >> 48) & 4095) | ((qf1 & 4095) << 12)) = " +
        "(((fp0 >> 48) & 4095) | ((fp1 & 4095) << 12)) " +
        "OR ((qf1 >> 12) & 16777215) = ((fp1 >> 12) & 16777215) " +
        "OR ((qf1 >> 36) & 16777215) = ((fp1 >> 36) & 16777215) " +
        "THEN 1 ELSE 0 END AS hit " +
        "FROM mfp, mpanel WHERE doc_id <> qid) " +
        "SELECT hamming, count(*) AS n_pairs, " +
        "CAST(sum(hit) AS BIGINT) AS n_band_hit, " +
        "CAST(sum(hit) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS hit_rate " +
        "FROM mpp GROUP BY 1 ORDER BY 1")),

    // q132 at FINE-GRAINED provenance (r16 — the r15 watch item as a
    // first-class oracle row, not a posture): source refined to
    // source#(doc_id % 7) — the per-domain-provenance stand-in that
    // multiplies |S| past the tens-of-sources contract — and the pair
    // stage BANDED BY THE SIGNATURE MINIMA ([[kmvPairsBanded]]) instead
    // of q132's |S|²/2 broadcast NL: candidates come from joining the
    // exploded signatures on the element (every output pair shares a
    // signature element by construction — n_common > 0 needs one), so
    // the stage pays |S|·k exploded rows + the pairs that actually
    // co-occur, never the full cross square. Same signature aggregate,
    // same estimator expression (kmvEstimate — one definition), so the
    // two stages cannot drift; estimate-identity additionally pinned in
    // AuditSpec and the |S| crossover measured in BASELINE.md r16. The
    // oracle mirrors the banded shape: candidate pairs from the
    // sig-element self-join, then the q132 estimator.
    Q("q134_source_overlap_fine",
      (s, d) => {
        // STAGE-PINNED to banded (this face is the fine-grained oracle
        // anchor; the kmvPairs front door dispatches). The signature
        // frame is transient-persisted AND materialized BEFORE the pair
        // stage (r18): the banded plan references it four times (element
        // self-join + two attaches), and consuming an unmaterialized
        // cache from all four inside one job serializes every scan
        // behind the per-block cache build — measured 2.6 → 1.3 s at
        // sf0.1 (OPTIMIZATION_r18.md; the front door already counts for
        // its dispatch statistics, so this aligns the face with its
        // shape). Same rows, same integers — the oracle is unchanged.
        val sigs = graft.util.Caches.transientPersist(
          kmvSigs(s, d, grain = Some(7)))
        sigs.count()
        kmvPairsBanded(sigs).orderBy("source_a", "source_b")
      },
      Some(s"WITH ${TrainingOps.shCte}, ${TrainingOps.shhCte}, " +
        "ss AS (SELECT DISTINCT dd.source || '#' || " +
        "CAST(dd.doc_id % 7 AS VARCHAR) AS source, shh.h1 " +
        "FROM shh JOIN documents dd USING (doc_id)), " +
        "sig AS (SELECT source, h1 FROM (SELECT source, h1, " +
        "row_number() OVER (PARTITION BY source ORDER BY h1) AS rn FROM ss) " +
        "WHERE rn <= 256), " +
        "pr AS (SELECT DISTINCT a.source AS sa, b.source AS sb " +
        "FROM sig a JOIN sig b ON a.h1 = b.h1 AND a.source < b.source), " +
        "ua AS (SELECT pr.sa, pr.sb, s.h1, 1 AS ina, 0 AS inb " +
        "FROM pr JOIN sig s ON s.source = pr.sa), " +
        "ub AS (SELECT pr.sa, pr.sb, s.h1, 0 AS ina, 1 AS inb " +
        "FROM pr JOIN sig s ON s.source = pr.sb), " +
        "uni AS (SELECT sa, sb, h1, max(ina) AS ina, max(inb) AS inb " +
        "FROM (SELECT * FROM ua UNION ALL SELECT * FROM ub) GROUP BY 1, 2, 3), " +
        "rk AS (SELECT sa, sb, h1, ina, inb, " +
        "row_number() OVER (PARTITION BY sa, sb ORDER BY h1) AS rn, " +
        "count(*) OVER (PARTITION BY sa, sb) AS nu FROM uni) " +
        "SELECT sa AS source_a, sb AS source_b, n_common, " +
        "CAST(n_common AS DOUBLE) / CAST(denom AS DOUBLE) AS est_jacc " +
        "FROM (SELECT sa, sb, " +
        "CAST(sum(CASE WHEN rn <= LEAST(nu, 256) AND ina = 1 AND inb = 1 " +
        "THEN 1 ELSE 0 END) AS BIGINT) AS n_common, " +
        "LEAST(min(nu), 256) AS denom FROM rk GROUP BY sa, sb) " +
        "WHERE n_common > 0 ORDER BY source_a, source_b")),
  )

}
