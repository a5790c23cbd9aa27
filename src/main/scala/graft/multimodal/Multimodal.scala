package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.util.Tables

/** One media item: opaque binary payload + typed metadata. At 100 TB the
  * payload column stays columnar parquet binary; decode happens
  * executor-side in partition batches, never on the driver.
  */
final case class MediaRow(doc_id: Long, media_type: String, payload: Array[Byte])

/** Decoded feature row — fixed-width schema so downstream joins/aggs stay
  * columnar and codegen-friendly.
  */
final case class MediaFeatures(
    doc_id: Long,
    media_type: String,
    n_bytes: Int,
    byte_hist: Array[Long], // 16 buckets over byte values
    mean_byte: Double)

/** Multimodal column plumbing: decode / feature-extract over opaque binary
  * payloads as a typed `mapPartitions` stage (the Scala analog of
  * `mapInPandas` batches).
  *
  * The decode step itself is a DETERMINISTIC STUB — this container has no
  * image/audio codecs — but everything Spark-side is real: schema, encoder,
  * partition batching, and the executor-side per-partition loop where a
  * codec (libjpeg, ffmpeg, …) would be initialized once per partition and
  * fed each payload.
  */
object Multimodal {

  /** STUB decoder: byte histogram + mean byte value stand in for real
    * decode/resize/frame-sample. Replace the body (not the signature) with
    * a codec call in production.
    */
  def decodeStub(payload: Array[Byte]): (Array[Long], Double) = {
    val hist = new Array[Long](16)
    var sum = 0L
    var i = 0
    while (i < payload.length) {
      val b = payload(i) & 0xff
      hist(b % 16) += 1
      sum += b
      i += 1
    }
    (hist, if (payload.length == 0) 0.0 else sum.toDouble / payload.length)
  }

  /** Decode features in partition batches. Expensive per-partition setup
    * (codec init) amortizes across the batch — the reason this is
    * mapPartitions, not a per-row UDF.
    */
  def extractFeatures(media: Dataset[MediaRow]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      // per-partition codec init would go here
      rows.map { r =>
        // null payload (nullable source column) → zero features, not an NPE
        val payload = if (r.payload == null) Array.emptyByteArray else r.payload
        val (hist, mean) = decodeStub(payload)
        MediaFeatures(r.doc_id, r.media_type, payload.length, hist, mean)
      }
    }
  }

  /** The documents table viewed as a media table — text bytes stand in
    * for payloads (no real media in the corpus); the ONE definition the
    * three registry queries share so the media shape cannot silently
    * diverge between them. `dropNullText` matches each query's oracle:
    * q43's oracle EMITS a (coalesced) row for a null text, so it keeps
    * them; the q62/q63 oracles filter null texts out (a stub-decoded
    * empty output would diverge from their NULL propagation otherwise),
    * so those drop them at the SCAN (pushed isnotnull filter).
    */
  private def mediaView(s: SparkSession, d: String,
      dropNullText: Boolean): Dataset[MediaRow] = {
    import s.implicits._
    val docs = Tables.documents(s, d)
    val base = if (dropNullText) docs.filter(col("text").isNotNull) else docs
    base
      .select(col("doc_id"), lit("text/plain").as("media_type"),
        col("text").cast("binary").as("payload"))
      .as[MediaRow]
  }

  /** Registry query (q43): documents' text bytes stand in for media
    * payloads; output is the decoded feature table, stable-ordered.
    */
  def featureQuery(s: SparkSession, d: String): DataFrame = {
    extractFeatures(mediaView(s, d, dropNullText = false))
      .select(col("doc_id"), col("media_type"), col("n_bytes"),
        col("mean_byte"), concat_ws(",", col("byte_hist")).as("hist_csv"))
      .orderBy("doc_id")
  }

  /** A fixed-width "thumbnail" row (resize output). */
  final case class MediaThumb(doc_id: Long, n_bytes: Int, thumb: Array[Byte])

  /** STUB resize: nearest-neighbor byte downsample to a fixed 32-byte
    * thumbnail — `out(j) = payload((j·n)/32)` — standing in for a pixel
    * resize (which needs a codec this container lacks). Deterministic and
    * byte-slice-expressible, so the WHOLE mapPartitions pipeline is
    * oracle-checkable; replace the body (not the signature) with a real
    * scaler in production. Empty payload → empty thumbnail.
    */
  def resizeStub(payload: Array[Byte], width: Int): Array[Byte] = {
    if (payload.length == 0) return Array.emptyByteArray
    val out = new Array[Byte](width)
    var j = 0
    while (j < width) {
      // long arithmetic: j * length overflows Int for payloads ≥ ~69 MB
      // (real media sizes), which would index negative and kill the task
      out(j) = payload(((j.toLong * payload.length) / width).toInt)
      j += 1
    }
    out
  }

  /** Resize in partition batches — same codec-seam shape as
    * [[extractFeatures]]: per-partition setup amortizes, payloads never
    * leave the executor.
    */
  def resize(media: Dataset[MediaRow], width: Int): Dataset[MediaThumb] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.map { r =>
        val payload = if (r.payload == null) Array.emptyByteArray else r.payload
        MediaThumb(r.doc_id, payload.length, resizeStub(payload, width))
      }
    }
  }

  /** Registry query (q62): 32-byte thumbnails of every payload, hex-coded
    * so the DuckDB oracle can hash-compare the exact bytes.
    */
  def resizeQuery(s: SparkSession, d: String): DataFrame = {
    resize(mediaView(s, d, dropNullText = true), 32)
      .select(col("doc_id"), col("n_bytes"),
        lower(hex(col("thumb"))).as("thumb_hex"))
      .orderBy("doc_id")
  }

  /** One sampled frame of a media payload. */
  final case class MediaFrame(doc_id: Long, frame_idx: Int, frame: Array[Byte])

  /** STUB frame sampler: k fixed-size byte windows at uniform stride —
    * `frame_i = payload[i·stride, i·stride+frameLen)`, stride =
    * max(1, n/k) — standing in for video frame extraction. Windows past
    * the payload end are empty/truncated, exactly like SQL byte
    * `substring`, which keeps the whole 1→N pipeline oracle-checkable.
    */
  def frameSampleStub(payload: Array[Byte], frames: Int, frameLen: Int): Seq[(Int, Array[Byte])] = {
    val n = payload.length
    val stride = math.max(1, n / frames)
    (0 until frames).map { i =>
      val from = math.min(n, i * stride)
      val until = math.min(n, from + frameLen)
      i -> java.util.Arrays.copyOfRange(payload, from, until)
    }
  }

  /** Frame-sample in partition batches (1 row → k frame rows) — the video
    * analog of [[resize]]; a real build swaps the stub for a demuxer
    * initialized once per partition.
    */
  def frameSample(media: Dataset[MediaRow], frames: Int, frameLen: Int): Dataset[MediaFrame] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.flatMap { r =>
        val payload = if (r.payload == null) Array.emptyByteArray else r.payload
        frameSampleStub(payload, frames, frameLen).map { case (i, f) =>
          MediaFrame(r.doc_id, i, f)
        }
      }
    }
  }

  /** Registry query (q63): 4 frames × 16 bytes per payload with per-frame
    * digests — the typed 1→N explode the driver gate hash-checks.
    */
  def frameSampleQuery(s: SparkSession, d: String): DataFrame = {
    frameSample(mediaView(s, d, dropNullText = true), 4, 16)
      .select(col("doc_id"), col("frame_idx").cast("long").as("frame_idx"),
        length(col("frame")).as("n_frame"), md5(col("frame")).as("digest"))
      .orderBy("doc_id", "frame_idx")
  }

  /** Minimum payload bytes for a [[fingerprintOf]] sketch — below this
    * there are fewer skip-gram windows (n − 5) than buckets and the
    * parity bits carry too little signal to band on (the q125
    * convention; callers filter).
    */
  val FingerprintMinBytes = 125

  /** X109's 120-bit perceptual fingerprint over an opaque payload: a
    * skip-gram parity sketch — each 6-byte window contributes the 4-byte
    * gram (b[i], b[i+1], b[i+3], b[i+5]), feature-hashed into 120
    * buckets by a multiplicative mix; bit_j = parity of bucket j's count
    * (a 1-bit count-sketch), packed as two 60-bit longs (fp0 = buckets
    * 0–59, fp1 = 60–119). Position-invariant. Edit bounds, property-
    * pinned in PureFunctionProps (ScalaCheck falsified the first draft's
    * tighter claim — each changed window toggles TWO parities, old gram
    * out + new gram in): a 1-byte substitution touches ≤ 4 windows
    * (starts p, p−1, p−3, p−5; fewer at payload edges) so flips ≤ 8
    * bits; a contiguous k-byte edit ≤ 2(k+5). The hamming ≤ 4 verify is
    * therefore a NEAR-IDENTITY contract (exact dups + edge-region
    * edits), not a 1-interior-edit guarantee — q129's calibration row
    * measures the banding's per-radius recall, which is exactly the
    * number to read before widening the radius toward edit tolerance.
    * Unrelated payloads sit near the 120-bit binomial mean (~60).
    * Integer-only and exactly oracle-expressible (the q43
    * ASCII char==byte identity; on ASCII the multiply stays < 2^63, so
    * the logical shift below equals the oracle's arithmetic one — on
    * arbitrary binary the Scala wrap is deterministic but outside the
    * oracle contract).
    *
    * DESIGN (r15, closing the r14 verdict's one `weak`) — three
    * measured steps, numbers in BASELINE.md r15:
    *  1. WIDTH: the r14 60-bit sketch banded 5×12 bits — a 4096-value
    *     band keyspace, so unrelated payloads collided at
    *     ~C(n,2)·5/4096 (2.85e8 candidates at sf10, quadratic decades).
    *     120 bits banded 5×24 keeps the pigeonhole guarantee (hamming
    *     ≤ 4 still leaves an intact band) and drops the uniform
    *     collision rate 2^12×.
    *  2. MIX: the r14 bucket map was `trigram % 60` — not a hash
    *     (65536 ≡ 256 ≡ 16 mod 120, so the bucket collapsed to
    *     (16·(b0+b1)+b2) mod 120, a symmetric degenerate feature); the
    *     multiplicative mix alone cut sf1 candidates 3×.
    *  3. GRAM: byte TRIGRAMS over this corpus (31-word salad) span a
    *     few-hundred-value universe, leaving a quartile of parity bits
    *     pinned (P(1) ≈ 0.2 — even a cryptographic bucket map left 52×
    *     the uniform collision rate, and XOR-folding wider bucket
    *     arrays did not help: the entropy is not there). The 6-byte
    *     skip-gram samples cross-word structure at near-trigram window
    *     cost (4 windows touch a byte, vs 3 for trigrams, vs 6 for
    *     contiguous 6-grams — the window count drives the edit bound).
    *     Measured candidates: sf0.1 439 / sf1 4,518 / sf10 77,151 —
    *     2.4× the irreducible C(n,2)·5/2^24 floor at sf10, vs 2.85e8
    *     for the shipped r14 design and 3.4e5 for contiguous 4-grams.
    *
    * ONE definition shared by the q125 audit query and the sink-tier
    * probe, so the fingerprint the index persists and the one a probe
    * computes can never drift.
    */
  def fingerprintOf(payload: Array[Byte]): Array[Long] = {
    val hist = new Array[Long](120)
    val n = payload.length
    var i = 0
    while (i + 5 < n) {
      val g = (payload(i) & 0xffL) * 16777216L +
        (payload(i + 1) & 0xffL) * 65536L +
        (payload(i + 3) & 0xffL) * 256L + (payload(i + 5) & 0xffL)
      hist((((g * 2654435761L) >>> 16) % 120L).toInt) += 1
      i += 1
    }
    var fp0 = 0L
    var fp1 = 0L
    var j = 0
    while (j < 60) { if ((hist(j) & 1L) == 1L) fp0 |= 1L << j; j += 1 }
    while (j < 120) { if ((hist(j) & 1L) == 1L) fp1 |= 1L << (j - 60); j += 1 }
    Array(fp0, fp1)
  }

  /** Hamming distance between two packed fingerprints. */
  def hammingOf(a: Array[Long], b: Array[Long]): Int =
    java.lang.Long.bitCount(a(0) ^ b(0)) + java.lang.Long.bitCount(a(1) ^ b(1))

  /** [[fingerprintOf]] as a column (tight-loop UDF — the simhash/q64
    * precedent: the 120-long histogram lives in the loop, never in a
    * shuffle). Returns a struct of the two packed longs; callers select
    * `.getField("_1")/.getField("_2")` as fp0/fp1. */
  def fingerprint(payload: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    udf((p: Array[Byte]) => { val a = fingerprintOf(p); (a(0), a(1)) })
      .apply(payload)

  /** THE BAND KNOB (r16 — the 1e9-doc staging): the 120 fingerprint
    * bits are banded [[MediaBands]] × [[MediaBandBits]]. The pigeonhole
    * arithmetic that makes the pair joins EXHAUSTIVE: a pair at hamming
    * h has at most h differing bands, so any h ≤ MediaBands − 1 leaves
    * ≥ 1 band intact and the equi-join on (bk, bandkey) surfaces the
    * pair — the radius-(MediaBands−1) guarantee every media consumer
    * (q125/q129/q131, probeMediaNearDup, takedownImpact) relies on.
    * The residual candidate floor is C(n,2) · MediaBands / 2^MediaBandBits
    * by construction (q129 certifies the uniform model), so the
    * documented 1e9-doc escape is trading radius for keyspace — e.g.
    * 4×30 bits halves the guaranteed radius to 3 while cutting the
    * uniform floor 64×/band — or partitioning the corpus by the
    * SIZE-CLASS component below (at a tail recall cost; see
    * [[SizeClassSlack]]). Changing either constant changes the
    * persisted index layout AND the hand-mirrored oracle CTEs
    * (AuditOps.mediaPairCtes, q129's inline CASE): rebuild indexes with
    * writeFingerprints and re-pin the oracles together.
    */
  val MediaBands = 5
  val MediaBandBits = 24

  /** SQL expression for band `k` (0 until [[MediaBands]]) over the two
    * packed 60-bit longs — derived from the constants (band k covers
    * bits [k·W, (k+1)·W); a band straddling the fp0/fp1 seam at bit 60
    * recombines both).
    */
  private def bandKeyOf(fp0: String, fp1: String, k: Int): String = {
    val lo = k * MediaBandBits
    val hi = lo + MediaBandBits
    val mask = (1L << MediaBandBits) - 1
    if (hi <= 60) {
      if (lo == 0) s"$fp0 & $mask" else s"shiftright($fp0, $lo) & $mask"
    } else if (lo >= 60) s"shiftright($fp1, ${lo - 60}) & $mask"
    else {
      val loBits = 60 - lo
      val loMask = (1L << loBits) - 1
      val hiMask = (1L << (MediaBandBits - loBits)) - 1
      s"(shiftright($fp0, $lo) & $loMask) | shiftleft($fp1 & $hiMask, $loBits)"
    }
  }

  /** The band key as one expression over a band-index column — the form
    * the exploded band joins use (mediaPairs, probeMediaNearDup). One
    * definition (via [[bandKeyOf]]), mirrored verbatim in the DuckDB
    * oracle CTE, so the banding the index probe uses and the one the
    * audit query uses can never drift.
    */
  def bandKeySql(fp0: String, fp1: String, bk: String = "bk"): String =
    (0 until MediaBands - 1).map(k =>
      s"WHEN $k THEN ${bandKeyOf(fp0, fp1, k)} ").mkString(s"CASE $bk ", "",
      s"ELSE ${bandKeyOf(fp0, fp1, MediaBands - 1)} END")

  /** Boolean SQL expression: do two fingerprints share ≥ 1 band? The
    * explode-free form for panel-bounded audits (q129's calibration
    * row) — same [[bandKeyOf]] definition as the banded joins, so
    * "would the candidate join surface this pair" is answered with the
    * join's own keys.
    */
  def bandsShareSql(a0: String, a1: String, b0: String, b1: String): String =
    (0 until MediaBands).map(k =>
      s"(${bandKeyOf(a0, a1, k)}) = (${bandKeyOf(b0, b1, k)})")
      .mkString(" OR ")

  /** The SIZE-CLASS band-key component, measured but not joined on:
    * partitioning the band join by floor(log2(n_bytes)) would divide
    * every bucket's occupancy by the corpus's size-class spread. q131
    * reports that posture's collision volume (`candidate_pairs_sized`)
    * beside the plain banding's, so the trade can be read off the
    * datasheet. Each side emits the classes of BOTH n and
    * n + [[SizeClassSlack]] (≤ 2 distinct — an 8-byte span straddles at
    * most one boundary for n ≥ 8, and FingerprintMinBytes = 125 ≫ 8):
    * for any pair with na ≤ nb ≤ na + Slack,
    * cls(nb) ∈ {cls(na), cls(na+Slack)}. The sized join is NOT
    * exhaustive for hamming ≤ 4 at larger |Δn|: parity cancellation on
    * low-entropy payloads can hold hamming ≤ 4 at arbitrary length
    * deltas (a run of one repeated byte keeps hamming at 0 for any two
    * lengths of equal parity; MultimodalSpec pins a 20-byte-Δn pair
    * whose classes do not meet). That recall loss is why every media
    * pair join bands on (bk, bkey) alone.
    */
  val SizeClassSlack = 8

  /** The ≤ 2 size classes a payload of `n` bytes participates in (see
    * [[SizeClassSlack]]): array(floor(log2 n), floor(log2 (n+slack))),
    * deduplicated. floor(log2) is computed EXACTLY as the bit length
    * (length(bin(n)) − 1), never via libm (r17 — the q52 lesson applied
    * to the one size-class expression an oracle row now mirrors:
    * a float log2 at a power-of-2 boundary can round to either side,
    * and the two engines need not agree). */
  def sizeClassesOf(n: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    def bitLen(c: org.apache.spark.sql.Column) =
      (length(bin(c.cast("long"))) - lit(1)).cast("long")
    array_distinct(array(bitLen(n), bitLen(n + lit(SizeClassSlack))))
  }

  /** SQL expression for the hamming distance between two packed pairs. */
  def hammingSql(a0: String, a1: String, b0: String, b1: String): String =
    s"bit_count($a0 ^ $b0) + bit_count($a1 ^ $b1)"
}
