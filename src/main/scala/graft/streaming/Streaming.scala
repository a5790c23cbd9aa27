package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The batch kernels of q72 and q77, written so the same code also runs
  * over a `readStream` frame. */
object Streaming {

  /** The q72 filter-funnel as a streaming aggregation — the SAME
    * conditional-sum code runs batch (TrainingOps q72 calls this) and
    * incremental. A global funnel has no event-time key, so it streams in
    * COMPLETE mode: every micro-batch re-emits the funnel-so-far — the
    * live corpus-build dashboard. State is four counters total;
    * partial aggregation applies map-side before the single-group
    * shuffle, exactly like the batch plan.
    */
  def funnelCounts(docs: DataFrame): DataFrame = {
    val nTok = size(graft.functions.Text.words(col("text")))
    val c1 = col("text").isNotNull && nTok >= 30
    val c2 = c1 && col("lang").isin("en", "es", "de")
    val c3 = c2 && col("n_chars") <= 400
    docs.agg(count(lit(1)).as("n_total"),
      sum(c1.cast("bigint")).as("n_min_len"),
      sum(c2.cast("bigint")).as("n_lang"),
      sum(c3.cast("bigint")).as("n_max_size"))
  }

  /** The q77 PII scrub as a stream — the SAME per-document kernel runs
    * batch (TrainingOps q77 calls this, adding only its presentation
    * sort) and incremental. Stateless map ⇒ APPEND mode with no
    * watermark, no state store: the per-document scrub a live ingest
    * pipeline applies before anything lands. Patterns and redaction
    * order are part of the cross-engine contract — see q77's comment.
    */
  def piiScrub(docs: DataFrame): DataFrame = {
    val email = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+[.][a-zA-Z]{2,}"
    val ip = "(?:[0-9]{1,3}[.]){3}[0-9]{1,3}"
    val phone = "(?:[+][0-9]{7,15})|(?:[0-9]{3}-[0-9]{3}-[0-9]{4})"
    val redacted = regexp_replace(
      regexp_replace(
        regexp_replace(col("text"), lit(email), lit("<EMAIL>")),
        lit(ip), lit("<IP>")),
      lit(phone), lit("<PHONE>"))
    docs.select(col("doc_id"),
      regexp_count(col("text"), lit(email)).as("n_email"),
      regexp_count(col("text"), lit(ip)).as("n_ip"),
      regexp_count(col("text"), lit(phone)).as("n_phone"),
      md5(redacted).as("clean_hash"))
  }
}
