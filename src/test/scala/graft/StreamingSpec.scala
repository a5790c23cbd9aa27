package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.Streaming

/** The q72 and q77 kernels driven as bounded `availableNow` streams over
  * the sf0.01 documents parquet must equal their batch registry answers —
  * the same code runs batch and stream.
  */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Stage a single parquet file into a fresh temp directory — the file
    * stream source only accepts directories.
    */
  private def stageDir(file: String): String = {
    val src = java.nio.file.Paths.get(file)
    val tmp = java.nio.file.Files.createTempDirectory("graft-an-stream")
    tmp.toFile.deleteOnExit()
    java.nio.file.Files.copy(src, tmp.resolve(src.getFileName.toString))
    tmp.toString
  }

  test("availableNow funnel stream equals the batch filter funnel (X50 on sf0.01)") {
    // q72's funnelCounts driven as a complete-mode availableNow run over
    // the real documents parquet — the final micro-batch's funnel must be
    // the batch counts exactly (a global agg has no watermark to reason
    // about, so this is the pure same-code-streams check)
    val dir = "/root/testdata/sf0.01"
    val schema = spark.read.parquet(s"$dir/documents.parquet").schema
    val streamDocs = spark.readStream.schema(schema)
      .parquet(stageDir(s"$dir/documents.parquet"))
    val q = Streaming.funnelCounts(streamDocs)
      .writeStream.format("memory").queryName("an_funnel")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("an_funnel").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val want = SparkEntry.queries("q72_filter_funnel")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.length == 1 && want.length == 1 && got.head == want.head)
    assert(got.head._1 > 0)
  }

  test("availableNow PII-scrub stream equals the batch q77 (X55 on sf0.01)") {
    // stateless map ⇒ append mode, no watermark, no state: every
    // document's counts and redaction hash must be byte-identical to
    // the batch form (which only adds the presentation sort)
    val dir = "/root/testdata/sf0.01"
    val schema = spark.read.parquet(s"$dir/documents.parquet").schema
    val streamDocs = spark.readStream.schema(schema)
      .parquet(stageDir(s"$dir/documents.parquet"))
    val q = Streaming.piiScrub(streamDocs)
      .writeStream.format("memory").queryName("an_pii")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("an_pii").collect()
      .map(_.toString).sorted.toSeq
    val want = SparkEntry.queries("q77_pii_scrub")(spark, dir).collect()
      .map(_.toString).sorted.toSeq
    assert(got == want && got.nonEmpty)
  }
}
