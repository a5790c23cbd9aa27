package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.multimodal.{MediaRow, Multimodal}

/** Multimodal plumbing: typed mapPartitions decode over binary payloads.
  * The decode step is a deterministic stub (no codecs in this container);
  * these tests pin the Spark-side contract — schema, batch shape,
  * determinism, empty-payload behavior.
  */
class MultimodalSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("decodeStub: histogram partitions all bytes, mean is exact") {
    val payload = Array[Byte](0, 1, 15, 16, 17, -1) // -1 = 0xff = 255
    val (hist, mean) = Multimodal.decodeStub(payload)
    assert(hist.length == 16)
    assert(hist.sum == payload.length)
    assert(hist(0) == 2) // 0x00, 0x10
    assert(hist(1) == 2) // 0x01, 0x11
    assert(hist(15) == 2) // 0x0f, 0xff
    assert(mean == (0 + 1 + 15 + 16 + 17 + 255) / 6.0)
  }

  test("decodeStub: empty payload yields zero features, not NaN") {
    val (hist, mean) = Multimodal.decodeStub(Array.emptyByteArray)
    assert(hist.forall(_ == 0L) && mean == 0.0)
  }

  test("extractFeatures preserves rows, schema and per-row values") {
    import spark.implicits._
    val media = Seq(
      MediaRow(1L, "image/fake", "abc".getBytes("UTF-8")),
      MediaRow(2L, "audio/fake", Array.emptyByteArray),
      MediaRow(3L, "video/fake", Array.tabulate(300)(_.toByte))
    ).toDS().repartition(2) // exercise the partition-batch path
    val out = Multimodal.extractFeatures(media).collect().sortBy(_.doc_id)
    assert(out.map(_.doc_id).toSeq == Seq(1L, 2L, 3L))
    assert(out(0).n_bytes == 3 && out(1).n_bytes == 0 && out(2).n_bytes == 300)
    assert(out(0).byte_hist.sum == 3)
    // deterministic across runs
    val again = Multimodal.extractFeatures(media).collect().sortBy(_.doc_id)
    assert(out.zip(again).forall { case (a, b) =>
      a.byte_hist.sameElements(b.byte_hist) && a.mean_byte == b.mean_byte })
  }

  test("featureQuery runs on the corpus with stable ordering") {
    val df = Multimodal.featureQuery(spark, TestSpark.sfDir)
    val rows = df.limit(3).collect()
    assert(rows.nonEmpty)
    assert(df.columns.toSeq ==
      Seq("doc_id", "media_type", "n_bytes", "mean_byte", "hist_csv"))
    assert(rows.head.getAs[String]("media_type") == "text/plain")
  }

  test("resizeStub: exact nearest-neighbor picks, short and empty payloads") {
    // payload longer than width: out(j) = payload((j*n)/32)
    val long = Array.tabulate(100)(_.toByte)
    val t = Multimodal.resizeStub(long, 32)
    assert(t.length == 32)
    (0 until 32).foreach(j => assert(t(j) == long((j * 100) / 32)))
    // payload SHORTER than the thumbnail: indexes repeat, never overflow
    val short = Array[Byte](7, 9)
    val ts = Multimodal.resizeStub(short, 32)
    assert(ts.length == 32 && ts.forall(b => b == 7 || b == 9))
    assert(ts(0) == 7 && ts(31) == 9) // (31*2)/32 = 1
    // single byte → constant thumbnail; empty → empty (not 32 zeros)
    assert(Multimodal.resizeStub(Array[Byte](42), 32).forall(_ == 42))
    assert(Multimodal.resizeStub(Array.emptyByteArray, 32).isEmpty)
  }

  test("frameSampleStub: SQL-substring window semantics at the edges") {
    // n=10, frames=4: stride=2 → windows at 0,2,4,6 truncated to n
    val p = Array.tabulate(10)(_.toByte)
    val f = Multimodal.frameSampleStub(p, 4, 16)
    assert(f.map(_._1) == Seq(0, 1, 2, 3))
    assert(f(0)._2.sameElements(p.slice(0, 10))) // 0+16 past end → truncates
    assert(f(3)._2.sameElements(p.slice(6, 10)))
    // empty payload: 4 empty frames (stride clamps to 1, windows empty)
    val fe = Multimodal.frameSampleStub(Array.emptyByteArray, 4, 16)
    assert(fe.length == 4 && fe.forall(_._2.isEmpty))
    // payload shorter than frame count: later windows start past the end
    val tiny = Array[Byte](1, 2)
    val ft = Multimodal.frameSampleStub(tiny, 4, 16)
    assert(ft(0)._2.sameElements(tiny) && ft(2)._2.isEmpty && ft(3)._2.isEmpty)
  }

  test("null-text docs: dropped by q62/q63 (oracle filters), kept by q43 (oracle coalesces)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-mm-null-")
      .toFile.getAbsolutePath
    try {
      Seq(
        (1L, "alpha beta", "en", "web", 10L),
        (2L, null.asInstanceOf[String], "en", "web", 0L))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      // q62/q63: the null doc must vanish (their oracles' WHERE filters it;
      // stub-decoding it to empty output would hash-mismatch)
      val rq = SparkEntry.queries("q62_media_resize")(spark, dir).collect()
      assert(rq.map(_.getLong(0)).toSeq == Seq(1L))
      val fq = SparkEntry.queries("q63_frame_sample")(spark, dir).collect()
      assert(fq.map(_.getLong(0)).distinct.toSeq == Seq(1L) && fq.length == 4)
      // q43: the null doc SURVIVES with zero features (its oracle emits a
      // coalesced row for it)
      val dq = SparkEntry.queries("q43_multimodal_decode")(spark, dir).collect()
      assert(dq.map(_.getLong(0)).toSeq == Seq(1L, 2L))
      assert(dq(1).getAs[Int]("n_bytes") == 0)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("size-class knob recall caveat: a constructed low-entropy >slack-Δn near-dup pair is dropped by sized banding (the documented tail)") {
    import org.apache.spark.sql.functions.{col, lit}
    // the degenerate payload the SizeClassSlack doc names: a run of one
    // repeated byte puts every 6-byte window in ONE parity bucket, so
    // any two lengths of equal parity fingerprint IDENTICALLY (hamming
    // 0 — a true near-dup by the verify contract) at arbitrary Δn. 240
    // vs 260 bytes (both ≥ FingerprintMinBytes, Δn = 20 > slack 8)
    // straddle the 256 boundary by more than the slack
    val a = Array.fill(240)('X'.toByte)
    val b = Array.fill(260)('X'.toByte)
    val fa = Multimodal.fingerprintOf(a)
    val fb = Multimodal.fingerprintOf(b)
    assert(Multimodal.hammingOf(fa, fb) == 0,
      "the constructed pair must be a fingerprint-identical near-dup")
    // plain banding surfaces it (identical fingerprints share all bands)
    // …but the slack-widened size classes are DISJOINT, so the sized
    // band join never forms the candidate: the recall loss that keeps
    // every media pair join on plain banding, pinned here so the
    // caveat can't silently rot
    def classes(n: Int): Set[Long] =
      spark.range(1).select(Multimodal.sizeClassesOf(lit(n)).as("c"))
        .head.getSeq[Long](0).toSet
    assert(classes(240) == Set(7L) && classes(260) == Set(8L))
    assert(classes(240).intersect(classes(260)).isEmpty,
      "sized banding drops this pair — the documented |Δn|>slack tail")
    // and the typical-near-dup case the exhaustiveness argument covers:
    // any Δn ≤ slack pair always shares a class
    for (n <- Seq(125, 250, 255, 256, 1023)) {
      for (d <- 0 to Multimodal.SizeClassSlack) {
        assert(classes(n).intersect(classes(n + d)).nonEmpty,
          s"|Δn| ≤ slack pair (n=$n, Δ=$d) must share a size class")
      }
    }
  }

  test("resize/frameSample datasets: 1→1 and 1→k row contracts over batches") {
    import spark.implicits._
    val media = Seq(
      MediaRow(1L, "image/fake", Array.tabulate(64)(_.toByte)),
      MediaRow(2L, "video/fake", Array.emptyByteArray)
    ).toDS().repartition(2)
    val thumbs = Multimodal.resize(media, 32).collect().sortBy(_.doc_id)
    assert(thumbs.map(_.doc_id).toSeq == Seq(1L, 2L))
    assert(thumbs(0).thumb.length == 32 && thumbs(1).thumb.isEmpty)
    val frames = Multimodal.frameSample(media, 4, 16).collect()
      .sortBy(r => (r.doc_id, r.frame_idx))
    assert(frames.length == 8) // 1→4 per payload
    assert(frames.take(4).forall(_.frame.length == 16)) // 64/4=16-stride full windows
    assert(frames.drop(4).forall(_.frame.isEmpty))
  }
}
