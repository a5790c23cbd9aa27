package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.sink.Sink

/** S9/S10 conflict-ignore upsert semantics: first write inserts, re-write
  * of the same batch inserts nothing, overlapping batches insert only the
  * fresh keys — the reference's `INSERT … ON CONFLICT DO NOTHING`
  * (`db.rs:174,208`), idempotent under reruns.
  */
class SinkSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("upsertAppend is keep-first and idempotent") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-sink").toString + "/t"
    def dataFiles() = new java.io.File(dir).list().count(_.endsWith(".parquet"))
    def table(at: String = dir) = spark.read.parquet(at).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val b1 = Seq((1L, "a"), (2L, "b"), (2L, "b-dup")).toDF("id", "v")
    assert(Sink.upsertAppend(b1, dir, "id") == 2) // intra-batch dedup
    assert(dataFiles() == 1) // a small batch lands as one file
    assert(Sink.upsertAppend(b1, dir, "id") == 0) // rerun: conflict-ignore
    assert(dataFiles() == 1) // a no-op upsert writes nothing
    val b2 = Seq((2L, "x"), (3L, "c")).toDF("id", "v")
    assert(Sink.upsertAppend(b2, dir, "id") == 1) // only the fresh key
    // the appended file and the first, both tiny and within twice each
    // other's size, fold into one, and the fold's stage is gone
    assert(dataFiles() == 1)
    assert(!new java.io.File(dir, "_fold").exists)
    val out = table()
    assert(out.keySet == Set(1L, 2L, 3L))
    assert(out(3L) == "c")
    assert(out(2L) != "x") // existing row 2 not replaced
    assert(out(2L) == "b") // keep-first: the row sorting first survived

    // intra-batch duplicates of an existing key and of a fresh key: the
    // existing row stays, the fresh key keeps the row sorting first
    val b3 = Seq((3L, "z"), (3L, "a"), (4L, "q"), (4L, "d"), (4L, "m"))
      .toDF("id", "v")
    assert(Sink.upsertAppend(b3, dir, "id") == 1)
    assert(table() == out + (4L -> "d"))
    assert(dataFiles() == 1)

    // a pre-created sink directory holding no parquet counts as fresh
    val empty = Files.createTempDirectory("graft-sink-empty").toString
    assert(Sink.upsertAppend(b1, empty, "id") == 2)
    assert(table(empty) == Map(1L -> "a", 2L -> "b"))
  }

  test("foldSet: equal pairs fold, a file over twice the rest stops it, the split caps it") {
    val b = 1000L
    val big = 1L << 20
    assert(Sink.foldSet(Seq(b, b), big) == Seq(0, 1))
    assert(Sink.foldSet(Seq(b, 3 * b), big).isEmpty)
    // ascending, ties in the given order: b + b, then 3b <= 2 * 2b
    assert(Sink.foldSet(Seq(3 * b, b, b), big) == Seq(1, 2, 0))
    assert(Sink.foldSet(Seq(b, b, 5 * b), big) == Seq(0, 1)) // 5b > 2 * 2b
    // a small file that takes no neighbour does not block a run above it
    assert(Sink.foldSet(Seq(3 * b, b, 3 * b), big) == Seq(0, 2))
    assert(Sink.foldSet(Seq(b, 3 * b, 7 * b), big).isEmpty)
    assert(Sink.foldSet(Seq(b), big).isEmpty)
    assert(Sink.foldSet(Seq.empty, big).isEmpty)
    // files at or above the split never fold; the total stays within it
    assert(Sink.foldSet(Seq(b, b), b).isEmpty)
    assert(Sink.foldSet(Seq(b, b, b), 2 * b) == Seq(0, 1))
    assert(Sink.foldSet(Seq(600L, 600L), b).isEmpty)
  }

  /** A contract table of two files and a function table, then a fold of
    * the two contract files stopped at `crash`: 1 = merged file staged,
    * no journal; 2 = journaled, not yet moved in; 3 = moved in, one
    * folded file deleted and the other not. `settle` must leave every
    * row once, `validate` at 0, and a rerun of the rows must append 0. */
  private def foldCrash(crash: Int): Unit = {
    import java.io.File
    import java.nio.file.Paths
    import org.apache.spark.sql.{Row, SaveMode}
    import graft.model.Schemas
    import spark.implicits._
    val db = Files.createTempDirectory("graft-fold-crash").toString
    val table = s"$db/contract"
    def contracts(ids: Range) = spark.createDataFrame(
      spark.sparkContext.parallelize(
        ids.map(i => Row(f"c$i%02d", s"C$i", null, "json", null)), 1),
      Schemas.contractSchema)
    contracts(0 until 5).write.parquet(table)
    contracts(5 until 8).write.mode(SaveMode.Append).parquet(table)
    (0 until 8).map(i => (s"f$i", f"c$i%02d", s"C$i", "f", "main.sol",
      "f()", "0x26121ff0", "function f() {}", true))
      .toDF(Schemas.functionSchema.fieldNames.toSeq: _*)
      .write.parquet(s"$db/function")
    def violations() = Schemas.validate(spark.read.parquet(table),
      spark.read.parquet(s"$db/function"))
    val folded = new File(table).list().filter(_.startsWith("part-")).sorted
    assert(folded.length == 2)

    spark.read.parquet(folded.map(f => s"$table/$f").toSeq: _*).coalesce(1)
      .write.parquet(s"$table/_fold")
    if (crash >= 2) Files.writeString(Paths.get(table, "_fold", "_FOLDED"),
      folded.map(_ + "\n").mkString)
    if (crash >= 3) {
      val merged = new File(s"$table/_fold").list().find(_.startsWith("part-")).get
      Files.move(Paths.get(table, "_fold", merged), Paths.get(table, merged))
      Files.delete(Paths.get(table, folded(0)))
      assert(violations()("contract_pk") > 0) // the unfolded file's rows twice
    }

    Sink.settle(spark, table)
    assert(!new File(table, "_fold").exists)
    assert(spark.read.parquet(table).select("id").as[String].collect().sorted.toSeq ==
      (0 until 8).map(i => f"c$i%02d"))
    assert(violations().values.forall(_ == 0))
    assert(Sink.upsertAppend(contracts(0 until 8), table, "id") == 0)
  }

  test("settle after a fold staged but not journaled drops the stage") {
    foldCrash(1)
  }

  test("settle after a journaled fold not yet moved in rolls it forward") {
    foldCrash(2)
  }

  test("settle after a fold moved in with a folded file left rolls it forward") {
    foldCrash(3)
  }

  test("twelve upserts keep the keep-first rows and lookups, folding small files") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-sink-fold").toString + "/t"
    val split = spark.sessionState.conf.filesMaxPartitionBytes
    def sizes() = new java.io.File(dir).listFiles().toSeq
      .filter(_.getName.startsWith("part-")).map(_.length)
    val rng = new scala.util.Random(12)
    var expected = Map.empty[String, (String, String)] // id -> (selector, v)
    for (_ <- 0 until 12) {
      // batches of varying size and payload, overlapping the table and
      // themselves
      val rows = Seq.fill(5 + rng.nextInt(60)) {
        val k = rng.nextInt(300)
        (f"k$k%03d", f"0x${k % 13}%08x", rng.alphanumeric.take(10 + rng.nextInt(80)).mkString)
      }
      val fresh = rows.filterNot(r => expected.contains(r._1)).groupBy(_._1)
        .map { case (k, rs) => k -> rs.map(r => (r._2, r._3)).min }
      assert(Sink.upsertAppend(rows.toDF("id", "selector", "v"), dir, "id") == fresh.size)
      expected ++= fresh
      // nothing left to fold: each file more than twice the next smaller
      assert(Sink.foldSet(sizes(), split).isEmpty)
      val ladder = sizes().sorted
      assert(ladder.zip(ladder.drop(1)).forall { case (a, b) => b > 2 * a }, ladder)
    }
    assert(sizes().size <= 3, sizes())
    assert(new java.io.File(dir).list().filter(_.startsWith("part-"))
      .forall(_.endsWith(".zstd.parquet")))
    val t = spark.read.parquet(dir)
    assert(t.as[(String, String, String)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap == expected)
    assert(t.count() == expected.size)
    for (k <- expected.keys.toSeq.sorted.take(5))
      assert(t.filter(col("id") === k).select("v").as[String].collect().toSeq ==
        Seq(expected(k)._2))
    for (s <- Seq(0, 5, 12).map(i => f"0x$i%08x"))
      assert(t.filter(col("selector") === s).select("id").as[String].collect().toSet ==
        expected.collect { case (k, (`s`, _)) => k }.toSet)
  }

  test("writeShards: per-shard directories whose read-back order IS the layout order") {
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("graft-shards").toString + "/s"
    // the real producer: q87's deterministic layout over the gate corpus
    val layout = SparkEntry.queries("q87_shard_layout")(
      spark, "/root/testdata/sf0.001")
    Sink.writeShards(layout, dir, numShards = 8)
    val expected = layout.collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(0))) // (shard,pos,doc)
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    assert(expected.keySet == (0L until 8L).toSet)
    for (shard <- 0L until 8L) {
      // no sort on read: within-file parquet order must already be the
      // layout's in-shard order (the property training jobs stream by)
      val back = spark.read.parquet(s"$dir/shard=$shard")
        .select(col("doc_id")).collect().map(_.getLong(0)).toSeq
      assert(back == expected(shard), s"shard $shard order mismatch")
    }
  }

  test("takedownShards: affected shards rewritten in order, unaffected byte-identical, manifest digest moves, replay is a no-op") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-shardtd").toString + "/s"
    val layout = SparkEntry.queries("q87_shard_layout")(
      spark, "/root/testdata/sf0.001")
    Sink.writeShards(layout, dir, numShards = 8)
    val pre = layout.collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(0))) // (shard,pos,doc)
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    // deletion set: two docs from shard 0, one from shard 1, and EVERY
    // doc of shard 3 (the full-removal path) — shards 2,4..7 untouched
    val delIds = (pre(0L).take(2) ++ pre(1L).take(1) ++ pre(3L)).toSeq
    def fileSigs(): Map[String, (Long, Long)] = {
      val fs = org.apache.hadoop.fs.FileSystem.getLocal(
        spark.sessionState.newHadoopConf())
      def walk(p: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.FileStatus] =
        fs.listStatus(p).toSeq.flatMap(st =>
          if (st.isDirectory) walk(st.getPath) else Seq(st))
      walk(new org.apache.hadoop.fs.Path(dir))
        .filter(_.getPath.getName.startsWith("part-"))
        .map(st => st.getPath.toString ->
          (st.getLen, st.getModificationTime)).toMap
    }
    def manifestDigests(): Map[Long, String] =
      spark.read.parquet(dir)
        .groupBy(col("shard").cast("long").as("shard"))
        .agg(graft.functions.Hashing
          .multisetDigest(col("doc_id").cast("string")).as("mh"))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val sigsPre = fileSigs()
    val mhPre = manifestDigests()
    val report = Sink.takedownShards(delIds.toDF("doc_id"), dir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(report("ids_given") == delIds.size)
    assert(report("shards_total") == 8L)
    assert(report("shards_rewritten") == 2L) // shards 0 and 1
    assert(report("shards_removed") == 1L)   // shard 3, fully deleted
    assert(report("rows_removed") == delIds.size)
    assert(report("rows_rewritten") ==
      (pre(0L).size - 2) + (pre(1L).size - 1))
    // affected shards: deleted docs gone, surviving order preserved,
    // no read-time sort (the writeShards contract)
    for (shard <- Seq(0L, 1L)) {
      val back = spark.read.parquet(s"$dir/shard=$shard")
        .select(col("doc_id")).collect().map(_.getLong(0)).toSeq
      assert(back == pre(shard).filterNot(delIds.contains),
        s"shard $shard post-takedown order mismatch")
    }
    // the fully-deleted shard directory is gone; root read skips it
    assert(!new java.io.File(s"$dir/shard=3").exists())
    // unaffected shard files byte-identical (same paths, length, mtime)
    val sigsPost = fileSigs()
    for ((p, sig) <- sigsPre
        if !p.contains("shard=0") && !p.contains("shard=1")
          && !p.contains("shard=3"))
      assert(sigsPost.get(p).contains(sig), s"unaffected file moved: $p")
    // q89-style manifest digest changes exactly where docs left
    val mhPost = manifestDigests()
    assert(!mhPost.contains(3L))
    for (s <- Seq(0L, 1L)) assert(mhPost(s) != mhPre(s), s"digest static: $s")
    for (s <- Seq(2L, 4L, 5L, 6L, 7L)) assert(mhPost(s) == mhPre(s))
    // the _manifest sidecar moved in lockstep: the fully-removed shard's
    // manifest partition is gone, and with no `h` in this layout the
    // digest falls back to doc_id membership — exactly the manifestDigests
    // frame above (the sidecar IS the post-takedown truth, no q89 re-run)
    assert(!new java.io.File(s"$dir/_manifest/shard=3").exists())
    val sidecarMh = spark.read.parquet(s"$dir/_manifest")
      .select(col("shard").cast("long"), col("content_mh"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(sidecarMh == mhPost)
    // replay: idempotent no-op, artifact untouched
    val replay = Sink.takedownShards(delIds.toDF("doc_id"), dir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(replay("rows_removed") == 0L)
    assert(replay("shards_rewritten") == 0L && replay("shards_removed") == 0L)
    assert(fileSigs() == sigsPost)
  }

  /** The manifest frame in q89 column order, partition-typed uniformly —
    * read-back sidecars append the `shard` partition column last and
    * infer it as int, so compare on explicit casts.
    */
  private def mrows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] = {
    import org.apache.spark.sql.functions.col
    df.select(col("shard").cast("long"), col("n_docs").cast("long"),
      col("n_tokens").cast("long"), col("sum_chars").cast("long"),
      col("min_doc").cast("long"), col("max_doc").cast("long"),
      col("content_mh"))
      .orderBy("shard").collect().map(_.toSeq.toList).toSeq
  }

  test("manifest sidecar: writeShards lands a fresh q89, takedownShards maintains it to the q136 post frame, legacy degrades loudly") {
    import org.apache.spark.sql.functions._
    val sf = TestSpark.sfDir
    val dir = Files.createTempDirectory("graft-shman").toString + "/s"
    // the q89 keyed frame + a pos column = a writeShards layout carrying
    // every manifest input (h, toks, n_chars)
    val layout = graft.util.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"), col("n_chars"))
      .withColumn("shard", (graft.functions.Hashing.md5Long(
        concat(lit("shard:"), col("doc_id").cast("string"))) % 8L).cast("long"))
      .withColumn("h", graft.functions.Hashing.simpleHash(col("text")))
      .withColumn("toks",
        size(graft.functions.Text.words(col("text"))).cast("long"))
      .drop("text")
      .withColumn("pos", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("shard").orderBy("doc_id")).cast("long"))
    Sink.writeShards(layout, dir, numShards = 8)
    // the sidecar as written == a fresh q89 manifest run over the corpus
    assert(mrows(spark.read.parquet(s"$dir/_manifest")) ==
      mrows(SparkEntry.queries("q89_shard_manifest")(spark, sf)))
    // land the %97 takedown: the sidecar must now read EXACTLY the
    // oracle-green q136 post frame — no release-wide q89 re-run needed
    val ids = graft.util.Tables.documents(spark, sf)
      .select(col("doc_id")).filter(col("doc_id") % 97 === 0)
    assert(ids.count() > 0, "gate corpus must exercise the %97 set")
    Sink.takedownShards(ids, dir)
    assert(mrows(spark.read.parquet(s"$dir/_manifest")) ==
      mrows(SparkEntry.queries("q136_shard_manifest_post")(spark, sf)))
    // legacy artifact (no sidecar): loud degrade, data takedown still
    // lands, and no sidecar is invented after the fact
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/_manifest"), true)
    val ids2 = graft.util.Tables.documents(spark, sf)
      .select(col("doc_id")).filter(col("doc_id") % 89 === 0)
    val rep = Sink.takedownShards(ids2, dir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rep("rows_removed") > 0L)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/_manifest")))
    val stillThere = spark.read.parquet(dir)
      .filter(col("doc_id") % 89 === 0 || col("doc_id") % 97 === 0).count()
    assert(stillThere == 0L)
  }

  test("takedownShards: a crash between set-aside and staged rename is recovered on replay (staged copy completes the swap)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-shardcr").toString + "/s"
    val layout = SparkEntry.queries("q87_shard_layout")(
      spark, "/root/testdata/sf0.001")
    Sink.writeShards(layout, dir, numShards = 8)
    val pre = layout.collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(0))) // (shard,pos,doc)
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    val delIds = pre(0L).take(3).toSeq
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sessionState.newHadoopConf())
    def path(s: String) = new org.apache.hadoop.fs.Path(s)
    // construct the EXACT mid-swap crash state the ADVICE names: the
    // staged post-takedown copy of shard 0 is fully written under
    // .takedown-staging/, the live shard=0 has been renamed to the
    // old-shard=0 set-aside, and the staged->live rename never ran —
    // shard 0 is absent from the live artifact, its only two copies
    // inside the directory a naive replay's Overwrite would destroy
    spark.read.parquet(dir)
      .filter(col("shard") === 0 && !col("doc_id").isin(delIds: _*))
      .repartition(1, col("shard")).sortWithinPartitions("shard", "pos")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("shard").parquet(s"$dir/.takedown-staging")
    // the real swap order is manifest-first, so in this window shard 0's
    // sidecar row is already the post-takedown one — reproduce that too
    Sink.shardManifest(spark.read.parquet(dir)
        .filter(col("shard") === 0 && !col("doc_id").isin(delIds: _*)))
      .coalesce(1).write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("shard").parquet(s"$dir/.mtmp")
    fs.delete(path(s"$dir/_manifest/shard=0"), true)
    assert(fs.rename(path(s"$dir/.mtmp/shard=0"),
      path(s"$dir/_manifest/shard=0")))
    fs.delete(path(s"$dir/.mtmp"), true)
    assert(fs.rename(path(s"$dir/shard=0"),
      path(s"$dir/.takedown-staging/old-shard=0")))
    assert(!fs.exists(path(s"$dir/shard=0")))
    // replaying the takedown is the documented recovery: the preamble
    // must complete the interrupted swap from the staged copy BEFORE the
    // staging root is overwritten, and the replay then sees shard 0
    // already clean (no rows removed, nothing rewritten)
    val replay = Sink.takedownShards(delIds.toDF("doc_id"), dir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(replay("rows_removed") == 0L)
    assert(replay("shards_rewritten") == 0L && replay("shards_removed") == 0L)
    val back = spark.read.parquet(s"$dir/shard=0")
      .select(col("doc_id")).collect().map(_.getLong(0)).toSeq
    assert(back == pre(0L).filterNot(delIds.contains),
      "recovered shard 0 must hold the staged post-takedown rows in order")
    assert(!fs.exists(path(s"$dir/.takedown-staging")))
    // every other shard untouched
    for (s <- 1L until 8L) {
      val b = spark.read.parquet(s"$dir/shard=$s")
        .select(col("doc_id")).collect().map(_.getLong(0)).toSeq
      assert(b == pre(s))
    }
    // and the sidecar reads the truth of the final artifact
    assert(mrows(spark.read.parquet(s"$dir/_manifest")) ==
      mrows(Sink.shardManifest(spark.read.parquet(dir))))
  }

  test("takedownShards: a crash window with only the set-aside left rolls back, and the replay redoes the shard") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-shardrb").toString + "/s"
    val layout = SparkEntry.queries("q87_shard_layout")(
      spark, "/root/testdata/sf0.001")
    Sink.writeShards(layout, dir, numShards = 8)
    val pre = layout.collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(0)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    val delIds = pre(2L).take(2).toSeq
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sessionState.newHadoopConf())
    def path(s: String) = new org.apache.hadoop.fs.Path(s)
    // the rarer window: the staged->live rename FAILED and its in-place
    // restore also failed (live missing, only the old-shard= set-aside
    // survives — the staged copy is gone with the failed rename)
    fs.mkdirs(path(s"$dir/.takedown-staging"))
    assert(fs.rename(path(s"$dir/shard=2"),
      path(s"$dir/.takedown-staging/old-shard=2")))
    val replay = Sink.takedownShards(delIds.toDF("doc_id"), dir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // the preamble rolled the pre-takedown shard back into place, so the
    // replay finds the ids still present and performs the takedown
    assert(replay("rows_removed") == delIds.size.toLong)
    assert(replay("shards_rewritten") == 1L)
    val back = spark.read.parquet(s"$dir/shard=2")
      .select(col("doc_id")).collect().map(_.getLong(0)).toSeq
    assert(back == pre(2L).filterNot(delIds.contains))
    assert(!fs.exists(path(s"$dir/.takedown-staging")))
    // the replay re-marked shard 2 affected and rewrote its manifest
    // row too — the sidecar reads the truth of the final artifact
    assert(mrows(spark.read.parquet(s"$dir/_manifest")) ==
      mrows(Sink.shardManifest(spark.read.parquet(dir))))
  }

  test("takedownAll: one id frame lands index tombstones + shard rewrites; idempotent under replay; pricing matches the landing") {
    import org.apache.spark.sql.functions._
    val sf = TestSpark.sfDir
    val base = Files.createTempDirectory("graft-tdall").toString
    val fpDir = s"$base/fp"; val vecDir = s"$base/vec"; val artDir = s"$base/art"
    val docs = graft.util.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"))
    Sink.writeFingerprints(docs, fpDir)
    Sink.writeVectorIndex(graft.util.Tables.embeddings(spark, sf), vecDir)
    Sink.writeShards(
      SparkEntry.queries("q87_shard_layout")(spark, sf), artDir, 8)
    val ids = docs.select(col("doc_id")).filter(col("doc_id") % 37 === 0)
    val nIds = ids.count()
    assert(nIds > 0)
    // the read-only shard-tier pricing must match what the landing does
    val price = Sink.shardTakedownImpact(ids, artDir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val rep = Sink.takedownAll(ids, "r18test",
      Some(fpDir), Some(vecDir), Seq(artDir))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rep("ids_given") == nIds)
    assert(rep("shard_rows_removed") == price("rows_affected"))
    assert(rep("shards_rewritten") + rep("shards_removed") ==
      price("shards_affected"))
    // tombstones landed on BOTH indexes under the same tag, and the
    // released artifact no longer serves the ids — no window between
    assert(spark.read.parquet(s"$fpDir/deleted/batch=r18test").count() == nIds)
    assert(spark.read.parquet(s"$vecDir/deleted/batch=r18test").count() == nIds)
    assert(spark.read.parquet(artDir)
      .filter(col("doc_id") % 37 === 0).count() == 0)
    // replay of the full call converges (a partial-prefix replay runs
    // the same code path: scoped tombstone overwrites + shard no-ops)
    val rep2 = Sink.takedownAll(ids, "r18test",
      Some(fpDir), Some(vecDir), Seq(artDir))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rep2("shard_rows_removed") == 0L && rep2("shards_rewritten") == 0L)
    assert(spark.read.parquet(s"$fpDir/deleted/batch=r18test").count() == nIds)
  }

  test("fingerprint index round-trip: a batch probe reproduces q95 without standing texts") {
    import org.apache.spark.sql.functions._
    // the q95 split: batch = doc_id ≡ 0 (mod 10), standing = the rest
    val docs = graft.util.Tables.documents(spark, TestSpark.sfDir)
      .select(col("doc_id"), col("text"))
    val standing = docs.filter(col("doc_id") % 10 =!= 0)
    val batch = docs.filter(col("doc_id") % 10 === 0)
    val dir = Files.createTempDirectory("graft-fp").toString + "/idx"
    Sink.writeFingerprints(standing, dir)
    // the probe reads ONLY batch texts + the parquet index — prove it by
    // handing it a standing side that has no text column at all
    val got = Sink.probeFingerprints(batch, dir)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1),
        Option(r.get(2)), Option(r.get(3)))).toSeq
    // the in-session q95 flow over the full corpus is the reference —
    // the persisted-index path must land on the SAME verdict frame
    val want = SparkEntry.queries("q95_incremental_dedup")(spark, TestSpark.sfDir)
      .collect().map(r => (r.getLong(0), r.getString(1),
        Option(r.get(2)), Option(r.get(3)))).toSeq
    assert(got == want)
    // and the index layout is the documented three tables
    for (t <- Seq("exact", "bands", "shingles"))
      assert(spark.read.parquet(s"$dir/$t").count() > 0, t)

    // batch-append idempotency + self-match guard: admitting the batch
    // and REPLAYING the append (the at-least-once foreachBatch case)
    // must leave the index with one copy of the batch's rows, and
    // re-probing the admitted batch must never report a doc as a
    // duplicate of itself
    Sink.appendFingerprints(batch, dir, "b0")
    val once = spark.read.parquet(s"$dir/shingles").count()
    Sink.appendFingerprints(batch, dir, "b0") // replay
    assert(spark.read.parquet(s"$dir/shingles").count() == once)
    val reprobe = Sink.probeFingerprints(batch, dir).collect()
    assert(reprobe.forall(r => Option(r.get(2)).forall(_ != r.getLong(0))),
      "self-match leaked through the guard")

    // a replayed probe that EXCLUDES its own partition must reproduce
    // the first attempt's verdicts exactly — including intra-batch
    // duplicates staying 'fresh' (without the exclusion they would read
    // each other from the index and flip to exact/near)
    val replayed = Sink.probeFingerprints(batch, dir, Some("b0"))
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1),
        Option(r.get(2)), Option(r.get(3)))).toSeq
    assert(replayed == got, "replayed probe diverged from the first attempt")

    // SAME-batch replay through an admit that anti-joins the known ids:
    // the known-ids read must EXCLUDE the batch's own partition — a naive
    // known set would make the replay's anti-join empty and the scoped
    // Overwrite would then ERASE the batch's own admitted fingerprints
    val tag = "b0"
    val own = spark.read.parquet(s"$dir/shingles")
      .where(col("batch") === tag).count()
    assert(own > 0)
    val known = spark.read.parquet(s"$dir/exact")
      .filter(col("batch") =!= tag).select("doc_id")
    val freshReplay = batch.join(known, Seq("doc_id"), "left_anti")
    Sink.appendFingerprints(freshReplay, dir, tag)
    assert(spark.read.parquet(s"$dir/shingles")
      .where(col("batch") === tag).count() == own,
      "same-batch replay erased its own partition")

    // an admitted doc is in the probe's reach: an exact copy arriving
    // in a later batch reads as its duplicate
    locally {
      import spark.implicits._
      val grow = Files.createTempDirectory("graft-fp-grow").toString + "/idx"
      val novel = "completely different words here entirely novel content"
      Sink.writeFingerprints(
        Seq((1L, "alpha beta gamma delta")).toDF("doc_id", "text"), grow)
      def verdict(id: Long) = Sink.probeFingerprints(
          Seq((id, novel)).toDF("doc_id", "text"), grow)
        .collect().map(r => (r.getString(1),
          Option(r.getAs[java.lang.Long]("dup_of")).map(_.toLong))).head
      assert(verdict(12L) == ("fresh", None))
      Sink.appendFingerprints(Seq((12L, novel)).toDF("doc_id", "text"), grow, "b1")
      assert(verdict(20L) == ("exact", Some(12L)), "the append did not grow the index")
    }

    // base rebuild sweeps batch partitions AFTER the new base lands:
    // stale appended fingerprints are gone, the base survives
    Sink.writeFingerprints(standing, dir)
    val batches = spark.read.parquet(s"$dir/shingles")
      .select("batch").distinct().collect().map(_.getString(0)).toSet
    assert(batches == Set("base"), batches.toString)
  }

  test("staged-swap crash window leaves a complete recoverable index generation") {
    import org.apache.spark.sql.functions._
    val docs = graft.util.Tables.documents(spark, TestSpark.sfDir)
      .select(col("doc_id"), col("text"))
    val standing = docs.filter(col("doc_id") % 10 =!= 0)
    val batch = docs.filter(col("doc_id") % 10 === 0)
    val dir = Files.createTempDirectory("graft-fp-crash").toString + "/idx"
    Sink.writeFingerprints(standing, dir)
    val want = Sink.probeFingerprints(batch, dir).orderBy("doc_id")
      .collect().map(_.toString).toSeq
    val hconf = spark.sessionState.newHadoopConf()
    def p(t: String, n: String) = new org.apache.hadoop.fs.Path(s"$dir/$t/$n")
    def fs(t: String) = p(t, "x").getFileSystem(hconf)
    // simulate the WORST crash window: every base set aside, the
    // rename-in never happened (killed between the two metadata ops) —
    // the r11 swap (delete-then-rename) left NOTHING here; the r12 swap
    // must leave `.old-base` as a complete generation
    for (t <- Seq("exact", "bands", "shingles"))
      assert(fs(t).rename(p(t, "batch=base"), p(t, ".old-base")), t)
    // the documented manual recovery: rename the aside generation back
    for (t <- Seq("exact", "bands", "shingles"))
      assert(fs(t).rename(p(t, ".old-base"), p(t, "batch=base")), t)
    val recovered = Sink.probeFingerprints(batch, dir).orderBy("doc_id")
      .collect().map(_.toString).toSeq
    assert(recovered == want, "recovered index diverged")
    // a subsequent rebuild over the recovered index sweeps every
    // transient (aside dir, staging) and stays probe-identical
    Sink.writeFingerprints(standing, dir)
    for (t <- Seq("exact", "bands", "shingles")) {
      assert(!fs(t).exists(p(t, ".old-base")), t)
      val entries = fs(t).listStatus(new org.apache.hadoop.fs.Path(s"$dir/$t"))
        .map(_.getPath.getName).toSet
      assert(entries == Set("batch=base"), entries.toString)
    }
    assert(!fs("exact").exists(new org.apache.hadoop.fs.Path(s"$dir/.staging")))
    val after = Sink.probeFingerprints(batch, dir).orderBy("doc_id")
      .collect().map(_.toString).toSeq
    assert(after == want)
    // the docstring's OTHER recovery option: from the crash state
    // (aside present, NO live base) just re-run the rebuild directly.
    // The swap must NOT clear the aside before its rename-in (with no
    // base to set aside, deleting it would leave zero generations if
    // the rename-in then failed); on success the sweep removes it.
    for (t <- Seq("exact", "bands", "shingles"))
      assert(fs(t).rename(p(t, "batch=base"), p(t, ".old-base")), t)
    Sink.writeFingerprints(standing, dir)
    for (t <- Seq("exact", "bands", "shingles")) {
      val entries = fs(t).listStatus(new org.apache.hadoop.fs.Path(s"$dir/$t"))
        .map(_.getPath.getName).toSet
      assert(entries == Set("batch=base"), entries.toString)
    }
    val rebuilt = Sink.probeFingerprints(batch, dir).orderBy("doc_id")
      .collect().map(_.toString).toSeq
    assert(rebuilt == want)
  }

  test("fingerprint compaction: probes byte-identical, replay post-compaction admits exactly once") {
    import org.apache.spark.sql.functions._
    val docs = graft.util.Tables.documents(spark, TestSpark.sfDir)
      .select(col("doc_id"), col("text"))
    val standing = docs.filter(col("doc_id") % 10 >= 1 && col("doc_id") % 10 <= 7)
    val day1 = docs.filter(col("doc_id") % 10 === 8)
    val day2 = docs.filter(col("doc_id") % 10 === 9)
    val probe = docs.filter(col("doc_id") % 10 === 0) // never admitted
    val dir = Files.createTempDirectory("graft-fpc").toString + "/idx"
    Sink.writeFingerprints(standing, dir)
    Sink.appendFingerprints(day1, dir, "c1b0")
    Sink.appendFingerprints(day2, dir, "c1b1")
    def verdicts() = Sink.probeFingerprints(probe, dir)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1),
        Option(r.get(2)), Option(r.get(3)))).toSeq
    val before = verdicts()
    assert(before.nonEmpty)
    // premise: the batch partitions exist pre-compaction (the
    // small-files state being folded)
    assert(spark.read.parquet(s"$dir/shingles").select("batch")
      .distinct().count() == 3)
    Sink.compactFingerprints(spark, dir)
    // post-compaction layout: ONE base partition per table, nothing else
    for (t <- Seq("exact", "bands", "shingles")) {
      val batches = spark.read.parquet(s"$dir/$t")
        .select("batch").distinct().collect().map(_.getString(0)).toSet
      assert(batches == Set("base"), s"$t: $batches")
    }
    // the probe is byte-identical across the fold
    assert(verdicts() == before, "compaction changed probe verdicts")

    // a REPLAY of day2 after its partition was folded into the base,
    // through an admit that anti-joins the known ids: the own-partition
    // exclusion is now a no-op (the rows live in base), so the
    // known-ids anti-join is what keeps the admit exactly-once
    val tag = "c1b1"
    val v = Sink.probeFingerprints(day2, dir, Some(tag))
    val known = spark.read.parquet(s"$dir/exact")
      .filter(col("batch") =!= tag).select("doc_id")
    val fresh = day2
      .join(v.filter(col("verdict") === "fresh").select("doc_id"), "doc_id")
      .join(known, Seq("doc_id"), "left_anti")
    Sink.appendFingerprints(fresh, dir, tag)
    // every admitted doc's fingerprints exist EXACTLY once
    assert(spark.read.parquet(s"$dir/exact")
      .groupBy("doc_id").count().filter(col("count") > 1).count() == 0,
      "replay post-compaction duplicated index rows")
    val day2Ids = day2.select("doc_id").collect().map(_.getLong(0)).toSet
    val indexed = spark.read.parquet(s"$dir/exact")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(day2Ids.subsetOf(indexed), "replay dropped admitted docs")
  }

  test("legacy flat fingerprint index: scoped probe fails fast, rebuild migrates") {
    import org.apache.spark.sql.functions._
    val docs = graft.util.Tables.documents(spark, TestSpark.sfDir)
      .select(col("doc_id"), col("text"))
    val standing = docs.filter(col("doc_id") % 10 =!= 0)
    val batch = docs.filter(col("doc_id") % 10 === 0)
    val dir = Files.createTempDirectory("graft-fpl").toString + "/idx"
    // fabricate the pre-r11 layout: unpartitioned tables at each root
    val (exact, bands, postings) =
      graft.queries.TrainingOps.fingerprintTables(standing)
    exact.write.parquet(s"$dir/exact")
    bands.write.parquet(s"$dir/bands")
    postings.write.parquet(s"$dir/shingles")
    // a batch-scoped probe must name the problem, not throw an
    // unresolved-column analyzer error
    val e = intercept[RuntimeException] {
      Sink.probeFingerprints(batch, dir, Some("c1b0")).collect()
    }
    assert(e.getMessage.contains("legacy"), e.getMessage)
    // the rebuild sweeps the flat files along with stale partitions —
    // no mixed flat/partitioned layout survives
    Sink.writeFingerprints(standing, dir)
    for (t <- Seq("exact", "bands", "shingles")) {
      val root = new java.io.File(s"$dir/$t")
      assert(root.listFiles().map(_.getName).toSet == Set("batch=base"),
        root.listFiles().map(_.getName).mkString(","))
    }
    assert(Sink.probeFingerprints(batch, dir, Some("c1b0")).count() > 0)
  }

  test("q108 release tail: shard round-trip preserves layout order, zero cross-split leakage") {
    import org.apache.spark.sql.functions._
    // the materialized release (the relational prefix q108 oracles),
    // sharded with q87's deterministic md5 layout inside each split —
    // the webdataset-style artifact a training job actually reads
    val rel = graft.queries.AnalyticsOps
      .releaseCorpus(spark, TestSpark.sfDir).cache()
    assert(rel.count() > 0)
    // zero-leakage BY CONSTRUCTION (the releaseCorpus contract): no
    // content hash may span two splits — the gate's 50-word floor
    // guarantees shingles, so exact dups share a cluster and keep-best
    // left at most one of them
    assert(rel.groupBy("h").agg(countDistinct("split").as("ns"))
      .filter(col("ns") > 1).count() == 0,
      "exact-duplicate content leaked across splits")
    // and the eval holdout never ships
    assert(rel.filter(col("doc_id") % 50 === 0).count() == 0)

    val nShards = 4
    val layout = rel
      .withColumn("k", graft.functions.Hashing.md5Long(
        concat(lit("shard:"), col("doc_id").cast("string"))))
      .withColumn("shard", (col("k") % nShards).cast("long"))
      .withColumn("pos", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("split", "shard").orderBy(col("k").asc, col("doc_id").asc))
        .cast("long"))
      .select(col("doc_id"), col("split"), col("shard"), col("pos"))
    val dir = Files.createTempDirectory("graft-rel").toString
    for (sp <- Seq("train", "val", "test")) {
      Sink.writeShards(layout.filter(col("split") === sp).drop("split"),
        s"$dir/$sp", nShards)
      val want = layout.filter(col("split") === sp)
        .collect().map(r => (r.getLong(2), r.getLong(3), r.getLong(0)))
        .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
      for ((shard, docs) <- want) {
        val back = spark.read.parquet(s"$dir/$sp/shard=$shard")
          .select("doc_id").collect().map(_.getLong(0)).toSeq
        assert(back == docs, s"$sp shard $shard order mismatch")
      }
    }
    rel.unpersist()
  }

  test("probeNovelty + triageBatch against a standing index equal the session q121/q123, self-guarded") {
    import org.apache.spark.sql.functions.col
    val docs = graft.util.Tables.documents(spark, TestSpark.sfDir)
      .select(col("doc_id"), col("text"))
    val standing = docs.filter(col("doc_id") % 10 =!= 0)
    val batch = docs.filter(col("doc_id") % 10 === 0)
    val dir = Files.createTempDirectory("graft-triage").toString + "/idx"
    Sink.writeFingerprints(standing, dir)
    val novExp = SparkEntry.queries("q121_batch_novelty")(spark, TestSpark.sfDir)
      .collect().map(_.toString).toSeq
    val novGot = Sink.probeNovelty(batch, dir).orderBy("doc_id")
      .collect().map(_.toString).toSeq
    assert(novGot == novExp,
      "sink-tier novelty must equal the session q121 on the %10 split")
    val triExp = SparkEntry.queries("q123_batch_triage")(spark, TestSpark.sfDir)
      .collect().map(_.toString).toSeq
    val triGot = Sink.triageBatch(batch, dir)
      .orderBy("verdict", "band", "media")
      .collect().map(_.toString).toSeq
    assert(triGot == triExp,
      "sink-tier triage must equal the session q123 on the %10 split")
    // self-guard: an index that ALREADY CONTAINS the batch (admitted or
    // replayed) must not let batch docs read themselves as 'seen'
    val dirAll = Files.createTempDirectory("graft-triage-all").toString + "/idx"
    Sink.writeFingerprints(docs, dirAll)
    val novSelf = Sink.probeNovelty(batch, dirAll).orderBy("doc_id")
      .collect().map(_.toString).toSeq
    assert(novSelf == novExp,
      "novelty against a batch-inclusive index must ignore the batch's own postings")
  }

  test("probeMediaNearDup: near-identical payloads matched, self-guarded, replay-excludable") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-media").toString + "/idx"
    // two standing payloads well past the 125-byte skip-gram floor, far apart
    val base = "the quick brown fox jumps over the lazy dog again and again until done "
    val other = "entirely different standing content with its own byte profile here okay " +
      "more words to pass the one hundred twenty five byte floor easily today"
    Sink.writeFingerprints(
      Seq((1L, base * 2), (2L, other)).toDF("doc_id", "text"), dir)

    // batch: a 1-char edit of doc 1 (hamming <= 3 by the perceptual
    // property), a novel payload, and a too-short payload
    val nearCopy = "X" + (base * 2).substring(1)
    val novel = "completely novel words that resemble neither standing payload " +
      "and still clear the one hundred twenty five byte gram floor extra " +
      "for sure with room to spare"
    val batch = Seq((10L, nearCopy), (11L, novel), (12L, "short"))
      .toDF("doc_id", "text")
    def verdicts(ex: Option[String] = None) =
      Sink.probeMediaNearDup(batch, dir, 4, ex).collect()
        .map(r => r.getLong(0) ->
          (r.getString(1), Option(r.get(2)).map(_.asInstanceOf[Long]))).toMap
    val v = verdicts()
    assert(v(10L) == ("near", Some(1L)), v.toString)
    assert(v(11L) == ("fresh", None))
    assert(v(12L) == ("fresh", None), "below-floor payloads read fresh")

    // independently recompute the fingerprint distance the probe claims
    val d10 = graft.multimodal.Multimodal.hammingOf(
      graft.multimodal.Multimodal.fingerprintOf(nearCopy.getBytes("UTF-8")),
      graft.multimodal.Multimodal.fingerprintOf((base * 2).getBytes("UTF-8")))
    assert(d10 <= 4, s"fixture edit moved the fingerprint $d10 bits")

    // admit the batch, then: a replay probe EXCLUDING its own tag sees
    // the index as the first attempt did; an unscoped re-probe of the
    // same batch must not read docs as their own duplicates (self-guard)
    Sink.appendFingerprints(batch, dir, "m1")
    assert(verdicts(Some("m1")) == v, "replay-excluded probe diverged")
    val again = verdicts()
    assert(again(11L) == ("fresh", None), "self-match guard")
    // the append grew the probe's reach: a 1-char edit of the admitted
    // novel payload now reads near of it
    val edit = Sink.probeMediaNearDup(
      Seq((20L, "Y" + novel.substring(1))).toDF("doc_id", "text"), dir, 4)
      .collect().map(r => (r.getString(1), Option(r.get(2)))).head
    assert(edit == ("near", Some(11L)), edit.toString)
    // the registry TWIN: probeMediaNearDup against a standing index
    // built from the %10 split equals the session q127 (the
    // q95/q118/q121/q123 twin discipline)
    locally {
      import org.apache.spark.sql.functions.col
      val docs = graft.util.Tables.documents(spark, TestSpark.sfDir)
        .select(col("doc_id"), col("text"))
      val idx10 = Files.createTempDirectory("graft-media10").toString + "/idx"
      Sink.writeFingerprints(docs.filter(col("doc_id") % 10 =!= 0), idx10)
      val exp = SparkEntry.queries("q127_incremental_media")(
        spark, TestSpark.sfDir).collect().map(_.toString).toSeq
      val gotTwin = Sink.probeMediaNearDup(
        docs.filter(col("doc_id") % 10 === 0), idx10)
        .orderBy("doc_id").collect().map(_.toString).toSeq
      assert(gotTwin == exp,
        "sink-tier media probe must equal the session q127 on the %10 split")
    }

    // compaction folds the media tier too; the unscoped probe is
    // byte-identical before/after (the X91 discipline)
    Sink.compactFingerprints(spark, dir)
    assert(verdicts() == again, "probe changed across media compaction")
    val dirs = new java.io.File(s"$dir/media").listFiles.map(_.getName)
    assert(dirs.count(_.startsWith("batch=")) == 1 && dirs.contains("batch=base"))
  }

  test("a media table without `n_bytes` probes identically") {
    import org.apache.spark.sql.functions.col
    val docs = graft.util.Tables.documents(spark, "/root/testdata/sf0.01")
      .select(col("doc_id"), col("text"))
    val dir = Files.createTempDirectory("graft-media").toString + "/idx"
    Sink.writeFingerprints(docs.filter(col("doc_id") % 10 =!= 0), dir)
    assert(spark.read.parquet(s"$dir/media").columns.contains("n_bytes"),
      "r17 media schema must persist n_bytes")
    val batch = docs.filter(col("doc_id") % 10 === 0)
    def probe(idx: String) = Sink.probeMediaNearDup(batch, idx)
      .orderBy("doc_id").collect().map(_.toString).toSeq
    val current = probe(dir)
    assert(current.exists(_.contains("near")),
      "fixture must have media near-dups or the pin is vacuous")
    // a pre-r17 index: the same media rows without the n_bytes column
    val dir2 = Files.createTempDirectory("graft-media2").toString + "/idx"
    Sink.writeFingerprints(docs.filter(col("doc_id") % 10 =!= 0), dir2)
    val legacy = spark.read.parquet(s"$dir/media").drop("n_bytes")
    val rows = legacy.collect().toSeq
    val legacyDf = spark.createDataFrame(
      spark.sparkContext.parallelize(rows), legacy.schema)
    org.apache.hadoop.fs.FileSystem.getLocal(spark.sessionState.newHadoopConf())
      .delete(new org.apache.hadoop.fs.Path(s"$dir2/media"), true)
    legacyDf.write.parquet(s"$dir2/media/batch=base")
    assert(probe(dir2) == current,
      "a media table without n_bytes must probe value-identically")
  }

  test("takedown tombstones (X116): probes serve the post-delete truth, folds are physical, rebuild re-asserts") {
    import org.apache.spark.sql.functions._
    val docs = graft.util.Tables.documents(spark, TestSpark.sfDir)
      .select(col("doc_id"), col("text"))
    val standing = docs.filter(col("doc_id") % 10 =!= 0)
    val batch = docs.filter(col("doc_id") % 10 === 0)
    val del = standing.filter(col("doc_id") % 7 === 0).select("doc_id")
    val dir = Files.createTempDirectory("graft-takedown").toString + "/idx"
    val dirF = Files.createTempDirectory("graft-takedown-f").toString + "/idx"
    Sink.writeFingerprints(standing, dir)
    // the post-takedown truth: an index REBUILT on the filtered corpus —
    // every probe against the tombstoned index must be value-identical
    Sink.writeFingerprints(
      standing.join(del, Seq("doc_id"), "left_anti"), dirF)
    def frames(path: String): Seq[Seq[String]] = Seq(
      Sink.probeFingerprints(batch, path),
      Sink.probeNovelty(batch, path),
      Sink.probeMediaNearDup(batch, path),
      Sink.triageBatch(batch, path))
      .map(df => df.orderBy(df.columns.map(col): _*)
        .collect().map(_.toString).toSeq)
    val before = frames(dir)
    val want = frames(dirF)
    assert(before != want,
      "fixture must make the deletion set observable, or the test is vacuous")

    // a delete against a directory that is not an index is a sequencing
    // bug — fail fast, not a silent tombstone no one will ever fold
    val empty = Files.createTempDirectory("graft-noidx").toString + "/idx"
    intercept[RuntimeException](Sink.deleteFingerprints(del, empty, "t0"))

    Sink.deleteFingerprints(del, dir, "t0")
    assert(frames(dir) == want,
      "tombstoned index must probe exactly like the filtered rebuild")
    // replay-idempotent like every batch write (scoped Overwrite)
    Sink.deleteFingerprints(del, dir, "t0")
    assert(frames(dir) == want, "tombstone replay changed the served truth")
    // tombstones shadow EVERY partition, including batches appended
    // AFTER the delete — a taken-down doc cannot be resurrected by a
    // later (buggy or racing) append without a compaction in between
    Sink.appendFingerprints(
      standing.join(del, Seq("doc_id"), "left_semi"), dir, "zz")
    assert(frames(dir) == want, "append after delete resurrected tombstoned docs")

    // compaction folds physically: the row tables hold no tombstoned id
    // (including the post-delete `zz` rows), the tombstone table is
    // gone, and the served truth is unchanged
    Sink.compactFingerprints(spark, dir)
    val hconf = spark.sessionState.newHadoopConf()
    val delPath = new org.apache.hadoop.fs.Path(s"$dir/deleted")
    assert(!delPath.getFileSystem(hconf).exists(delPath),
      "compaction must clear the folded tombstones")
    val delIds = del.collect().map(_.getLong(0))
    for (t <- Seq("exact", "bands", "shingles", "media"))
      assert(spark.read.parquet(s"$dir/$t")
        .filter(col("doc_id").isin(delIds: _*)).count() == 0,
        s"$t still holds tombstoned rows after compaction")
    assert(frames(dir) == want, "compaction changed the served truth")

    // a full rebuild re-asserts CORPUS truth: standing tombstones are
    // cleared (loudly) — takedowns must reach the corpus before a rebuild
    Sink.deleteFingerprints(del, dir, "t1")
    Sink.writeFingerprints(standing, dir)
    assert(!delPath.getFileSystem(hconf).exists(delPath),
      "rebuild must clear standing tombstones")
    assert(frames(dir) == before, "rebuild must serve the corpus truth again")
  }

  test("takedownImpact: the production twin equals the oracle-green q133 on the %97 split; a landed batch is not re-billed") {
    import org.apache.spark.sql.functions._
    val d = TestSpark.sfDir
    val docs = graft.util.Tables.documents(spark, d)
      .select(col("doc_id"), col("text"))
    val fpDir = Files.createTempDirectory("graft-tdimp").toString + "/idx"
    val vecDir = Files.createTempDirectory("graft-tdimp-v").toString + "/idx"
    Sink.writeFingerprints(docs, fpDir)
    Sink.writeVectorIndex(graft.util.Tables.embeddings(spark, d), vecDir)
    val ids = docs.filter(col("doc_id") % 97 === 0).select("doc_id")
    val impact = Sink.takedownImpact(ids, fpDir, Some(vecDir))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // the pair-loss metrics must equal the oracle-green q133's summed
    // columns — the twin discipline: the artifact-priced counts and the
    // session-kernel counts are the same numbers
    val q133 = SparkEntry.queries("q133_takedown_report")(spark, d).collect()
    assert(impact("ids_given") == q133.map(_.getLong(1)).sum, "n_del")
    assert(impact("ids_indexed") == impact("ids_given"),
      "full-corpus index must hold every deleted doc")
    assert(impact("lex_pairs_lost") == q133.map(_.getLong(3)).sum, "lex")
    assert(impact("sem_pairs_lost") == q133.map(_.getLong(4)).sum, "sem")
    assert(impact("media_pairs_lost") == q133.map(_.getLong(5)).sum, "media")
    assert(impact("lex_pairs_lost") > 0 || impact("media_pairs_lost") > 0
      || impact("sem_pairs_lost") > 0,
      "fixture must lose at least one pair somewhere, or the pin is vacuous")
    // row-removal counts against a driver recomputation over the files
    val delSeq = ids.collect().map(_.getLong(0)).toSeq
    for ((t, m) <- Seq("exact" -> "exact_rows", "bands" -> "bands_rows",
        "shingles" -> "postings_rows", "media" -> "media_rows"))
      assert(impact(m) == spark.read.parquet(s"$fpDir/$t")
        .filter(col("doc_id").isin(delSeq: _*)).count(), t)
    // pricing the SAME batch after it landed reads zero everywhere —
    // tombstoned rows are excluded, a second batch is not re-billed
    Sink.deleteFingerprints(ids, fpDir, "t0")
    Sink.deleteVectors(ids.select(col("doc_id").as("vec_id")), vecDir, "t0")
    val again = Sink.takedownImpact(ids, fpDir, Some(vecDir))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(again("ids_indexed") == 0 && again("exact_rows") == 0
      && again("lex_pairs_lost") == 0 && again("media_pairs_lost") == 0
      && again("sem_pairs_lost") == 0, again.toString)
  }

  test("takedown tier hardening (r16): mid-fold batches survive the clear, file-less batch dirs tolerated, legacy-media impact degrades") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val docs = graft.util.Tables.documents(spark, TestSpark.sfDir)
      .select(col("doc_id"), col("text"))
    val dir = Files.createTempDirectory("graft-takedown-r16").toString + "/idx"
    Sink.writeFingerprints(docs, dir)
    val hconf = spark.sessionState.newHadoopConf()

    // a crash mid-tombstone-write used to leave a file-less batch dir
    // that wedged schema inference for EVERY index read; the staged
    // write keeps such residue out of the live table, and the
    // data-bearing-dirs listing tolerates one planted by hand
    val crashed = new org.apache.hadoop.fs.Path(s"$dir/deleted/batch=crashed")
    val fs = crashed.getFileSystem(hconf)
    fs.mkdirs(crashed)
    assert(Sink.tombstones(spark, dir, "doc_id").isEmpty,
      "a file-less batch dir is not a tombstone set")
    assert(Sink.probeFingerprints(docs.limit(5), dir).count() == 5,
      "probes must serve with a crashed tombstone write present")
    fs.delete(crashed, true)

    // the fold's SNAPSHOT discipline: a takedown batch landing between
    // the fold's table reads and its clear must SURVIVE the clear
    // (silent loss of a landed takedown is the wrong failure direction
    // for a deletion tier)
    Sink.deleteFingerprints(Seq(1L).toDF("doc_id"), dir, "t0")
    Sink.deleteFingerprints(Seq(2L).toDF("doc_id"), dir, "t1")
    val snap = Sink.tombstoneBatchDirs(spark, dir)
    assert(snap.size == 2)
    Sink.deleteFingerprints(Seq(3L).toDF("doc_id"), dir, "midfold")
    Sink.clearTombstones(spark, dir, "", only = Some(snap))
    val left = Sink.tombstones(spark, dir, "doc_id")
      .map(_.collect().map(_.getLong(0)).toSet).getOrElse(Set.empty[Long])
    assert(left == Set(3L),
      s"mid-fold batch must survive the snapshotted clear: $left")
    // and the surviving batch folds normally at the NEXT compaction
    Sink.compactFingerprints(spark, dir)
    assert(Sink.tombstones(spark, dir, "doc_id").isEmpty)
    assert(spark.read.parquet(s"$dir/exact")
      .filter(col("doc_id") === 3L).count() == 0,
      "the surviving batch must fold at the next compaction")

    // takedownImpact against a legacy pre-media index: the media
    // metrics are OMITTED (loud note, the triageOf degradation), not a
    // raw parquet path-not-found throw
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/media"), true)
    val impact = Sink.takedownImpact(Seq(5L).toDF("doc_id"), dir)
      .collect().map(_.getString(0)).toSet
    assert(!impact.contains("media_rows")
      && !impact.contains("media_pairs_lost"), impact.toString)
    assert(impact.contains("exact_rows") && impact.contains("lex_pairs_lost"))
  }
}
