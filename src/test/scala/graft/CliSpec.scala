package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The CLI command surface — each command's components are pinned in
  * their own specs (ContractPipelineSpec, SchemasSpec, SinkSpec); this
  * drives the command layer itself: argument dispatch, exit codes, and
  * the `release` command's on-disk artifact.
  */
class CliSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("release: shards + manifest land, membership matches the q108 kernel") {
    val out = java.nio.file.Files.createTempDirectory("graft-cli-rel").toString
    assert(Cli.run(spark, List("release", TestSpark.sfDir, out, "4")) == 0)
    val rel = graft.queries.AnalyticsOps.releaseCorpus(spark, TestSpark.sfDir)
      .select("doc_id", "split").collect()
      .groupBy(_.getString(1)).view.mapValues(_.map(_.getLong(0)).toSet).toMap
    for (sp <- Seq("train", "val", "test")) {
      val back = spark.read.parquet(s"$out/$sp")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(back == rel.getOrElse(sp, Set.empty), s"split $sp membership")
    }
    val manifest = spark.read.parquet(s"$out/manifest")
    assert(manifest.agg(sum("n_docs")).head.getLong(0)
      == rel.values.map(_.size).sum)
  }

  test("fingerprint + audit: index-riding reports equal the session-kernel runs") {
    val idx = java.nio.file.Files.createTempDirectory("graft-cli-fp").toString + "/idx"
    val out = java.nio.file.Files.createTempDirectory("graft-cli-audit").toString
    assert(Cli.run(spark, List("fingerprint", TestSpark.sfDir, idx)) == 0)
    assert(spark.conf.getOption("spark.graft.fpIndex").isEmpty)
    assert(Cli.run(spark, List("audit", TestSpark.sfDir, idx, out)) == 0)
    // the audit command must leave the seam unset (scoped to the run)
    assert(spark.conf.getOption("spark.graft.fpIndex").isEmpty)
    // each report's rows equal the session-kernel form of the same query
    for (q <- Seq("q110_neardup_split_leakage", "q111_contamination_pairs",
        "q96_source_overlap",
        "q115_semantic_contamination", "q117_decontam_decision",
        "q121_batch_novelty", "q124_index_stats")) {
      val fromCli = spark.read.parquet(s"$out/$q")
        .collect().map(_.toString).sorted.toSeq
      val direct = SparkEntry.queries(q)(spark, TestSpark.sfDir)
        .collect().map(_.toString).sorted.toSeq
      assert(fromCli == direct, q)
    }
    // r18: the production overlap page routes through the kmvPairs
    // dispatch front door; at the gate corpus's coarse provenance the
    // rule picks NL, so the page must equal the stage-pinned q132 face,
    // and the decision record lands in the audit output itself
    val ovCli = spark.read.parquet(s"$out/overlap_kmv")
      .orderBy("source_a", "source_b")
      .collect().map(_.toString).toSeq
    val ovDirect = SparkEntry.queries("q132_source_overlap_sketch")(
      spark, TestSpark.sfDir).collect().map(_.toString).toSeq
    assert(ovCli == ovDirect)
    val disp = spark.read.parquet(s"$out/overlap_kmv_dispatch").head
    assert(disp.getAs[String]("stage") == "nl")
    assert(disp.getAs[Long]("n_sources") > 0)
  }

  test("vecindex + vecstats: the artifact report runs off the built index") {
    val idx = java.nio.file.Files.createTempDirectory("graft-cli-vec").toString + "/idx"
    assert(Cli.run(spark, List("vecindex", TestSpark.sfDir, idx)) == 0)
    assert(Cli.run(spark, List("vecstats", idx)) == 0)
    // and the report frame itself is well-formed off this index
    val m = graft.sink.Sink.vectorIndexStats(spark, idx)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(m("retained_rows") > 0 && m("retained_cell_max") > 0)
  }

  test("takedown: lands a tombstone batch the probes honor") {
    import org.apache.spark.sql.functions.col
    val idx = java.nio.file.Files.createTempDirectory("graft-cli-td").toString + "/idx"
    assert(Cli.run(spark, List("fingerprint", TestSpark.sfDir, idx)) == 0)
    val ids = java.nio.file.Files.createTempDirectory("graft-cli-ids").toString + "/ids"
    val docs = graft.util.Tables.documents(spark, TestSpark.sfDir)
    docs.filter(col("doc_id") % 7 === 0).select("doc_id").write.parquet(ids)
    assert(Cli.run(spark, List("takedown", idx, ids, "t0")) == 0)
    // the standing side no longer serves the tombstoned docs: a probe of
    // exactly those docs cannot read any of them as its own partner, and
    // none of them appear as dup_of partners anywhere
    val probe = graft.sink.Sink.probeFingerprints(
      docs.filter(col("doc_id") % 10 === 0).select("doc_id", "text"), idx)
    val partners = probe.collect().flatMap(r => Option(r.get(2)))
      .map(_.asInstanceOf[Long]).toSet
    assert(partners.forall(_ % 7 != 0),
      "a tombstoned doc surfaced as a dedup partner")
    // the vec flag routes to the vector index's id domain
    val vidx = java.nio.file.Files.createTempDirectory("graft-cli-tdv").toString + "/idx"
    assert(Cli.run(spark, List("vecindex", TestSpark.sfDir, vidx)) == 0)
    val vids = java.nio.file.Files.createTempDirectory("graft-cli-vids").toString + "/ids"
    graft.util.Tables.embeddings(spark, TestSpark.sfDir)
      .filter(col("vec_id") % 7 === 0).select("vec_id").write.parquet(vids)
    assert(Cli.run(spark, List("takedown", vidx, vids, "t0", "vec")) == 0)
    assert(spark.read.parquet(s"$vidx/deleted").count() > 0)

    // `impact` (r16): the pre-takedown pricing page runs off the same
    // index + id parquet the takedown consumes — with and without the
    // optional vector index (the fp index above already carries t0
    // tombstones, so the run also exercises the no-re-bill path)
    assert(Cli.run(spark, List("impact", idx, ids)) == 0)
    assert(Cli.run(spark, List("impact", idx, ids, vidx)) == 0)
  }

  test("takedownall + shard-tier impact: one command reaches every artifact") {
    import org.apache.spark.sql.functions.col
    val base = java.nio.file.Files.createTempDirectory("graft-cli-tda").toString
    val idx = s"$base/fp"; val vidx = s"$base/vec"; val art = s"$base/art"
    assert(Cli.run(spark, List("fingerprint", TestSpark.sfDir, idx)) == 0)
    assert(Cli.run(spark, List("vecindex", TestSpark.sfDir, vidx)) == 0)
    val layout = SparkEntry.queries("q87_shard_layout")(spark, TestSpark.sfDir)
    graft.sink.Sink.writeShards(layout, art, 8)
    val ids = s"$base/ids"
    graft.util.Tables.documents(spark, TestSpark.sfDir)
      .filter(col("doc_id") % 11 === 0).select("doc_id").write.parquet(ids)
    // price every tier on one page first (read-only), then land it all
    assert(Cli.run(spark, List("impact", idx, ids, s"vec=$vidx",
      s"shards=$art")) == 0)
    assert(Cli.run(spark, List("takedownall", ids, "tall",
      s"fp=$idx", s"vec=$vidx", s"shards=$art")) == 0)
    assert(spark.read.parquet(s"$idx/deleted/batch=tall").count() > 0)
    assert(spark.read.parquet(s"$vidx/deleted/batch=tall").count() > 0)
    assert(spark.read.parquet(art).filter(col("doc_id") % 11 === 0).count() == 0)
    // replay converges (exit 0, still clean)
    assert(Cli.run(spark, List("takedownall", ids, "tall",
      s"fp=$idx", s"vec=$vidx", s"shards=$art")) == 0)
    assert(spark.read.parquet(art).filter(col("doc_id") % 11 === 0).count() == 0)
  }

  test("manifestcheck: OK on a fresh release and after a takedown; drift and legacy fail loudly") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files
      .createTempDirectory("graft-cli-mc").toString + "/s"
    val layout = SparkEntry.queries("q87_shard_layout")(spark, TestSpark.sfDir)
    graft.sink.Sink.writeShards(layout, dir, 8)
    assert(Cli.run(spark, List("manifestcheck", dir)) == 0)
    // still OK after a takedown (the sidecar moved in lockstep)
    val ids = java.nio.file.Files
      .createTempDirectory("graft-cli-mcids").toString + "/ids"
    graft.util.Tables.documents(spark, TestSpark.sfDir)
      .filter(col("doc_id") % 13 === 0).select("doc_id").write.parquet(ids)
    assert(Cli.run(spark, List("shardtakedown", dir, ids)) == 0)
    assert(Cli.run(spark, List("manifestcheck", dir)) == 0)
    // drift: clobber one sidecar partition with another shard's row
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/_manifest/shard=1"), true)
    assert(fs.rename(
      new org.apache.hadoop.fs.Path(s"$dir/_manifest/shard=2"),
      new org.apache.hadoop.fs.Path(s"$dir/_manifest/shard=1")))
    assert(Cli.run(spark, List("manifestcheck", dir)) == 1)
    // legacy: no sidecar at all
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/_manifest"), true)
    assert(Cli.run(spark, List("manifestcheck", dir)) == 1)
  }

  test("contract verbs: pre-process, index-functions, export-source, validate") {
    import java.nio.file.{Files, Path}
    import scala.jdk.CollectionConverters._
    def write(p: Path, content: String): Unit = {
      Files.createDirectories(p.getParent)
      Files.writeString(p, content)
    }
    val root = Files.createTempDirectory("graft-cli-contracts")
    // a fiesta metadata folder: single-source ERC-20-style contract
    write(root.resolve("Token_0/metadata.json"),
      """{"ContractName": "Token", "CompilerVersion": "0.8.19", """ +
        """"Runs": 200, "OptimizationUsed": true, "BytecodeHash": "0x01"}""")
    write(root.resolve("Token_0/main.sol"),
      """pragma solidity ^0.8.0;
        |contract Token {
        |    mapping(address => uint256) public balanceOf;
        |    function transfer(address to, uint256 amount) public returns (bool) {
        |        balanceOf[msg.sender] -= amount;
        |        balanceOf[to] += amount;
        |        return true;
        |    }
        |}
        |""".stripMargin)
    // an Etherscan dump whose name starts with its folder's name
    val vault = "pragma solidity ^0.8.0;\\ncontract Vault {\\n" +
      "    function deposit(uint256 amount) external {}\\n}\\n"
    write(root.resolve("0xab12/0xab12_Vault.json"),
      s"""{"SourceCode": "$vault", "ABI": "[]", "ContractName": "Vault", """ +
        """"CompilerVersion": "0.8.19", "OptimizationUsed": "1", """ +
        """"Runs": "200", "BytecodeHash": "0x02"}""")
    val db = Files.createTempDirectory("graft-cli-db").toString
    def counts() = (spark.read.parquet(s"$db/contract").count(),
      spark.read.parquet(s"$db/function").count())
    // by id: the context holds persisted RDDs weakly, so a GC may drop
    // unrelated leftovers from other tests while the verbs run
    val persistedBefore = spark.sparkContext.getPersistentRDDs.keySet

    assert(Cli.run(spark, List("pre-process", root.toString, db)) == 0)
    assert(Cli.run(spark, List("index-functions", db)) == 0)
    val contracts = spark.read.parquet(s"$db/contract")
    assert(contracts.count() == 2)
    assert(spark.read.parquet(s"$db/function")
      .filter(col("selector") === "0xa9059cbb").count() == 1)
    // re-running both verbs over the same tree appends nothing
    val first = counts()
    assert(Cli.run(spark, List("pre-process", root.toString, db)) == 0)
    assert(Cli.run(spark, List("index-functions", db)) == 0)
    assert(counts() == first)
    // a folder added to the same tree is picked up by the next run in
    // this session (no cached listing of the earlier scans serves it)
    write(root.resolve("Pool_2/metadata.json"),
      """{"ContractName": "Pool", "CompilerVersion": "0.8.19", """ +
        """"Runs": 200, "OptimizationUsed": true, "BytecodeHash": "0x03"}""")
    write(root.resolve("Pool_2/main.sol"),
      """pragma solidity ^0.8.0;
        |contract Pool {
        |    function swap(uint256 amountIn) external returns (uint256) {
        |        return amountIn;
        |    }
        |}
        |""".stripMargin)
    // each write verb reports the table's data files and bytes after it
    def reported(verb: String, args: List[String], table: String): Unit = {
      val out = new java.io.ByteArrayOutputStream
      assert(Console.withOut(out)(Cli.run(spark, verb :: args)) == 0)
      val files = new java.io.File(s"$db/$table").listFiles()
        .filter(_.getName.startsWith("part-"))
      val kb = (files.map(_.length).sum + 1023) / 1024
      assert(out.toString.contains(
        s"[graft] $verb: 1 new $table rows -> $db/$table (${files.length} files, $kb KB)"),
        out.toString)
    }
    reported("pre-process", List(root.toString, db), "contract")
    reported("index-functions", List(db), "function")
    assert(counts()._1 == 3)
    assert(spark.read.parquet(s"$db/function")
      .filter(col("function_name") === "swap").count() == 1)
    // the verbs leave nothing persisted behind them
    assert((spark.sparkContext.getPersistentRDDs.keySet -- persistedBefore).isEmpty)

    // read again: the frame read before the third run lists files that
    // the run's fold has since replaced
    val id = spark.read.parquet(s"$db/contract")
      .filter(col("name") === "Token").select("id").head.getString(0)
    val out = Files.createTempDirectory("graft-cli-export")
    assert(Cli.run(spark, List("export-source", db, id, out.toString)) == 0)
    assert(Files.readString(out.resolve("main.sol")).contains("function transfer"))
    assert(Cli.run(spark, List("export-source", db, "no-such-id", out.toString)) == 1)
    assert(Cli.run(spark, List("validate", db)) == 0)

    // a fold stopped after its merged copy moved in, before the folded
    // file was deleted: the table reads its rows twice until validate
    // settles it
    val table = Path.of(db, "contract")
    val folded = Files.list(table).iterator().asScala.map(_.getFileName.toString)
      .filter(_.startsWith("part-")).toSeq
    Files.createDirectories(table.resolve("_fold"))
    Files.writeString(table.resolve("_fold/_FOLDED"), folded.map(_ + "\n").mkString)
    for (f <- folded) Files.copy(table.resolve(f), table.resolve("part-merged-" + f))
    assert(counts()._1 == 6)
    assert(Cli.run(spark, List("validate", db)) == 0)
    assert(counts()._1 == 3)
    assert(!Files.exists(table.resolve("_fold")))
  }

  test("unknown command exits 2") {
    assert(Cli.run(spark, List("frobnicate")) == 2)
  }
}
