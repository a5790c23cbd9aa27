package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions.col

import graft.contracts.{Derive, Export, Ingest, ScannerBackend, SourceFiles}
import graft.functions.Keccak
import graft.sink.Sink

/** Appends one JSON object per line: the answers run.py checks. */
final class Answers(path: String) {
  private val w = Files.newBufferedWriter(Paths.get(path))
  def add(fields: (String, Any)*): Unit = synchronized {
    w.write(Json.of(mutable.LinkedHashMap(fields: _*))); w.newLine()
  }
  def close(): Unit = w.close()
}

/** contract_ingest: each op delivers one corpus batch through
  * `pre-process` then `index-functions` — exactly the CLI's calls — onto
  * a DB that grows over the run, then reads the batch back the way a
  * client of the serving path would: by-id reads, functions of a
  * contract and `Export.exportFrom` for four of its contracts, and a
  * by-selector read on a hot and on a rare selector. An op ends when its
  * last read-back answer is in hand. */
final class ContractIngest(spark: SparkSession, args: Harness.Args,
    res: Harness.Result, tr: Option[Trace]) extends Workload(spark, args, res, tr) {

  private val db = s"${args.work}/db"
  private val batches = Files.list(Paths.get(args.inputs, "corpus")).iterator()
    .asScala.map(_.toString).toSeq.sorted
  private val keys = new com.fasterxml.jackson.databind.ObjectMapper()
    .readTree(Paths.get(args.inputs, "readback.json").toFile)
  private def strings(n: com.fasterxml.jackson.databind.JsonNode) =
    n.elements().asScala.map(_.asText).toIndexedSeq
  private val hot = strings(keys.get("hot"))
  private val log = new Answers(s"${args.work}/ingest_log.jsonl")
  private val answers = new Answers(s"${args.work}/answers.jsonl")
  private val lookups = new Lookups(spark, tr, answers)
  private var inputBytes = 0L

  override def setupRounds: Int = 1
  def setup(round: Int): Unit = Files.createDirectories(Paths.get(db))
  /** b000-b003: the first op of each code path, and b003 re-delivers b001,
    * so the timed window starts at b004 on every run and never meets a
    * re-delivery. */
  def warmRounds: Int = 4
  override def maxRounds: Int = batches.size

  def round(r: Int, timed: Boolean): Seq[Op] = {
    val dir = batches(r)
    val name = Paths.get(dir).getFileName.toString
    val offered = Files.list(Paths.get(dir)).count().toInt
    inputBytes += Harness.treeBytes(dir)
    val b = keys.get("batches").get(name)
    val ids = rng.shuffle(strings(b.get("ids"))).take(4)
    val rare = strings(b.get("rare"))
    val plan = rng.shuffle(
      ids.flatMap(id => Seq("by_id" -> id, "functions_of" -> id, "export" -> id)) ++
        Seq("by_selector" -> hot(rng.nextInt(hot.size)),
          "by_selector" -> rare(rng.nextInt(rare.size))))
    Seq(op("batch", s"ingest $dir", offered) {
      val (nc, nf) = if (timed && tr.isDefined) traced(dir, tr.get) else plain(dir)
      log.add("batch" -> name, "contracts" -> nc, "functions" -> nf)
      val c = spark.read.parquet(s"$db/contract")
      val f = spark.read.parquet(s"$db/function")
      for ((kind, key) <- plan)
        lookups.run(kind, key, r, s"${args.work}/exports", c, f, timed)
    })
  }

  private def plain(dir: String): (Long, Long) = {
    val nc = Sink.upsertAppend(Ingest.contracts(spark, dir), s"$db/contract", "id")
    val nf = Sink.upsertAppend(
      Derive.functions(spark.read.parquet(s"$db/contract")).toDF(),
      s"$db/function", "id")
    (nc, nf)
  }

  /** The same calls, split so each layer's share is timed on its own. */
  private def traced(dir: String, t: Trace): (Long, Long) = {
    spark.sparkContext.setJobGroup(s"scan:$dir", "listing")
    val scanMs = {
      val t0 = System.nanoTime()
      Ingest.scanTree(spark, dir).write.format("noop").mode("overwrite").save()
      Harness.ms(t0)
    }
    spark.sparkContext.clearJobGroup()
    t.record("ingest.scan_ms", scanMs)
    val t0 = System.nanoTime()
    val contracts = Ingest.contracts(spark, dir).persist()
    val offeredC = contracts.count()
    t.record("ingest.contracts_ms", Harness.ms(t0) - scanMs) // self time
    val nc = t.span("sink.upsert_contract_ms") {
      Sink.upsertAppend(contracts, s"$db/contract", "id")
    }
    val rows = contracts.select("files").collect()
    contracts.unpersist()
    val artifacts = rows.map(_.getSeq[Row](0).flatMap(f =>
      SourceFiles.expand(f.getString(0), f.getString(1))).filter(_._1.endsWith(".sol")))
    val t1 = System.nanoTime()
    val extracted = artifacts.map(ScannerBackend.extractAll)
    extractUs += Harness.ms(t1) * 1000.0 / math.max(1, artifacts.length)
    val sigs = extracted.flatMap(_.map(_._2.signature)).toSeq
    if (sigs.nonEmpty) {
      val t2 = System.nanoTime()
      for (_ <- 0 until 20; s <- sigs) Keccak.selector(s)
      keccakNs += (System.nanoTime() - t2).toDouble / (20 * sigs.size)
    }
    val fns = Derive.functions(spark.read.parquet(s"$db/contract")).toDF().persist()
    val offeredF = t.span("derive.functions_ms") { fns.count() }
    val nf = t.span("sink.upsert_function_ms") {
      Sink.upsertAppend(fns, s"$db/function", "id")
    }
    fns.unpersist()
    freshRows += nc + nf; offeredRows += offeredC + offeredF
    tableFiles += Harness.parquetFiles(db)
    (nc, nf)
  }
  private val extractUs, keccakNs = mutable.ArrayBuffer.empty[Double]
  private val tableFiles = mutable.ArrayBuffer.empty[Int]
  private var freshRows, offeredRows = 0L

  def finish(): Unit = {
    log.close()
    answers.close()
    dumpDb(s"${args.work}/db.json")
    res("output_bytes") = Harness.treeBytes(db)
    res("input_bytes") = inputBytes
    tr.foreach { t =>
      def mean(s: Seq[Double]) = if (s.isEmpty) 0.0 else s.sum / s.size
      t.set("ingest.listing_tasks",
        t.groupTaskCount("scan:").toDouble / math.max(1, tableFiles.size), "count")
      t.set("solidity.extract_us_per_contract", mean(extractUs.toSeq), "us")
      t.set("keccak.selector_ns", mean(keccakNs.toSeq), "ns")
      t.set("sink.upsert_fresh_ratio",
        freshRows.toDouble / math.max(1L, offeredRows), "ratio")
      t.set("sink.table_files", mean(tableFiles.map(_.toDouble).toSeq), "count")
      lookups.report(t)
    }
  }

  /** The two tables without their source text, for the answers check. */
  private def dumpDb(out: String): Unit = {
    val a = new Answers(out)
    spark.read.parquet(s"$db/contract").select("id", "name", "source_type").collect()
      .foreach(r => a.add("t" -> "c", "id" -> r.getString(0), "name" -> r.getString(1),
        "source_type" -> r.getString(2)))
    spark.read.parquet(s"$db/function").select("id", "contract_id", "contract_name",
      "function_name", "filename", "signature", "selector").collect()
      .foreach(r => a.add("t" -> "f", "row" -> (0 until 7).map(r.getString)))
    a.close()
  }
}

/** Serving-path reads over the contract and function tables; each answer
  * is written for the check. Traced, each read is split into planning
  * (forcing the executed plan) and execution, and the parquet scans'
  * files and rows are counted. */
final class Lookups(spark: SparkSession, tr: Option[Trace], answers: Answers) {
  private var n, timedReads, rowsReturned, filesRead, rowsScanned = 0L

  def run(kind: String, key: String, op: Int, exportRoot: String,
      contracts: DataFrame, functions: DataFrame, timed: Boolean): Unit = {
    n += 1
    val t = if (timed) tr else None
    kind match {
      case "export" =>
        val dir = s"$exportRoot/$n"
        val written = t.fold(Export.exportFrom(contracts, key, dir))(
          _.span("lookup.export_ms")(Export.exportFrom(contracts, key, dir)))
        answers.add("op" -> op, "kind" -> kind, "key" -> key, "dir" -> dir,
          "n" -> written.size)
      case _ =>
        val df = kind match {
          case "by_id" =>
            contracts.filter(col("id") === key).select("id", "name", "source_type")
          case "functions_of" =>
            functions.filter(col("contract_id") === key)
              .select("filename", "signature", "selector")
          case "by_selector" => functions.filter(col("selector") === key).select("contract_id")
        }
        val rows = t match {
          case Some(tt) =>
            val rows = tt.span(s"lookup.${kind}_ms") {
              tt.span("lookup.plan_ms")(df.queryExecution.executedPlan)
              tt.span("lookup.exec_ms")(df.collect())
            }
            // the scan's SQL metrics, complete once collect has returned
            df.queryExecution.executedPlan.collect { case s: FileSourceScanExec => s }
              .foreach { s =>
                filesRead += s.metrics.get("numFiles").map(_.value).getOrElse(0L)
                rowsScanned += s.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
              }
            timedReads += 1
            rowsReturned += rows.length
            rows
          case None => df.collect()
        }
        answers.add("op" -> op, "kind" -> kind, "key" -> key,
          "rows" -> rows.map(r => (0 until r.size).map(r.getString)))
    }
  }

  def report(t: Trace): Unit = {
    t.set("lookup.files_read", filesRead.toDouble / math.max(1L, timedReads), "count")
    t.set("lookup.rows_scanned_per_row_returned",
      rowsScanned.toDouble / math.max(1L, rowsReturned), "ratio")
  }
}
