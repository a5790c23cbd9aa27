package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark: one workload, one session, one client
  * thread. `run.py` generates the inputs, launches this main, and checks
  * the answers it writes; this side only drives the program and times it.
  *
  * Usage: Harness <workload> <seed> <seconds> <trace 0|1> <inputsDir>
  * <workDir> <resultJson>
  */
object Harness {

  /** Named values for the result file (numbers, strings, sequences, maps). */
  type Result = mutable.LinkedHashMap[String, Any]

  final case class Args(workload: String, seed: Long, seconds: Int,
      trace: Boolean, inputs: String, work: String, out: String)

  def main(a: Array[String]): Unit = {
    require(a.length == 7, "usage: Harness <workload> <seed> <seconds> " +
      "<trace 0|1> <inputsDir> <workDir> <resultJson>")
    val args = Args(a(0), a(1).toLong, a(2).toInt, a(3) == "1", a(4), a(5), a(6))
    val spark = session(args)
    val res: Result = mutable.LinkedHashMap.empty
    res("session_ready_ms") = ManagementFactory.getRuntimeMXBean.getUptime.toDouble
    val tr = if (args.trace) Some(new Trace(spark)) else None
    val w: Workload = args.workload match {
      case "contract_ingest" => new ContractIngest(spark, args, res, tr)
      case "registry_sweep" => new RegistrySweep(spark, args, res, tr)
      case other => sys.error(s"unknown workload: $other")
    }
    w.run()
    res("live_heap_mb") = liveHeapMb()
    tr.foreach(_.report(res))
    Files.writeString(Paths.get(args.out), Json.of(res))
    spark.stop()
  }

  /** Spark local mode at the host's cores (at most 4), the posture the
    * repository's own Bench main runs the engine in. */
  def session(args: Args): SparkSession = {
    val cores = math.min(4, Runtime.getRuntime.availableProcessors)
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${args.workload}")
      .config("spark.ui.enabled", "false")
      .config("spark.ui.showConsoleProgress", "false")
      // with the UI off, keep its status store from holding run-length
      // history, so live_heap_mb measures the program's own state
      .config("spark.ui.retainedJobs", "20")
      .config("spark.ui.retainedStages", "20")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.ui.retainedExecutions", "20")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.graft.cacheTables",
        (args.workload == "registry_sweep").toString)
      .config("spark.local.dir", s"${args.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${args.work}/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"${args.work}/hadoop")
      .getOrCreate()
  }

  /** Heap in use after a full collection, in MiB. Spark's ContextCleaner
    * frees broadcasts and shuffles of collected plans on its own thread
    * after a GC, so collect, give it a moment, and collect again. */
  def liveHeapMb(): Double = {
    for (_ <- 0 until 3) { System.gc(); Thread.sleep(300) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum

  /** Bytes of regular files under `p` (0 when absent). */
  def treeBytes(p: String): Long = files(p).map(Files.size).sum

  /** Parquet data files under `p`. */
  def parquetFiles(p: String): Int =
    files(p).count(_.getFileName.toString.endsWith(".parquet"))

  private def files(p: String): Seq[Path] = {
    val root = Paths.get(p)
    if (!Files.exists(root)) Seq.empty
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toList
      finally s.close()
    }
  }

  def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6
}


/** One measured operation: `items` is what the user waits on (the
  * contracts a batch delivers, or one query). A failed op (`ok` false)
  * counts as attempted but gives no latency sample and no items. */
final case class Op(kind: String, ms: Double, items: Int, ok: Boolean)

/** Shape shared by the workloads: a set-up repeated `setupRounds` times,
  * a fixed number of untimed warm-up rounds (`warmRounds`), then whole
  * rounds until `seconds` have passed or `maxRounds` rounds have run.
  * run.py counts all set-up and warm-up time in `setup_s`. Any exception
  * fails the op and is recorded; the run continues.
  */
abstract class Workload(val spark: SparkSession, val args: Harness.Args,
    val res: Harness.Result, val tr: Option[Trace]) {

  def setupRounds: Int = 3
  def setup(round: Int): Unit
  /** One round of ops; `timed` is false during warm-up. */
  def round(r: Int, timed: Boolean): Seq[Op]
  /** Writes what run.py checks; called once after the timed window. */
  def finish(): Unit
  def warmRounds: Int
  /** Rounds the workload has inputs for (warm-up included). */
  def maxRounds: Int = Int.MaxValue

  val rng = new scala.util.Random(args.seed)
  private val errors = mutable.ArrayBuffer.empty[String]
  var failed = 0

  /** Run `f` as one op; a failure is counted and yields None. */
  def attempt[A](what: String)(f: => A): Option[A] =
    try Some(f) catch {
      case e: Throwable =>
        failed += 1
        if (errors.size < 20) errors += s"$what: ${e.toString.take(400)}"
        None
    }

  /** Run `f` as one timed op of `items` items. */
  def op(kind: String, what: String, items: Int)(f: => Unit): Op = {
    val t0 = System.nanoTime()
    val ok = attempt(what)(f).isDefined
    Op(kind, Harness.ms(t0), items, ok)
  }

  final def run(): Unit = {
    val setupMs = (0 until setupRounds).map { i =>
      val t0 = System.nanoTime(); setup(i); Harness.ms(t0)
    }
    res("setup_state_ms") = setupMs
    require(warmRounds < maxRounds, s"inputs for $maxRounds rounds, $warmRounds warm-up")
    val warm = (0 until warmRounds).map { r =>
      val t0 = System.nanoTime(); round(r, timed = false); Harness.ms(t0)
    }
    var r = warmRounds
    res("warmup_round_ms") = warm
    res("warmup_failed") = failed
    failed = 0
    Thread.sleep(200) // let listener events of the warm-up land first
    tr.foreach(_.start())
    val ops = mutable.ArrayBuffer.empty[Op]
    val t0 = System.nanoTime()
    var rounds = 0
    while (Harness.ms(t0) < args.seconds * 1000.0 && r < maxRounds) {
      ops ++= round(r, timed = true); r += 1; rounds += 1
    }
    val elapsed = Harness.ms(t0)
    res("inputs_exhausted") = r == maxRounds
    Thread.sleep(200)
    tr.foreach(_.stop(ops.size))
    res("elapsed_ms") = elapsed
    res("rounds") = rounds
    res("ops") = ops.map(o => Seq(o.kind, o.ms, o.items, o.ok)).toSeq
    res("failed") = failed
    res("errors") = errors.toSeq
    finish()
  }
}

/** Counters registered from outside the program: a SparkListener for
  * jobs, tasks and shuffle bytes, named spans recorded around the calls
  * the benchmark makes into each layer, and GC time. Every per-layer
  * metric is reported by every traced run; a layer the workload never
  * calls reads 0.
  */
final class Trace(spark: SparkSession) {
  private val jobs, tasks, shuffleBytes = new AtomicLong
  private val groupTasks = new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]
  spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet()
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .foreach(g => groupTasks.computeIfAbsent(g, _ => new AtomicLong)
          .addAndGet(e.stageInfos.map(_.numTasks.toLong).sum))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      Option(e.taskMetrics).foreach { m =>
        shuffleBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten)
      }
    }
  })

  private val spans = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val values = mutable.LinkedHashMap.empty[String, (Double, String)]
  private var base = (0L, 0L, 0L, 0L)
  private var perOp = (0.0, 0.0, 0.0, 0.0)

  @volatile private var active = false

  /** Time `f` under span `name` (ms); recorded inside the timed window only. */
  def span[A](name: String)(f: => A): A = {
    val t0 = System.nanoTime()
    try f finally record(name, Harness.ms(t0))
  }
  def record(name: String, v: Double): Unit = if (active) synchronized {
    spans.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v
  }
  def samples(name: String): Seq[Double] =
    synchronized(spans.get(name).map(_.toSeq).getOrElse(Seq.empty))
  def set(name: String, v: Double, unit: String): Unit =
    synchronized(values(name) = (v, unit))
  def groupTaskCount(prefix: String): Long =
    groupTasks.asScala.collect { case (g, n) if g.startsWith(prefix) => n.get }.sum

  def start(): Unit = {
    base = (jobs.get, tasks.get, shuffleBytes.get, Harness.gcMs())
    active = true
  }
  def stop(nOps: Int): Unit = {
    active = false
    val n = math.max(1, nOps).toDouble
    perOp = ((jobs.get - base._1) / n, (tasks.get - base._2) / n,
      (shuffleBytes.get - base._3) / n, (Harness.gcMs() - base._4).toDouble)
  }

  def report(res: Harness.Result): Unit = {
    def med(s: Seq[Double]) =
      if (s.isEmpty) 0.0 else { val v = s.sorted; v(v.size / 2) }
    val out = mutable.LinkedHashMap.empty[String, Any]
    for (name <- Trace.SpanMetrics ++ RegistrySweep.Swept.map(q => s"query.${q}_ms"))
      out(name) = Seq(med(samples(name)), "ms")
    synchronized(for ((k, (v, u)) <- values) out(k) = Seq(v, u))
    for ((name, unit) <- Trace.ValueMetrics if !out.contains(name))
      out(name) = Seq(0.0, unit)
    out("spark.jobs_per_op") = Seq(perOp._1, "count")
    out("spark.tasks_per_op") = Seq(perOp._2, "count")
    out("spark.shuffle_bytes_per_op") = Seq(perOp._3, "bytes")
    out("jvm.gc_ms") = Seq(perOp._4, "ms")
    res("layers") = out
  }
}

object Trace {
  /** Metrics reported as the median of their span samples. */
  val SpanMetrics: Seq[String] = Seq(
    "ingest.scan_ms", "ingest.contracts_ms", "derive.functions_ms",
    "sink.upsert_contract_ms", "sink.upsert_function_ms",
    "lookup.plan_ms", "lookup.exec_ms", "lookup.by_id_ms",
    "lookup.functions_of_ms", "lookup.by_selector_ms", "lookup.export_ms")
  /** Metrics set as single values; 0 where the workload has no such layer. */
  val ValueMetrics: Seq[(String, String)] = Seq(
    "ingest.listing_tasks" -> "count",
    "solidity.extract_us_per_contract" -> "us",
    "keccak.selector_ns" -> "ns",
    "sink.upsert_fresh_ratio" -> "ratio",
    "sink.table_files" -> "count",
    "lookup.files_read" -> "count",
    "lookup.rows_scanned_per_row_returned" -> "ratio",
    "queries.reference_s" -> "s", "queries.training_s" -> "s",
    "queries.analytics_s" -> "s", "queries.audit_s" -> "s",
    "caches.kernel_builds" -> "count")
}

/** Minimal JSON writer for the result file. */
object Json {
  def of(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => of(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => of(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + of(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(of).mkString("[", ",", "]")
    case a: Array[_] => of(a.toSeq)
    case other => quote(other.toString)
  }
  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}
