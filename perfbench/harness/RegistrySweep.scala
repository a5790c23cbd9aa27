package graft.perfbench

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.queries.{AnalyticsOps, AuditOps, ReferenceOps, TrainingOps}
import graft.util.{Caches, Tables}

/** registry_sweep: oracle-backed registry queries (`Swept`) at sf0.01,
  * each result written as parquet. A round is
  * one pass over all of them in a seeded order. The session is a
  * standing analytics session: set-up materializes the table cache once
  * and runs three passes (their sum, the cold first pass included, is in
  * `setup_s`), so shared kernels built in set-up serve the timed passes;
  * a kernel a timed pass has to rebuild shows in `caches.kernel_builds`.
  */
final class RegistrySweep(spark: SparkSession, args: Harness.Args,
    res: Harness.Result, tr: Option[Trace]) extends Workload(spark, args, res, tr) {

  private val dir = s"${args.inputs}/tables"
  private val modules = Seq(
    "reference" -> ReferenceOps.all, "training" -> TrainingOps.all,
    "analytics" -> AnalyticsOps.all, "audit" -> AuditOps.all)
  private val moduleOf = (for ((m, qs) <- modules; q <- qs) yield q.name -> m).toMap
  private val queries = SparkEntry.queries
  private val answers = new Answers(s"${args.work}/answers.jsonl")
  private var passes = 0
  private var kernelBuilds = 0L

  def warmRounds: Int = 0 // the three set-up passes are the warm-up

  def setup(round: Int): Unit = {
    if (round == 0)
      for (t <- RegistrySweep.TableNames) Tables.table(spark, dir, t).count()
    pass(s"s$round", RegistrySweep.Swept, timed = false)
  }

  def round(r: Int, timed: Boolean): Seq[Op] =
    pass(s"r$r", rng.shuffle(RegistrySweep.Swept), timed)

  private def pass(tag: String, names: Seq[String], timed: Boolean): Seq[Op] = {
    val ops = names.map { name =>
      Caches.clearTransient()
      Caches.setConsumer(Some(s"$tag:$name"))
      val out = s"${args.work}/results/$tag/$name"
      val o = op(name, name, 1) {
        queries(name)(spark, dir).write.mode("overwrite").parquet(out)
      }
      Caches.setConsumer(None)
      if (timed && o.ok) {
        answers.add("query" -> name, "dir" -> out)
        tr.foreach { t =>
          t.record(s"query.${name}_ms", o.ms)
          t.record(s"queries.${moduleOf(name)}", o.ms)
        }
      }
      o
    }
    if (timed) {
      passes += 1
      kernelBuilds += Caches.kernelBuilds(spark).values.count(_.startsWith(s"$tag:"))
    }
    ops
  }

  def finish(): Unit = {
    answers.close()
    res("oracle_sql") = RegistrySweep.Swept.map(n => n -> SparkEntry.oracleSql(n)).toMap
    res("output_bytes_per_pass") = Harness.treeBytes(s"${args.work}/results/s0")
    res("input_bytes") = Harness.treeBytes(dir)
    tr.foreach { t =>
      val p = math.max(1, passes).toDouble
      for ((m, _) <- modules)
        t.set(s"queries.${m}_s", t.samples(s"queries.$m").sum / 1000.0 / p, "s")
      t.set("caches.kernel_builds", kernelBuilds / p, "count")
    }
  }
}

object RegistrySweep {
  val TableNames: Seq[String] = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")
  /** Heavy oracle-backed queries of every module whose warm sf0.01
    * latencies lie close together (0.5-0.9 s at local[4]), so a run's
    * percentiles pool samples of all five instead of resting on the few
    * samples of one outlying query. */
  val Swept: Seq[String] = Seq(
    "q10_agg_pricing", "q92_quality_buckets", "q90_semantic_dedup",
    "q101_curation_funnel", "q97_dsir_weights")
}
