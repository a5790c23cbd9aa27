package graft

import org.apache.spark.sql.SparkSession

/** Registry timer: one JSON line with per-query and total seconds.
  *
  * Methodology: each query is fully materialized through the `noop` sink —
  * unlike `count()`, this cannot let Catalyst prune computed columns, so
  * the timing covers the whole operator (hash columns, UDFs, window
  * payloads). A warmup pass first runs every benched query once (JIT,
  * codegen compilation, parquet footer cache), then one timed pass
  * measures steady-state engine throughput — the same cache posture the
  * DuckDB baseline (`tools/pair.py`) enjoys from the OS page cache.
  */
object Bench {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // a non-numeric SPARK_GRAFT_CPUS (e.g. "*" for local[*]) must not
    // crash session build — fall back to the host's cores for the floor,
    // matching what local[*] actually schedules
    val coreFloor = cpus.toIntOption
      .getOrElse(Runtime.getRuntime.availableProcessors)
    // partition count scales with the DATA (cores is only the floor); see
    // graft.util.Tuning. Logged WITH its byte basis: a silent 0-byte
    // corpus read (non-local dir, typo'd path) would otherwise masquerade
    // as a deliberate cores-floor posture
    val shuffle = graft.util.Tuning.shufflePartitions(sfDir, coreFloor)
    System.err.println(s"[bench] shuffle.partitions=$shuffle derived from " +
      s"${graft.util.Tuning.corpusBytes(sfDir)} corpus bytes, cores=$coreFloor")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shuffle.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // BENCH-SCALE POSTURE — do not copy to a cluster; Verify and the
      // production code paths keep Spark's defaults. At bench scale every
      // AQE stage materialization + re-plan costs more than its decisions
      // save (round-5 A/B at sf0.1: AQE-off 21.0 s vs on 22.3 s), and
      // reduce stages coalesce by target size, not by keeping cores busy.
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      // hash joins beat sort-merge here (no sort phase, every build side
      // fits in memory); on a cluster a large build side OOMs where SMJ
      // spills
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // single-host, in-memory exchanges: no NIC or disk worth
      // compressing for, so LZ4 is pure CPU tax on tiny blocks
      .config("spark.shuffle.compress", "false")
      .config("spark.shuffle.spill.compress", "false")
      .config("spark.broadcast.compress", "false")
      .config("spark.sql.inMemoryColumnarStorage.compressed", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      // session table cache (see Tables.table): the suite reads the same
      // tables dozens of times; each pass boundary drops and re-warms it
      .config("spark.graft.cacheTables", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val benched = SparkEntry.registry.filter(_.bench)

    // Pass boundary: drop EVERYTHING, including the shared shingle index
    // (Caches.sharedIndex), so each pass re-pays the one corpus hash inside
    // its first family query's time; then re-warm raw table storage
    // OUTSIDE the timing — the DuckDB baseline's files sit hot in the OS
    // page cache, so each query measures compute over warm storage in both
    // engines.
    def passBoundary(): Unit = {
      spark.sqlContext.clearCache()
      for (t <- Seq("region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"))
        scala.util.Try(graft.util.Tables.table(spark, sfDir, t).count())
    }
    def runOnce(q: graft.queries.Q): Boolean =
      try {
        // pair-expansion queries take the data-derived count, narrow
        // composites the cores floor (equal at sf≤0.1; see Tuning)
        spark.conf.set("spark.sql.shuffle.partitions",
          graft.util.Tuning.queryPartitions(q.pairExpansion, sfDir, coreFloor))
        // drop the previous query's persisted intermediates so no plan
        // matches another query's cache; the shared index survives
        graft.util.Caches.clearTransient()
        q.fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        true
      } catch { case _: Throwable => false }

    passBoundary()
    benched.foreach(runOnce) // warmup (JIT, codegen cache, parquet footers)
    passBoundary()
    val results = benched.map { q =>
      val t0 = System.nanoTime()
      val ok = runOnce(q)
      q.name -> (if (ok) (System.nanoTime() - t0) / 1e9 else -1.0)
    }
    val total = results.map(_._2).filter(_ >= 0).sum
    // failures must be LOUD: a crashed query is excluded from the total,
    // so without this a broken build would bench "faster" than a working one
    val failed = results.collect { case (k, v) if v < 0 => k }
    failed.foreach(k => System.err.println(s"[bench] FAILED: $k"))

    // Bench's caller keeps only the LAST 2000 chars of stdout, so the line
    // keys queries by their unique qNN prefix, rounds them to 10 ms, and
    // lists at most the first 10 failures plus a count (BenchArtifactSpec
    // pins the worst case). Locale.ROOT: a comma-decimal default locale
    // would emit invalid JSON.
    def fmt(digits: Int)(v: Double) =
      String.format(java.util.Locale.ROOT, s"%.${digits}f", Double.box(v))
    def key(name: String) = "\"" + name.takeWhile(_ != '_') + "\""
    val qs = results.map { case (k, v) => key(k) + ":" + fmt(2)(v) }
      .mkString("{", ",", "}")
    val failedJson =
      if (failed.isEmpty) ""
      else failed.take(10).map(key)
        .mkString(s""","failed_n":${failed.size},"failed":[""", ",", "]")
    val out = s"""{"metric":"total","value":${fmt(3)(total)},"unit":"sec",""" +
      s""""queries":$qs$failedJson,"sf":"${new java.io.File(sfDir).getName}"}"""
    if (out.length > 2000)
      System.err.println(s"[bench] WARNING: JSON line ${out.length} chars exceeds the driver's 2000-char tail window")
    println(out)
    spark.stop()
  }
}
