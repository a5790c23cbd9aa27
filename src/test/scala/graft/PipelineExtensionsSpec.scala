package graft

import java.security.MessageDigest

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

/** Behavior checks for the round-7 pipeline extensions (q65 decontamination,
  * q66 sequence packing, q67 domain-mixture sampling, q68 cube): each query
  * is recomputed independently on the driver from the raw sf0.001 parquet
  * (plain Scala, no Spark operators), so a regression in the distributed
  * formulation — prefix-sum offsets, hash-threshold coin, grouping-set
  * marginals — fails against ground truth, not against itself.
  */
class PipelineExtensionsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("q40 gaps-and-islands form equals the built-in session_window aggregation") {
    // the r11 rewrite's contract: batch picks the cheaper equivalent
    // plan (one user_id exchange) over the built-in a streaming session
    // aggregation would need — equivalence pinned here on the real
    // events table
    import org.apache.spark.sql.functions._
    val builtin = graft.util.Tables.events(spark, TestSpark.sfDir)
      .groupBy(session_window(col("ts"), "30 minutes").as("sw"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        graft.functions.Hashing.decSum(col("value")).as("sum_value"))
      .select(col("user_id"), col("sw.start").as("sess_start"),
        col("n_events"), col("sum_value"))
      .orderBy("user_id", "sess_start")
      .collect().map(_.toString).toSeq
    val islands = run("q40_session_window").map(_.toString).toSeq
    assert(islands == builtin)
    assert(islands.nonEmpty)
  }

  /** Full in-cell pairs (plain self-join — block salting only
    * partitions the join; the retained-region groups are reconstructed
    * from pmod(vec_id, 4) directly), the kernel's exact pre-limit input
    * shape (label, blk, pb, ida, idb, cos).
    */
  private def rawCellPairs = {
    import org.apache.spark.sql.functions._
    val B = 4
    val emb = spark.read.parquet(s"${TestSpark.sfDir}/embeddings.parquet")
      .select(col("vec_id"), col("label"),
        transform(col("embedding"),
          x => floor(x.cast("double") * 1048576.0).cast("long")).as("qv"))
    val withN = emb.withColumn("n2",
      aggregate(zip_with(col("qv"), col("qv"), (a, b) => a * b),
        lit(0L), (acc, x) => acc + x))
    withN.as("a").join(withN.as("b"),
        col("a.label") === col("b.label")
          && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.label").as("label"),
        pmod(col("a.vec_id"), lit(B)).as("blk"),
        // the kernel's pb is INT (sequence() element); match the typed
        // pre-limit's encoder
        pmod(col("b.vec_id"), lit(B)).cast("int").as("pb"),
        col("a.vec_id").as("ida"), col("b.vec_id").as("idb"),
        (aggregate(zip_with(col("a.qv"), col("b.qv"), (x, y) => x * y),
          lit(0L), (acc, x) => acc + x).cast("double")
          / (sqrt(col("a.n2").cast("double")) * sqrt(col("b.n2").cast("double"))))
          .as("cos"))
  }

  test("fused pre-limit degrades to a bounded superset when groups fragment") {
    // the documented AQE-skew caveat, measured: feed the pre-limit a
    // frame whose (label, blk, pb) groups straddle partitions — the
    // counters restart per fragment, ranks undercount, and the output
    // must contain the co-partitioned result (no retained row is ever
    // LOST to fragmentation) while every consumer contract still holds
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val pairs = rawCellPairs.cache()
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val co = ids(graft.queries.TrainingOps.cellPairPreLimit(spark,
      pairs.repartition(col("label"), col("blk"), col("pb"))))
    val frag = ids(graft.queries.TrainingOps.cellPairPreLimit(spark,
      pairs.repartition(13)))
    assert(co.subsetOf(frag), s"fragmentation LOST rows: ${(co -- frag).take(5)}")
    // consumer contract 1: the threshold region (q33/q90) is exactly
    // present either way
    val thr = ids(pairs.filter(col("cos") >= 0.35).select("ida", "idb"))
    assert(thr.subsetOf(co) && thr.subsetOf(frag))
    // consumer contract 2: every vector's GLOBAL top-3 partners under
    // (cos DESC, partner ASC) — what q85 ranks — survive in both
    val ga = Window.partitionBy("ida").orderBy(col("cos").desc, col("idb").asc)
    val gb = Window.partitionBy("idb").orderBy(col("cos").desc, col("ida").asc)
    val top = ids(pairs
      .withColumn("ra", row_number().over(ga))
      .withColumn("rb", row_number().over(gb))
      .filter(col("ra") <= 3 || col("rb") <= 3).select("ida", "idb"))
    assert(top.subsetOf(co), s"global top-K outside co-partitioned: ${(top -- co).take(5)}")
    assert(top.subsetOf(frag))
    pairs.unpersist()
  }

  test("fused cellPairCos pre-limit is bit-identical to the twin-window form") {
    // the r11 fusion's correctness argument: one sort by (group,
    // cos DESC, idb, ida) yields BOTH window orders — per-ida
    // subsequences are (cos DESC, idb), per-idb subsequences are
    // (cos DESC, ida) because idb is constant within its own group — so
    // running counters reproduce the two former row_number ranks
    // EXACTLY, tie-breaks included. This pins that argument against the
    // r10 twin-window implementation, reconstructed verbatim from the
    // kernel's own unpruned pair enumeration.
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    spark.sqlContext.clearCache()
    val fused = graft.queries.TrainingOps
      .cellPairCosBuild(spark, TestSpark.sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    val pairs = rawCellPairs
    val wa = Window.partitionBy("label", "blk", "pb", "ida")
      .orderBy(col("cos").desc, col("idb").asc)
    val wb = Window.partitionBy("label", "blk", "pb", "idb")
      .orderBy(col("cos").desc, col("ida").asc)
    val twin = pairs
      .withColumn("ra", row_number().over(wa))
      .withColumn("rb", row_number().over(wb))
      .filter(col("cos") >= 0.35 || col("ra") <= 3 || col("rb") <= 3)
      .select("ida", "idb")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    assert(fused == twin,
      s"fused-only: ${(fused -- twin).take(5)}  twin-only: ${(twin -- fused).take(5)}")
    assert(fused.nonEmpty)
  }

  private def run(name: String): Array[Row] =
    SparkEntry.queries(name)(spark, TestSpark.sfDir).collect()

  /** (doc_id, source, token count) for every non-null-text document, in
    * doc_id order — the same tokenization the queries use (trim + split
    * on runs of whitespace; a trimmed string yields no empty trailing
    * tokens, so Java's split matches Spark's limit=-1 semantics here).
    */
  private lazy val docs: Seq[(Long, String, Long)] = {
    val rows = spark.read.parquet(s"${TestSpark.sfDir}/documents.parquet")
      .select("doc_id", "source", "text").collect()
    rows.filter(!_.isNullAt(2))
      .map(r => (r.getLong(0), r.getString(1),
        r.getString(2).trim.split("\\s+").length.toLong))
      .sortBy(_._1).toSeq
  }

  test("q65 decontamination: eval docs never appear; every hit count positive") {
    val rows = run("q65_decontaminate")
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(0) % 50 != 0, s"eval doc ${r.getLong(0)} in train output")
      assert(r.getLong(1) >= 1L)
    }
  }

  test("q66 sequence packing matches a driver-side fold over the global doc order") {
    val budget = 256L
    // ground truth: single sequential pass, running token total
    var cum = 0L
    val expected = docs.map { case (id, _, n) =>
      val seq = cum / budget
      cum += n
      (seq, id, n)
    }.groupBy(_._1).map { case (seq, g) =>
      (seq, g.size.toLong, g.map(_._3).sum, g.map(_._2).min, g.map(_._2).max)
    }.toSet
    val got = run("q66_sequence_pack")
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    assert(got == expected)
  }

  test("q67 domain mix matches a driver-side md5 coin recomputation") {
    val md = MessageDigest.getInstance("MD5")
    def coin(docId: Long, source: String): Long = {
      val hex = md.digest(s"$docId:$source".getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString
      java.lang.Long.parseLong(hex.substring(0, 15), 16) % 1000
    }
    def permille(source: String): Int = 100 + 180 * (source.substring(3).toInt % 5)
    val expected = docs.groupBy(_._2).map { case (src, g) =>
      val kept = g.count { case (id, s, _) => coin(id, s) < permille(s) }.toLong
      (src, permille(src), g.size.toLong, kept,
        kept.toDouble / g.size)
    }.toSet
    // q67 reads ALL documents (no text filter) — sf0.001 has no null texts,
    // guard that assumption so a corpus change surfaces loudly
    val total = spark.read.parquet(s"${TestSpark.sfDir}/documents.parquet").count()
    assert(total == docs.size, "null-text docs present; recomputation must not filter them")
    val got = run("q67_domain_mix")
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
      .toSet
    assert(got == expected)
  }

  test("q104 language temperature matches a driver-side sqrt-rate recomputation") {
    val md = MessageDigest.getInstance("MD5")
    def coin(docId: Long): Long = {
      val hex = md.digest(s"$docId:lt".getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString
      java.lang.Long.parseLong(hex.substring(0, 15), 16) % 1048576
    }
    val rows = spark.read.parquet(s"${TestSpark.sfDir}/documents.parquet")
      .select("doc_id", "lang", "text").collect()
      .filter(r => !r.isNullAt(2))
      .map(r => (r.getLong(0), r.getString(1),
        r.getString(2).trim.split("[ \\t\\n\\u000B\\f\\r]+").length.toLong))
    val mass = rows.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap
    val minMass = mass.values.min
    val expected = rows.groupBy(_._2).map { case (lang, g) =>
      val rate = math.sqrt(minMass.toDouble / mass(lang))
      val thr = math.floor(rate * 1048576.0).toLong
      val kept = g.filter(t => coin(t._1) < thr)
      (lang, g.size.toLong, mass(lang), rate,
        kept.size.toLong, kept.map(_._3).sum)
    }.toSet
    val got = run("q104_language_temperature")
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getLong(4), r.getLong(5))).toSet
    assert(got == expected)
    // the smallest language must survive whole (rate 1.0, nothing dropped)
    val smallest = expected.find(_._3 == minMass).get
    assert(smallest._4 == 1.0 && smallest._5 == smallest._2)
  }

  test("q69 vocab top-k matches a driver-side count with the same tie-break") {
    val counts = scala.collection.mutable.HashMap.empty[String, Long]
    val texts = spark.read.parquet(s"${TestSpark.sfDir}/documents.parquet")
      .select("text").collect()
    texts.filter(!_.isNullAt(0)).foreach { r =>
      r.getString(0).trim.split("\\s+").foreach(w =>
        counts.update(w, counts.getOrElse(w, 0L) + 1L))
    }
    val expected = counts.toSeq.sortBy { case (w, n) => (-n, w) }.take(100)
    val got = run("q69_vocab_topk").map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == expected)
  }

  test("q70 normalized dedup matches a driver-side normalization") {
    val md = MessageDigest.getInstance("MD5")
    def normHash(text: String): String = {
      val norm = text.toLowerCase
        .replaceAll("[^a-z0-9\\s]", "").replaceAll("\\s+", " ").trim
      md.digest(norm.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    }
    val expected = spark.read.parquet(s"${TestSpark.sfDir}/documents.parquet")
      .select("doc_id", "text").collect()
      .filter(!_.isNullAt(1))
      .map(r => (r.getLong(0), normHash(r.getString(1))))
      .groupBy(_._2).map { case (h, g) =>
        (h, g.length.toLong, g.map(_._1).min)
      }.toSet
    val got = run("q70_normalized_dedup")
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == expected)
  }

  test("q71 per-group sample matches a driver-side md5-ordered pick") {
    val md = MessageDigest.getInstance("MD5")
    def hexOf(id: Long): String =
      md.digest(id.toString.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    val rows = spark.read.parquet(s"${TestSpark.sfDir}/documents.parquet")
      .select("doc_id", "lang").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val expected = rows.groupBy(_._2).toSeq.flatMap { case (lang, g) =>
      g.toSeq.map { case (id, _) => (hexOf(id), id) }.sorted.take(5)
        .zipWithIndex.map { case ((_, id), i) => (lang, i + 1, id) }
    }.toSet
    val got = run("q71_per_group_sample")
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet
    assert(got == expected)
  }

  test("q72 filter funnel matches driver-side cascade counts") {
    val rows = spark.read.parquet(s"${TestSpark.sfDir}/documents.parquet")
      .select("text", "lang", "n_chars").collect()
    val c1 = rows.filter(r =>
      !r.isNullAt(0) && r.getString(0).trim.split("\\s+").length >= 30)
    val c2 = c1.filter(r => Set("en", "es", "de")(r.getString(1)))
    val c3 = c2.filter(_.getLong(2) <= 400)
    val got = run("q72_filter_funnel").head
    assert((got.getLong(0), got.getLong(1), got.getLong(2), got.getLong(3)) ==
      (rows.length.toLong, c1.length.toLong, c2.length.toLong, c3.length.toLong))
    // the cascade must genuinely narrow on this corpus, or the check is vacuous
    assert(rows.length > c1.length && c1.length > c2.length && c2.length > c3.length)
  }

  test("q73 VQ assignment matches a driver-side exact-integer argmin") {
    val vecs = spark.read.parquet(s"${TestSpark.sfDir}/embeddings.parquet")
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0),
        r.getSeq[Float](1).map(x => math.floor(x.toDouble * 1048576.0).toLong).toArray))
      .sortBy(_._1)
    val cents = vecs.filter(_._1 < 16).map(_._2)
    val assigned = vecs.map { case (_, qv) =>
      val ds = cents.map(cv => cv.indices.map { i =>
        val d = qv(i) - cv(i); d * d
      }.sum)
      val bd = ds.min
      (ds.indexOf(bd).toLong, bd)
    }
    val expected = assigned.groupBy(_._1).map { case (cid, g) =>
      (cid, g.length.toLong, g.map(x => BigInt(x._2)).sum.toDouble)
    }.toSet
    val got = run("q73_vq_assign")
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == expected)
  }

  test("q74 length histogram matches driver-side bucket counts") {
    val expected = docs.map(_._3).groupBy(n => math.min(n / 10, 10))
      .map { case (b, g) => (b, g.size.toLong, g.sum) }.toSet
    val got = run("q74_length_histogram")
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == expected)
  }

  test("q76 containment dominates q31 Jaccard on every shared pair") {
    // containment = inter/|side| ≥ inter/|union| = jaccard, so every
    // Jaccard-similar pair must appear at ≥ its jaccard in q76's measure;
    // and the two directions differ unless the sizes match
    val jacc = run("q31_ngram_jaccard")
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val cont = run("q76_containment")
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getDouble(2), r.getDouble(3))).toMap
    assert(cont.nonEmpty)
    cont.foreach { case (k, (ca, cb)) =>
      jacc.get(k).foreach(j => assert(math.max(ca, cb) >= j, s"$k: $ca/$cb vs $j"))
      assert(ca > 0 && ca <= 1.0 + 1e-12 && cb > 0 && cb <= 1.0 + 1e-12)
    }
  }

  test("q68 cube contains the rollup rows exactly, plus one marginal per nation") {
    def key(r: Row) = (Option(r.getString(0)), Option(r.getString(1)))
    val rollup = run("q53_rollup").map(r => key(r) -> (r.getDouble(2), r.getLong(3))).toMap
    val cube = run("q68_cube").map(r => key(r) -> (r.getDouble(2), r.getLong(3))).toMap
    // every rollup grouping set appears in the cube with bit-identical values
    rollup.foreach { case (k, v) =>
      assert(cube.get(k).contains(v), s"cube diverges from rollup at $k")
    }
    // the extra sets are exactly the (NULL, nation) marginals
    val extras = cube.keySet -- rollup.keySet
    assert(extras.forall { case (r, n) => r.isEmpty && n.nonEmpty })
    val nations = cube.keys.flatMap(_._2).toSet
    assert(extras.size == nations.size)
  }

  test("q82 keep-best marks exactly the argmax-quality member of each q51 cluster") {
    val labels = run("q51_dedup_clusters")
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val score = run("q36_quality_score")
      .map(r => r.getLong(0) -> r.getDouble(5)).toMap
    val rows = run("q82_dedup_keep_best")
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(rows.nonEmpty)
    // domain and labels agree with q51 exactly; scores agree with q36
    assert(rows.map(t => t._1 -> t._2).toMap == labels)
    rows.foreach { case (id, _, sc, _) => assert(score(id) == sc) }
    // per cluster: exactly one keep, and it is the (max score, min id) row
    rows.groupBy(_._2).foreach { case (cid, g) =>
      val kept = g.filter(_._4 == 1L)
      assert(kept.length == 1, s"cluster $cid keeps ${kept.length}")
      val best = g.minBy { case (id, _, sc, _) => (-sc, id) }
      assert(kept.head._1 == best._1, s"cluster $cid kept ${kept.head._1}, best $best")
    }
  }

  test("q90 semantic dedup keeps exactly the argmin-centroid-cos member per component") {
    val edges = run("q33_ivf_neardup") // cos >= 0.35 — q90's edge set
      .map(r => (r.getLong(0), r.getLong(1)))
    val rows = run("q90_semantic_dedup")
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(rows.nonEmpty)
    // every embedding appears exactly once
    assert(rows.map(_._1).distinct.length == rows.length)
    // component labels are the min-id closure of the q33 edge set
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = { var r = x; while (parent.getOrElse(r, r) != r) r = parent(r); r }
    edges.sorted.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { val (lo, hi) = if (ra < rb) (ra, rb) else (rb, ra); parent(hi) = lo }
    }
    rows.foreach { case (id, cid, _, _) =>
      val expected = if (parent.contains(id)) find(id) else id
      assert(cid == expected, s"vec $id: cluster $cid, expected $expected")
    }
    // per component: exactly one keep — the LEAST-centroid-similar member
    // (ties to the smallest id); singletons always keep
    rows.groupBy(_._2).foreach { case (cid, g) =>
      val kept = g.filter(_._4 == 1L)
      assert(kept.length == 1, s"cluster $cid keeps ${kept.length}")
      val outlier = g.minBy { case (id, _, cc, _) => (cc, id) }
      assert(kept.head._1 == outlier._1, s"cluster $cid kept ${kept.head._1}, outlier $outlier")
    }
    // centroid cosines are finite and within the cosine range
    rows.foreach { case (id, _, cc, _) =>
      assert(cc >= -1.0000001 && cc <= 1.0000001, s"vec $id cent_cos $cc") }
  }

  test("q91 source datasheet matches a driver-side recomputation") {
    val docs = spark.read.parquet(s"${TestSpark.sfDir}/documents.parquet")
      .select("doc_id", "source", "lang", "n_chars", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3),
        r.getString(4)))
    val score = run("q36_quality_score").map(r => r.getLong(0) -> r.getDouble(5)).toMap
    // type-7 (linear-interpolation) quantile over integer values
    def q7(vs: Seq[Long], p: Double): Double = {
      val s = vs.sorted
      val idx = (s.length - 1) * p
      val lo = idx.toInt
      val frac = idx - lo
      if (lo + 1 < s.length) s(lo) + frac * (s(lo + 1) - s(lo)) else s(lo).toDouble
    }
    val expected = docs.groupBy(_._2).toSeq.map { case (src, g) =>
      val toks = g.map(_._5.trim.split("\\s+").length.toLong)
      // the query's exact mean: each score rounds to DECIMAL(20,6)
      // (HALF_UP — Spark's double→decimal cast) before the sum
      val decSum = g.map(t => java.math.BigDecimal.valueOf(score(t._1))
        .setScale(6, java.math.RoundingMode.HALF_UP))
        .reduce(_.add(_))
      (src, g.length.toLong, toks.sum, g.map(_._3).distinct.length.toLong,
        q7(g.map(_._4), 0.5), q7(g.map(_._4), 0.9),
        decSum.doubleValue / g.length)
    }.sortBy(_._1)
    val got = run("q91_source_datasheet")
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5), r.getDouble(6))).toSeq
    assert(got.nonEmpty && got.length == expected.length)
    got.zip(expected).foreach { case (g, e) =>
      assert(g._1 == e._1 && g._2 == e._2 && g._3 == e._3 && g._4 == e._4, s"$g vs $e")
      // interpolation order differs from this recomputation by ≤1 ulp and
      // decimal-rounding the scores shifts the mean in the 9th place —
      // bit-exactness across ENGINES is the oracle hash's job, this spec
      // pins the VALUES
      assert(math.abs(g._5 - e._5) < 1e-9 && math.abs(g._6 - e._6) < 1e-9,
        s"quantiles: $g vs $e")
      assert(math.abs(g._7 - e._7) < 1e-9, s"mean: $g vs $e")
    }
  }

  test("q83 PPS sample matches a driver-side weighted-coin recomputation") {
    val md = MessageDigest.getInstance("MD5")
    def u(docId: Long): Double = {
      val hex = md.digest(docId.toString.getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString
      (java.lang.Long.parseLong(hex.substring(0, 15), 16) % 1000000L).toDouble / 1000000.0
    }
    val all = spark.read.parquet(s"${TestSpark.sfDir}/documents.parquet")
      .select("doc_id", "lang", "n_chars").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val wTotal = all.groupBy(_._2).map { case (l, g) => l -> g.map(_._3).sum }
    val expected = all.flatMap { case (id, lang, w) =>
      // the EXACT arithmetic shape of the query: (10.0 * w) / W in doubles
      val p = math.min(1.0, (10.0 * w) / wTotal(lang).toDouble)
      if (u(id) < p) Some((id, lang, w, p)) else None
    }.sortBy(_._1).toSeq
    val got = run("q83_pps_sample")
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(got.nonEmpty && got == expected)
    // expected-count sanity: sum of p over the corpus ≈ k per stratum
    // (≤ k exactly iff some doc hit the p=1 cap)
    wTotal.keys.foreach { lang =>
      val sumP = all.filter(_._2 == lang)
        .map { case (_, _, w) => math.min(1.0, (10.0 * w) / wTotal(lang).toDouble) }.sum
      assert(sumP <= 10.0 + 1e-9, s"$lang: $sumP")
    }
  }

  test("q84 grouping sets = cube minus the region-only marginals, markers consistent") {
    def key(r: Row) = (Option(r.getString(0)), Option(r.getString(1)))
    val cube = run("q68_cube").map(r => key(r) -> (r.getDouble(2), r.getLong(3))).toMap
    val gs = run("q84_grouping_sets")
      .map(r => (key(r), r.getLong(2), r.getLong(3), (r.getDouble(4), r.getLong(5))))
    assert(gs.nonEmpty)
    gs.foreach { case (k, gR, gN, v) =>
      // every grouping-sets row exists in the cube with bit-identical values
      assert(cube.get(k).contains(v), s"diverges from cube at $k")
      // markers match the set the row came from (names are never NULL in
      // the data, so a NULL name ⟺ aggregated away ⟺ marker = 1)
      assert((gR == 1L) == k._1.isEmpty && (gN == 1L) == k._2.isEmpty, s"$k: g=($gR,$gN)")
      // the region-only marginal set is excluded by construction
      assert(!(gR == 0L && gN == 1L), s"unexpected region-only row $k")
    }
    // and nothing else from cube is missing: detail + nation marginals + total
    val wanted = cube.keySet.filter { case (r, n) => n.nonEmpty || r.isEmpty }
    assert(gs.map(_._1).toSet == wanted)
  }

  test("q85 kNN graph matches a driver-side exact top-3 recomputation") {
    val vecs = spark.read.parquet(s"${TestSpark.sfDir}/embeddings.parquet")
      .select("vec_id", "label", "embedding").collect()
      .map(r => (r.getLong(0), r.getInt(1),
        r.getSeq[Float](2).map(x => math.floor(x.toDouble * 1048576.0).toLong).toArray))
    def cos(a: Array[Long], b: Array[Long]): Double = {
      var dot = 0L; var na = 0L; var nb = 0L; var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      dot.toDouble / (math.sqrt(na.toDouble) * math.sqrt(nb.toDouble))
    }
    val expected = vecs.flatMap { case (id, cell, v) =>
      vecs.filter(o => o._2 == cell && o._1 != id)
        .map(o => (o._1, cos(v, o._3)))
        .sortBy { case (nbr, c) => (-c, nbr) }
        .take(3).zipWithIndex
        .map { case ((nbr, c), i) => (id, (i + 1).toLong, nbr, cell, c) }
    }.sortBy(t => (t._1, t._2)).toSeq
    val got = run("q85_knn_graph")
      .map(r => (r.getLong(0), r.getInt(1).toLong, r.getLong(2), r.getInt(3), r.getDouble(4)))
      .toSeq
    assert(got.nonEmpty && got == expected)
  }

  test("q86 LM score matches a driver-side corpus-bigram-model recomputation") {
    val texts = spark.read.parquet(s"${TestSpark.sfDir}/documents.parquet")
      .select("doc_id", "text").collect()
      .filter(!_.isNullAt(1))
      .map(r => (r.getLong(0), r.getString(1).trim.split("\\s+").toSeq))
    val c1 = texts.flatMap(_._2).groupBy(identity).map { case (w, g) => w -> g.size.toLong }
    val c12 = texts.flatMap { case (_, ws) => ws.zip(ws.drop(1)) }
      .groupBy(identity).map { case (p, g) => p -> g.size.toLong }
    val expected = texts.flatMap { case (id, ws) =>
      val bigs = ws.zip(ws.drop(1))
      if (bigs.isEmpty) None
      else {
        // the EXACT arithmetic shape of the query: one double divide +
        // floor per distinct bigram, then an exact integer sum
        val sps = bigs.groupBy(identity).map { case (p @ (w1, _), g) =>
          g.size.toLong * math.floor(c12(p).toDouble * 1048576.0 / c1(w1).toDouble).toLong
        }.sum
        Some((id, bigs.size.toLong, sps.toDouble / (bigs.size.toDouble * 1048576.0)))
      }
    }.sortBy(_._1).toSeq
    val got = run("q86_lm_score")
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got.nonEmpty && got == expected)
    // a self-predictable corpus scores in (0, 1]; the mean probability of
    // a bigram under a model trained on the same corpus is never 0
    got.foreach { case (id, _, s) => assert(s > 0.0 && s <= 1.0, s"$id: $s") }
  }

  test("q88 TF-IDF keywords match a driver-side recomputation") {
    val texts = spark.read.parquet(s"${TestSpark.sfDir}/documents.parquet")
      .select("doc_id", "text").collect()
      .filter(!_.isNullAt(1))
      .map(r => (r.getLong(0), r.getString(1).trim.split("\\s+").toSeq))
    val nDocs = texts.length.toLong
    val tf = texts.map { case (id, ws) =>
      id -> ws.groupBy(identity).map { case (w, g) => w -> g.size.toLong }
    }.toMap
    val df = tf.values.flatMap(_.keys).groupBy(identity)
      .map { case (w, g) => w -> g.size.toLong }
    val expected = tf.toSeq.flatMap { case (id, m) =>
      m.toSeq
        .map { case (w, t) =>
          // the EXACT arithmetic shape of the query
          (w, t, t * ((nDocs - df(w) + 0.5) / (df(w) + 0.5)))
        }
        .sortBy { case (w, _, sc) => (-sc, w) }
        .take(3).zipWithIndex
        .map { case ((w, t, sc), i) => (id, (i + 1).toLong, w, t, sc) }
    }.sortBy(t => (t._1, t._2))
    val got = run("q88_tfidf_keywords")
      .map(r => (r.getLong(0), r.getInt(1).toLong, r.getString(2), r.getLong(3),
        r.getDouble(4))).toSeq
    assert(got.nonEmpty && got == expected)
  }

  test("q89 shard manifest matches a driver-side recomputation and is order-insensitive") {
    val md = MessageDigest.getInstance("MD5")
    def hex(s: String): String =
      md.digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    def md5Long(s: String): Long =
      java.lang.Long.parseLong(hex(s).substring(0, 15), 16)
    def md5Long2(s: String): Long =
      java.lang.Long.parseLong(hex(s).substring(16, 31), 16)
    val all = spark.read.parquet(s"${TestSpark.sfDir}/documents.parquet")
      .select("doc_id", "text", "n_chars").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val expected = all
      .map { case (id, text, nc) =>
        (md5Long(s"shard:$id") % 8, id, nc,
          text.trim.split("\\s+").length.toLong,
          hex(text.replaceAll("\\s+", "")))
      }
      .groupBy(_._1).toSeq
      .map { case (shard, g) =>
        // the r12 manifest-tier digest (Hashing.multisetDigest): exact
        // int128 sums of each element hash's two 60-bit md5 halves,
        // commutative by construction — BigInt reproduces the int128
        // arithmetic exactly
        val s1 = g.map(x => BigInt(md5Long(x._5))).sum
        val s2 = g.map(x => BigInt(md5Long2(x._5))).sum
        (shard, g.size.toLong, g.map(_._4).sum, g.map(_._3).sum,
          g.map(_._2).min, g.map(_._2).max,
          hex(s"$s1:$s2"))
      }
      .sortBy(_._1)
    val got = run("q89_shard_manifest")
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getString(6))).toSeq
    assert(got.nonEmpty && got == expected)
    // the checksum column never depends on scan/task order: every shard's
    // digest recomputes identically from the commutative half-sums
    assert(got.map(_._7).distinct.size == got.size)
  }

  test("q87 shard layout matches a driver-side md5-shuffle recomputation") {
    val md = MessageDigest.getInstance("MD5")
    def md5Long(s: String): Long = {
      val hex = md.digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
      java.lang.Long.parseLong(hex.substring(0, 15), 16)
    }
    val all = spark.read.parquet(s"${TestSpark.sfDir}/documents.parquet")
      .select("doc_id", "n_chars").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val expected = all
      .map { case (id, nc) => (id, md5Long(s"shard:$id"), nc) }
      .groupBy(_._2 % 8).toSeq
      .flatMap { case (shard, g) =>
        g.sortBy { case (id, k, _) => (k, id) }.zipWithIndex
          .map { case ((id, _, nc), i) => (id, shard, (i + 1).toLong, nc) }
      }
      .sortBy(t => (t._2, t._3)).toSeq
    val got = run("q87_shard_layout")
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got.nonEmpty && got == expected)
    // every shard is populated and positions are dense 1..|shard|
    assert(got.map(_._2).distinct.size == 8)
    got.groupBy(_._2).values.foreach { g =>
      assert(g.map(_._3).sorted == (1L to g.size.toLong))
    }
  }
}
