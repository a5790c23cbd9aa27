package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.functions.Hashing
import graft.util.Tables._

/** Corpus-analytics operators beyond the reference surface: near-dup
  * cluster canonicalization (connected components over the LSH pairs),
  * BM25-style relevance ranking, and the OLAP grouping extensions
  * (rollup, pivot) the reference's embedded engine would have provided
  * for free.
  */
object AnalyticsOps {

  private def dec(c: org.apache.spark.sql.Column) = c.cast(DecimalType(20, 6))

  /** Run a SQL statement over `df` through a per-invocation temp view.
    * q53/q68 must go through the SQL front-end (the Dataset
    * rollup()/cube() path trips Spark 4's ambiguous-self-join detection
    * on the grouping columns), but a FIXED view name is session-global
    * state — two concurrent builds would race on
    * createOrReplaceTempView. The name is made unique per call, and the
    * view is dropped immediately after `sql` (which analyzes eagerly, so
    * the returned DataFrame no longer needs it): no catalog residue, no
    * race window beyond the unique name itself.
    */
  private implicit final class SqlOverView(private val df: DataFrame) {
    def sqlOver(s: SparkSession, prefix: String)(q: String => String): DataFrame = {
      val v = s"${prefix}_${java.util.UUID.randomUUID().toString.replace("-", "")}"
      df.createOrReplaceTempView(v)
      try s.sql(q(v)) finally s.catalog.dropTempView(v)
    }
  }

  /** Connected components (doc_id → min id of its component) over an
    * (ida, idb) pair list. Hybrid execution, the broadcast-join analog:
    * post-LSH candidate graphs are sparse by construction, so below
    * `spark.graft.cc.maxDriverEdges` (default 4M) the edge list collects
    * to the driver for union-find — one action instead of a fixpoint of
    * join rounds whose per-action overhead dwarfs the tiny label joins.
    * Above the threshold the distributed min-label propagation loop runs,
    * which is the shape that survives billions of edges.
    */
  private[graft] def clusterLabels(s: SparkSession, pairs: DataFrame): DataFrame = {
    import s.implicits._
    val maxDriver = s.conf.getOption("spark.graft.cc.maxDriverEdges")
      .map(_.toLong).getOrElse(4000000L).min(Int.MaxValue - 1L).toInt
    val p = graft.util.Caches.transientPersist(pairs)
    // ONE action decides the regime AND fetches the edges: take(max+1)
    // collects at most one row past the threshold, where the old
    // count()-then-collect() pair materialized the pipeline twice
    val taken = p.take(maxDriver + 1)
    if (taken.length <= maxDriver) {
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x
        while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      // deterministic: rows sorted before union, roots merged to the min —
      // so every component's final root is its minimum id
      taken.map(r => (r.getLong(0), r.getLong(1))).sorted.foreach {
        case (a, b) =>
          parent.getOrElseUpdate(a, a)
          parent.getOrElseUpdate(b, b)
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) {
            val (lo, hi) = if (ra < rb) (ra, rb) else (rb, ra)
            parent(hi) = lo
          }
      }
      val labels = parent.keySet.map(n => (n, find(n))).toSeq.sorted
      s.createDataFrame(labels).toDF("doc_id", "cluster_id")
    } else {
      val edges = graft.util.Caches.transientPersist(
        p.union(p.select(col("idb"), col("ida"))).toDF("u", "v"))
      var labels = graft.util.Caches.transientPersist(
        edges.select(col("u").as("doc_id")).distinct()
          .withColumn("cluster_id", col("doc_id")))
      var changed = 1L
      var iter = 0
      val maxIter = 64 // propagation rounds = graph diameter; fail loudly past this
      // Lineage cadence: each round's plan nests the previous round's —
      // persistence caches the DATA but not the DAG, so planning/closure
      // cost and the lost-partition recompute path grow linearly with
      // rounds. Every 8 rounds (large-diameter graphs only; near-dup
      // components converge in 2–3) localCheckpoint truncates the
      // lineage to the materialized blocks, bounding per-round cost at
      // billions of edges.
      val ckptEvery = 8
      // unpersist must target the PERSISTED references: from round 2 on,
      // `labels` is an unpersisted projection over the previous round's
      // `updated`, so labels.unpersist() would be a silent no-op and every
      // round would leak one cached table
      var prevUpdated: DataFrame = labels
      while (changed > 0 && iter < maxIter) {
        val nb = edges.join(labels, col("v") === col("doc_id"))
          .groupBy("u").agg(min("cluster_id").as("nbmin"))
        var updated = graft.util.Caches.transientPersist(
          labels.join(nb, labels("doc_id") === nb("u"), "left")
            .select(labels("doc_id"),
              least(col("cluster_id"), coalesce(col("nbmin"), col("cluster_id")))
                .as("new_cid"), col("cluster_id")))
        changed = updated.filter(col("new_cid") =!= col("cluster_id")).count()
        if (changed > 0 && (iter + 1) % ckptEvery == 0) {
          val cp = updated.localCheckpoint(true)
          updated.unpersist()
          updated = cp
        }
        prevUpdated.unpersist()
        prevUpdated = updated
        labels = updated.select(col("doc_id"), col("new_cid").as("cluster_id"))
        iter += 1
      }
      // round counter surfaced: the fixpoint's cost is rounds × (join +
      // action) — anyone reading a slow run needs this number first
      System.err.println(s"[graft] cc min-label fixpoint converged in $iter rounds" +
        s" (checkpoint cadence $ckptEvery, cap $maxIter)")
      // partially-propagated labels are silently WRONG — never return them
      require(changed == 0,
        s"connected components did not converge within $maxIter rounds " +
          "(component diameter exceeds the cap); raise maxIter or pre-contract the graph")
      labels
    }
  }

  /** SHARED cluster labels over the LSH-verified pair set — the dedup
    * family's third materialized view (beside the shingle index and the
    * pair list): q51 publishes it, q82's keep-best and q108's release
    * drop by it. One label computation per (session, corpus) instead of
    * one per consumer; the driver union-find (or the distributed
    * min-label loop past the threshold) runs inside the shared build.
    */
  private[graft] def lshClusterLabels(s: SparkSession, d: String): DataFrame =
    graft.util.Caches.sharedIndex(s, s"lshLabels:$d")(
      clusterLabels(s, TrainingOps.lshPairs(s, d).select("ida", "idb")))

  /** SHARED keep-best ranking — labels ⋈ quality score, `row_number`
    * per cluster under (score DESC, doc_id): the dedup DECISION table.
    * q82 publishes it; q108's release drops every rnk > 1 row by it.
    * Clustered-docs-sized (sparse), so the cache is tiny; sharing it
    * saves each further consumer the corpus-wide quality pass and the
    * rank window.
    */
  private[graft] def keepBestRanks(s: SparkSession, d: String): DataFrame =
    graft.util.Caches.sharedIndex(s, s"lshKeepBest:$d") {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("cluster_id")
        .orderBy(col("score").desc, col("doc_id").asc)
      lshClusterLabels(s, d)
        .join(TrainingOps.qualityFeatures(s, d).select("doc_id", "score"),
          "doc_id")
        .withColumn("rnk", row_number().over(w))
    }

  val all: Seq[Q] = Seq(

    // Near-dup CLUSTERS: connected components over the verified LSH pairs
    // by iterative min-label propagation (the standard distributed CC:
    // converges in O(diameter) rounds — near-dup components are tiny, so
    // 2-3 rounds; each round is one join+agg, shuffle-bounded by the edge
    // list). Canonical doc per cluster = min doc_id, exactly what a
    // dedup-keep-one pass feeds the training pipeline. Oracle: recursive
    // CTE reachability with the same min-label semantics.
    Q("q51_dedup_clusters",
      (s, d) => lshClusterLabels(s, d).orderBy("doc_id"),
      Some("WITH RECURSIVE " + TrainingOps.lshPairsCtes + ", " +
        "edges AS (SELECT ida AS u, idb AS v FROM pairs UNION SELECT idb, ida FROM pairs), " +
        "reach(u, r) AS (SELECT DISTINCT u, u FROM edges " +
        "UNION SELECT e.u, reach.r FROM edges e JOIN reach ON e.v = reach.u) " +
        "SELECT u AS doc_id, min(r) AS cluster_id FROM reach GROUP BY u ORDER BY doc_id")),

    // Keep-best dedup endpoint: the decision a dedup pipeline actually
    // ships — per near-dup cluster (q51's labels over q29's verified
    // pairs), KEEP the highest-quality member (q36's published score,
    // ties to the smallest id) and drop the rest. Composes the three
    // kernels rather than re-deriving any of them: the pair list and the
    // quality features are the corpus's central derived datasets, and the
    // representative choice must agree with the quality report the
    // pipeline publishes. Scale: labels ride the hybrid-CC path, the
    // quality join is doc_id-keyed on the (sparse) clustered subset, and
    // the argmax is ONE row_number window partitioned by cluster —
    // cluster sizes are LSH-candidate-bounded, so no window partition can
    // be corpus-sized.
    Q("q82_dedup_keep_best",
      (s, d) => keepBestRanks(s, d)
        .select(col("doc_id"), col("cluster_id"), col("score"),
          when(col("rnk") === 1, 1L).otherwise(0L).as("keep"))
        .orderBy("doc_id"),
      Some("WITH RECURSIVE " + TrainingOps.lshPairsCtes + ", " +
        "edges AS (SELECT ida AS u, idb AS v FROM pairs UNION SELECT idb, ida FROM pairs), " +
        "reach(u, r) AS (SELECT DISTINCT u, u FROM edges " +
        "UNION SELECT e.u, reach.r FROM edges e JOIN reach ON e.v = reach.u), " +
        "lab AS (SELECT u AS doc_id, min(r) AS cluster_id FROM reach GROUP BY u), " +
        TrainingOps.qualCte + ", " +
        "rk AS (SELECT lab.doc_id, cluster_id, score, " +
        "row_number() OVER (PARTITION BY cluster_id ORDER BY score DESC, lab.doc_id) AS rnk " +
        "FROM lab JOIN qual ON lab.doc_id = qual.doc_id) " +
        "SELECT doc_id, cluster_id, score, " +
        "CAST(CASE WHEN rnk = 1 THEN 1 ELSE 0 END AS BIGINT) AS keep " +
        "FROM rk ORDER BY doc_id")),

    // Semantic dedup endpoint (the SemDeDup shape, Abbas et al. 2023):
    // high-cosine in-cell pairs → connected components → per component
    // KEEP the member LEAST similar to its cell centroid (the paper's
    // diversity-preserving survivor rule — q82 keeps the quality argmax;
    // this keeps the embedding-space outlier), ties to the smallest id.
    // Centroid trick: cosine is scale-invariant, so cosine-to-MEAN equals
    // cosine-to-SUM — the centroid stays an exact integer sum vector (the
    // q73/q75 quantization convention), no division, both engines
    // bit-identical. Scale: edges reuse the SAME shared cellPairCos cache
    // q33/q85 read (salted, cell-bounded); cell sums come from the
    // mergeable VectorSum aggregator (map-side partials — #cells×dim
    // longs shuffle, NOT a ×dim explode of the corpus) and collect as a
    // bounded codebook (#cells rows — the coarse quantizer caps #cells by
    // design, the q73 pattern); labels ride the hybrid-CC path; the
    // argmin is one window over component-bounded partitions. Int64
    // bounds: |component| ≤ 2^20 × members-per-cell; dot accumulates
    // members×2^46 — loud multiplyExact/addExact past 2^63 (the
    // VectorQuantizer convention), with the documented production escape
    // of re-centering or decimal partials for cells beyond ~2^16 members.
    Q("q90_semantic_dedup",
      (s, d) => {
        val vsum = udaf(graft.functions.VectorSum)
        val qv = embeddings(s, d)
          .select(col("vec_id"), col("label"),
            TrainingOps.quantize(col("embedding")).as("qv"))
        // bounded collect: one row per quantizer cell (codebook pattern)
        val cells = qv.groupBy("label").agg(vsum(col("qv")).as("sv")).collect()
        val sums: Map[Int, Array[Long]] =
          cells.map(r => r.getInt(0) -> r.getSeq[Long](1).toArray).toMap
        val n2s: Map[Int, Double] =
          sums.map { case (l, sv) =>
            l -> sv.foldLeft(BigInt(0))((a, x) => a + BigInt(x) * BigInt(x)).toDouble
          }
        val centCos = udf((label: Int, v: Seq[Long]) => {
          val sv = sums(label)
          var dot = 0L
          var n2v = 0L
          var i = 0
          while (i < sv.length) {
            dot = Math.addExact(dot, Math.multiplyExact(v(i), sv(i)))
            n2v = Math.addExact(n2v, Math.multiplyExact(v(i), v(i)))
            i += 1
          }
          dot.toDouble / (math.sqrt(n2v.toDouble) * math.sqrt(n2s(label)))
        })
        val edges = TrainingOps.cellPairCos(s, d)
          .filter(col("cos") >= TrainingOps.CellPairRetainCos)
          .select("ida", "idb")
        val labels = clusterLabels(s, edges)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("sem_cluster")
          .orderBy(col("cent_cos").asc, col("vec_id").asc)
        qv.select(col("vec_id"), col("label"),
            centCos(col("label"), col("qv")).as("cent_cos"))
          .join(labels, qv("vec_id") === labels("doc_id"), "left")
          .withColumn("sem_cluster", coalesce(col("cluster_id"), col("vec_id")))
          .withColumn("rnk", row_number().over(w))
          .select(col("vec_id"), col("sem_cluster"), col("cent_cos"),
            when(col("rnk") === 1, 1L).otherwise(0L).as("keep"))
          .orderBy("vec_id")
      },
      Some("WITH RECURSIVE " + TrainingOps.cellPairCosCtes + ", " +
        "pairs AS (SELECT ida, idb FROM cpc WHERE cos >= 0.35), " +
        "edges AS (SELECT ida AS u, idb AS v FROM pairs UNION SELECT idb, ida FROM pairs), " +
        "reach(u, r) AS (SELECT DISTINCT u, u FROM edges " +
        "UNION SELECT e.u, reach.r FROM edges e JOIN reach ON e.v = reach.u), " +
        "lab AS (SELECT u AS vec_id, min(r) AS cid FROM reach GROUP BY u), " +
        "cs AS (SELECT label, pos, CAST(sum(x) AS BIGINT) AS sx FROM ee GROUP BY 1, 2), " +
        "ns AS (SELECT label, CAST(sum(sx * sx) AS BIGINT) AS n2s FROM cs GROUP BY 1), " +
        "dotc AS (SELECT e.vec_id, CAST(sum(e.x * cs.sx) AS BIGINT) AS dotv " +
        "FROM ee e JOIN cs ON e.label = cs.label AND e.pos = cs.pos GROUP BY 1), " +
        "cent AS (SELECT ev.vec_id, ev.label, " +
        "CAST(dotv AS DOUBLE) / (sqrt(CAST(n.n2 AS DOUBLE)) * sqrt(CAST(ns.n2s AS DOUBLE))) AS cent_cos " +
        "FROM ev JOIN dotc USING (vec_id) JOIN n ON ev.vec_id = n.vec_id " +
        "JOIN ns ON ev.label = ns.label), " +
        "fl AS (SELECT c.vec_id, COALESCE(lab.cid, c.vec_id) AS sem_cluster, c.cent_cos " +
        "FROM cent c LEFT JOIN lab ON c.vec_id = lab.vec_id), " +
        "rk AS (SELECT vec_id, sem_cluster, cent_cos, " +
        "row_number() OVER (PARTITION BY sem_cluster ORDER BY cent_cos ASC, vec_id) AS rnk FROM fl) " +
        "SELECT vec_id, sem_cluster, cent_cos, " +
        "CAST(CASE WHEN rnk = 1 THEN 1 ELSE 0 END AS BIGINT) AS keep " +
        "FROM rk ORDER BY vec_id")),

    // Per-source corpus datasheet: the one-row-per-source report card a
    // corpus release ships (Datasheets for Datasets, Gebru et al. 2021) —
    // volume (docs, tokens), length shape (exact p50/p90 chars), language
    // spread, and the mean of the SAME q36 quality score the pipeline
    // publishes (shared qualityFeatures — the q82 rule: every endpoint
    // must agree with the published quality report). Scale: ONE tokenize
    // pass (qualityFeatures already computes n_tokens — no second split),
    // one partial-agg shuffle keyed by source; the percentile buffers are
    // value→count maps over integer char-lengths (bounded by max doc
    // length, not by corpus size — the q55 exactness argument); the mean
    // rides the exact decimal-sum convention so addition order cannot
    // flip a bit.
    Q("q91_source_datasheet",
      (s, d) => {
        val qual = TrainingOps.qualityFeatures(s, d)
          .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"),
            col("score"))
        documents(s, d).select(col("doc_id"), col("source"), col("lang"), col("n_chars"))
          .join(qual, "doc_id")
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum("n_tokens").as("sum_tokens"),
            countDistinct("lang").as("n_langs"),
            expr("percentile(n_chars, 0.5)").as("p50_chars"),
            expr("percentile(n_chars, 0.9)").as("p90_chars"),
            (sum(dec(col("score"))).cast("double") / count(lit(1)))
              .as("mean_quality"))
          .orderBy("source")
      },
      Some("WITH " + TrainingOps.qualCte + " " +
        "SELECT source, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS sum_tokens, " +
        "count(DISTINCT lang) AS n_langs, " +
        "quantile_cont(n_chars, 0.5) AS p50_chars, " +
        "quantile_cont(n_chars, 0.9) AS p90_chars, " +
        "CAST(SUM(CAST(score AS DECIMAL(20,6))) AS DOUBLE) / count(*) AS mean_quality " +
        "FROM documents JOIN qual USING (doc_id) " +
        "GROUP BY source ORDER BY source")),

    // The composed per-source CURATION FUNNEL — the number every corpus
    // release reports: how many documents survive quality filtering, then
    // exact dedup, then near-dup removal, then eval-set decontamination,
    // as cumulative conjunctions in the pipeline's canonical order. Each
    // stage predicate is evaluated corpus-wide with the SAME semantics as
    // its standalone query (q36 score ≥ 0.5; q27 canonical = min doc_id
    // per content hash; q29's verified θ=0.8 pairs drop the larger id;
    // q65's eval split with a ≥8-shared-shingle flag), so the funnel is
    // the join of four existing kernels, not new machinery. Scale: every
    // join is a doc_id/h equi-join (planner-gated, no broadcast hints —
    // the dropped/flagged sides are dup/contamination-sized but unbounded
    // in principle); the pair list and shingle index are the session's
    // SHARED persisted kernels, so the marginal cost over q29+q65 is four
    // narrow joins + an 8-column partial agg — where a CTE engine re-pays
    // the whole LSH chain. ≤|sources| result rows.
    Q("q101_curation_funnel",
      (s, d) => {
        val docs = documents(s, d)
          .filter(col("text").isNotNull)
          .select(col("doc_id"), col("source"),
            graft.functions.Hashing.simpleHash(col("text")).as("h"))
        val qual = TrainingOps.qualityFeatures(s, d)
          .select(col("doc_id"), col("score"))
        val canon = docs.groupBy("h").agg(min("doc_id").as("keep_id"))
        val nd = TrainingOps.lshPairs(s, d)
          .select(col("idb").as("doc_id")).distinct()
          .withColumn("neardup", lit(1))
        val hits = TrainingOps.contaminationHits(s, d)
        val s1 = col("score") >= 0.5
        val s2 = s1 && col("doc_id") === col("keep_id")
        val s3 = s2 && col("neardup").isNull
        val s4 = s3 && col("doc_id") % 50 =!= 0 &&
          coalesce(col("n_hits"), lit(0L)) < 8
        def cnt(c: org.apache.spark.sql.Column, n: String) =
          sum(when(c, 1L).otherwise(0L)).as(n)
        docs.join(qual, "doc_id").join(canon, "h")
          .join(nd, Seq("doc_id"), "left")
          .join(hits, Seq("doc_id"), "left")
          .groupBy("source")
          .agg(count(lit(1)).as("n_total"),
            cnt(s1, "n_quality"), cnt(s2, "n_exact"),
            cnt(s3, "n_neardup"), cnt(s4, "n_clean"))
          .orderBy("source")
      },
      Some("WITH " + TrainingOps.lshPairsCtes + ", " + TrainingOps.qualCte + ", " +
        "hh AS (SELECT doc_id, source, md5(regexp_replace(text, '\\s+', '', 'g')) AS h " +
        "FROM documents WHERE text IS NOT NULL), " +
        "canon AS (SELECT h, min(doc_id) AS keep_id FROM hh GROUP BY h), " +
        "nd AS (SELECT DISTINCT idb AS doc_id FROM pairs), " +
        "ev2 AS (SELECT DISTINCT h1 FROM shh WHERE doc_id % 50 = 0), " +
        "hits AS (SELECT t.doc_id, count(DISTINCT t.h1) AS n_hits FROM shh t " +
        "JOIN ev2 USING (h1) WHERE t.doc_id % 50 <> 0 GROUP BY 1), " +
        "f AS (SELECT hh.doc_id, hh.source, " +
        "CASE WHEN q.score >= 0.5 THEN 1 ELSE 0 END AS s1, " +
        "CASE WHEN q.score >= 0.5 AND hh.doc_id = c.keep_id THEN 1 ELSE 0 END AS s2, " +
        "CASE WHEN q.score >= 0.5 AND hh.doc_id = c.keep_id AND nd.doc_id IS NULL " +
        "THEN 1 ELSE 0 END AS s3, " +
        "CASE WHEN q.score >= 0.5 AND hh.doc_id = c.keep_id AND nd.doc_id IS NULL " +
        "AND hh.doc_id % 50 <> 0 AND coalesce(ht.n_hits, 0) < 8 THEN 1 ELSE 0 END AS s4 " +
        "FROM hh JOIN qual q USING (doc_id) JOIN canon c USING (h) " +
        "LEFT JOIN nd ON hh.doc_id = nd.doc_id " +
        "LEFT JOIN hits ht ON hh.doc_id = ht.doc_id) " +
        "SELECT source, count(*) AS n_total, CAST(sum(s1) AS BIGINT) AS n_quality, " +
        "CAST(sum(s2) AS BIGINT) AS n_exact, CAST(sum(s3) AS BIGINT) AS n_neardup, " +
        "CAST(sum(s4) AS BIGINT) AS n_clean " +
        "FROM f GROUP BY source ORDER BY source")),

    // BM25-style ranking over the documents table. The idf uses the raw
    // odds ratio (N - df + 0.5)/(df + 0.5) WITHOUT the log: ln() is not
    // correctly-rounded and differs across libm implementations, so the
    // log-free variant is what both engines can compute bit-identically
    // (ranking order is preserved — log is monotone). Per-term
    // contributions go through the exact-decimal sum so the ≤3-term
    // addition order cannot flip a bit.
    Q("q52_bm25_rank",
      (s, d) => {
        val terms = Seq("table", "join", "fast")
        // Per-doc length AND per-term term frequencies straight off the
        // BOUND token array, in ONE primitive loop (r7: the r6 form used
        // one size(filter(ws, _===t)) per term — but higher-order
        // functions evaluate INTERPRETED, never entering codegen, and
        // three of them walk the array three times; the q30 lesson says a
        // tight-loop UDF wins ~2× on exactly this shape. r6 had already
        // deleted the r5 explode and its groupBy exchange — nothing
        // leaves the document's row). The corpus statistics (N, avgdl,
        // per-term df) are ONE 1-row broadcast aggregate over the
        // persisted per-doc table, and scoring is a single map-side
        // projection. At 100 TB the per-doc table is one row per document
        // (the thing a scoring pass must touch anyway); nothing here
        // broadcasts anything that grows with the corpus. The two-step
        // select keeps the tf array a bound column (CollapseProject never
        // inlines a non-cheap multi-referenced alias), so the tokenize +
        // count pass runs once per document, not once per term.
        val termsArr = terms.toArray
        val tfUdf = udf((ws: Array[String]) => {
          // element 0 = dl (token count), then one tf per query term
          val out = new Array[Long](termsArr.length + 1)
          if (ws != null) {
            out(0) = ws.length.toLong
            var i = 0
            while (i < ws.length) {
              val w = ws(i)
              var j = 0
              while (j < termsArr.length) {
                if (w == termsArr(j)) out(j + 1) += 1L
                j += 1
              }
              i += 1
            }
          }
          out
        })
        val perdoc = graft.util.Caches.transientPersist(
          fanOut(documents(s, d).select(col("doc_id"), col("text")))
            .select(col("doc_id"),
              tfUdf(graft.functions.Text.words(col("text"))).as("tfs"))
            .select(col("doc_id") +: col("tfs").getItem(0).as("dl") +:
              terms.zipWithIndex.map { case (t, j) =>
                col("tfs").getItem(j + 1).as(s"tf_$t")
              }: _*))
        // ONE 1-row corpus-stats aggregate (N, total length, per-term
        // document frequencies together) — a single broadcast job instead
        // of two
        val statCols = Seq(count(lit(1)).as("n_docs"), sum(col("dl")).as("tot")) ++
          terms.map(t => sum((col(s"tf_$t") > 0).cast("long")).as(s"df_$t"))
        val stats = perdoc.agg(statCols.head, statCols.tail: _*)
          .withColumn("avgdl", col("tot") / col("n_docs"))
        // per-term BM25 contribution, rounded to DECIMAL(20,6) per term
        // exactly like the oracle's scored CTE, then summed EXACTLY in
        // decimal (addition of scale-6 decimals is exact, same int128
        // semantics as graft_decsum over the former per-term rows)
        def contrib(t: String) = dec(
          ((col("n_docs") - col(s"df_$t") + lit(0.5)) / (col(s"df_$t") + lit(0.5))) *
            ((col(s"tf_$t") * lit(2.2)) /
              (col(s"tf_$t") + lit(1.2) *
                (lit(0.25) + lit(0.75) * (col("dl") / col("avgdl"))))))
        val zero = lit(java.math.BigDecimal.ZERO).cast(
          org.apache.spark.sql.types.DecimalType(20, 6))
        perdoc.crossJoin(broadcast(stats))
          .select(col("doc_id"),
            terms.map(t => when(col(s"tf_$t") > 0, contrib(t)).otherwise(zero))
              .reduce(_ + _).cast("double").as("score"),
            terms.map(t => (col(s"tf_$t") > 0).cast("long")).reduce(_ + _)
              .as("n_terms"))
          .filter(col("n_terms") > 0)
          .orderBy(col("score").desc, col("doc_id").asc)
          .limit(10)
          .orderBy(col("score").desc, col("doc_id").asc)
      },
      Some("WITH toks AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '[ \\t\\n\\x0B\\f\\r]+')) AS w FROM documents), " +
        "dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id), " +
        "stats AS (SELECT count(*) AS n_docs, CAST(SUM(dl) AS BIGINT) / count(*) AS avgdl FROM dl), " +
        "tf AS (SELECT doc_id, w, count(*) AS tf FROM toks WHERE w IN ('table', 'join', 'fast') GROUP BY doc_id, w), " +
        "dfreq AS (SELECT w, count(*) AS df FROM tf GROUP BY w), " +
        "scored AS (SELECT tf.doc_id, CAST(" +
        "((n_docs - df + 0.5) / (df + 0.5)) * " +
        "((tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * (dl / avgdl)))) AS DECIMAL(20,6)) AS contrib " +
        "FROM tf JOIN dfreq USING (w) JOIN dl ON tf.doc_id = dl.doc_id, stats) " +
        "SELECT doc_id, CAST(SUM(contrib) AS DOUBLE) AS score, count(*) AS n_terms " +
        "FROM scored GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 10")),

    // ROLLUP: hierarchical subtotals region → nation → grand total. The
    // partial-agg + grouping-set expansion stays map-side until one
    // shuffle, like any groupBy.
    Q("q53_rollup",
      (s, d) => {
        // TWO-LEVEL rollup: the naive GROUP BY ROLLUP expands every fact
        // row ×3 (Expand) before aggregating — at 100 TB that triples the
        // shuffle. Instead aggregate ONCE at the finest level keeping the
        // EXACT int128 subtotal as DECIMAL(38,6) (graft_decsum_dec), then
        // roll the handful of (region, nation) groups up with exact
        // decimal re-addition and round to double at the very end —
        // value-identical to the flat int128 sum, one fact-table pass.
        // The rollup itself goes through the SQL front-end: the Dataset
        // rollup().agg() path trips Spark 4's ambiguous-self-join
        // detection on the grouping columns; spark.sql resolves the same
        // plan cleanly, and exercising the SQL surface is part of the
        // engine contract anyway.
        lineitem(s, d)
          .join(broadcast(supplier(s, d)), col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(nation(s, d)), col("s_nationkey") === col("n_nationkey"))
          .join(broadcast(region(s, d)), col("n_regionkey") === col("r_regionkey"))
          .groupBy("r_name", "n_name")
          .agg(Hashing.decSumExact(col("l_extendedprice")).as("rev_exact"),
            count(lit(1)).as("n_base"))
          .sqlOver(s, "g_base53") { v =>
            "SELECT r_name, n_name, " +
              "CAST(SUM(rev_exact) AS DOUBLE) AS revenue, " +
              "CAST(SUM(n_base) AS BIGINT) AS n " +
              s"FROM $v " +
              "GROUP BY ROLLUP (r_name, n_name) " +
              "ORDER BY r_name ASC NULLS FIRST, n_name ASC NULLS FIRST"
          }
      },
      Some("SELECT r_name, n_name, " +
        "CAST(SUM(CAST(l_extendedprice AS DECIMAL(20,6))) AS DOUBLE) AS revenue, count(*) AS n " +
        "FROM lineitem JOIN supplier ON l_suppkey = s_suppkey " +
        "JOIN nation ON s_nationkey = n_nationkey " +
        "JOIN region ON n_regionkey = r_regionkey " +
        "GROUP BY ROLLUP (r_name, n_name) " +
        "ORDER BY r_name NULLS FIRST, n_name NULLS FIRST")),

    // CUBE: all four grouping sets of (region, nation) — rollup (q53)
    // plus the nation-only marginal and the grand total. Same two-level
    // design as q53: ONE fact-table pass aggregates at the finest level
    // with the exact int128 decimal subtotal, then the cube expands only
    // the tiny (region, nation) group table — the naive GROUP BY CUBE
    // would Expand every fact row ×4 before the shuffle. Exact decimal
    // re-addition at every grouping set keeps each marginal
    // value-identical to a flat sum over its slice.
    Q("q68_cube",
      (s, d) => {
        lineitem(s, d)
          .join(broadcast(supplier(s, d)), col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(nation(s, d)), col("s_nationkey") === col("n_nationkey"))
          .join(broadcast(region(s, d)), col("n_regionkey") === col("r_regionkey"))
          .groupBy("r_name", "n_name")
          .agg(Hashing.decSumExact(col("l_extendedprice")).as("rev_exact"),
            count(lit(1)).as("n_base"))
          .sqlOver(s, "g_base68") { v =>
            "SELECT r_name, n_name, " +
              "CAST(SUM(rev_exact) AS DOUBLE) AS revenue, " +
              "CAST(SUM(n_base) AS BIGINT) AS n " +
              s"FROM $v " +
              "GROUP BY CUBE (r_name, n_name) " +
              "ORDER BY r_name ASC NULLS FIRST, n_name ASC NULLS FIRST"
          }
      },
      Some("SELECT r_name, n_name, " +
        "CAST(SUM(CAST(l_extendedprice AS DECIMAL(20,6))) AS DOUBLE) AS revenue, count(*) AS n " +
        "FROM lineitem JOIN supplier ON l_suppkey = s_suppkey " +
        "JOIN nation ON s_nationkey = n_nationkey " +
        "JOIN region ON n_regionkey = r_regionkey " +
        "GROUP BY CUBE (r_name, n_name) " +
        "ORDER BY r_name NULLS FIRST, n_name NULLS FIRST")),

    // GROUPING SETS — the general form rollup/cube are sugar for, with an
    // ASYMMETRIC set list a rollup cannot express ((region, nation) detail
    // + the nation-only marginal + the grand total, but NOT the
    // region-only level) plus GROUPING() markers, the standard way
    // consumers distinguish "NULL because aggregated away" from a NULL
    // grouping value. Same two-level design as q53/q68: ONE fact-table
    // pass aggregates at the finest level with the exact int128 decimal
    // subtotal, then the set expansion touches only the tiny group table.
    Q("q84_grouping_sets",
      (s, d) => {
        lineitem(s, d)
          .join(broadcast(supplier(s, d)), col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(nation(s, d)), col("s_nationkey") === col("n_nationkey"))
          .join(broadcast(region(s, d)), col("n_regionkey") === col("r_regionkey"))
          .groupBy("r_name", "n_name")
          .agg(Hashing.decSumExact(col("l_extendedprice")).as("rev_exact"),
            count(lit(1)).as("n_base"))
          .sqlOver(s, "g_base84") { v =>
            "SELECT r_name, n_name, " +
              "CAST(GROUPING(r_name) AS BIGINT) AS g_r, " +
              "CAST(GROUPING(n_name) AS BIGINT) AS g_n, " +
              "CAST(SUM(rev_exact) AS DOUBLE) AS revenue, " +
              "CAST(SUM(n_base) AS BIGINT) AS n " +
              s"FROM $v " +
              "GROUP BY GROUPING SETS ((r_name, n_name), (n_name), ()) " +
              "ORDER BY g_r ASC, g_n ASC, " +
              "r_name ASC NULLS FIRST, n_name ASC NULLS FIRST"
          }
      },
      Some("SELECT r_name, n_name, " +
        "CAST(GROUPING(r_name) AS BIGINT) AS g_r, " +
        "CAST(GROUPING(n_name) AS BIGINT) AS g_n, " +
        "CAST(SUM(CAST(l_extendedprice AS DECIMAL(20,6))) AS DOUBLE) AS revenue, count(*) AS n " +
        "FROM lineitem JOIN supplier ON l_suppkey = s_suppkey " +
        "JOIN nation ON s_nationkey = n_nationkey " +
        "JOIN region ON n_regionkey = r_regionkey " +
        "GROUP BY GROUPING SETS ((r_name, n_name), (n_name), ()) " +
        "ORDER BY g_r, g_n, r_name NULLS FIRST, n_name NULLS FIRST")),

    // Exact quantiles (type-7 / linear interpolation, the convention both
    // engines share). Integer-valued doubles make the interpolation
    // arithmetic exact, hence bit-stable. One pass, partial-aggregable.
    Q("q55_quantiles",
      (s, d) => lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(
          expr("percentile(l_quantity, 0.25)").as("q25"),
          expr("percentile(l_quantity, 0.5)").as("median"),
          expr("percentile(l_quantity, 0.75)").as("q75"),
          expr("percentile(l_quantity, 0.99)").as("q99"))
        .orderBy("l_returnflag"),
      Some("SELECT l_returnflag, quantile_cont(l_quantity, 0.25) AS q25, " +
        "quantile_cont(l_quantity, 0.5) AS median, " +
        "quantile_cont(l_quantity, 0.75) AS q75, " +
        "quantile_cont(l_quantity, 0.99) AS q99 " +
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag")),

    // Deterministic second-order statistics: built-in corr/stddev use
    // engine-specific update orders (Welford vs naive) that drift in the
    // last ulp, so the moments are accumulated as exact decimal sums and
    // the closed forms evaluated on the exact totals — identical doubles
    // on both engines.
    Q("q56_stats_corr",
      (s, d) => {
        val x = col("l_quantity")
        val y = col("l_discount")
        lineitem(s, d)
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n"),
            Hashing.decSum(x).as("sx"), Hashing.decSum(y).as("sy"),
            Hashing.decSum(x * y).as("sxy"),
            Hashing.decSum(x * x).as("sxx"), Hashing.decSum(y * y).as("syy"))
          // guard degenerate groups IDENTICALLY on both engines: a zero
          // (or rounding-negative) variance divides by 0, where Spark's
          // Divide yields NULL but DuckDB's IEEE division yields inf/NaN —
          // both sides now emit NULL for those groups
          .withColumn("vx", col("n") * col("sxx") - col("sx") * col("sx"))
          .withColumn("vy", col("n") * col("syy") - col("sy") * col("sy"))
          .select(col("l_returnflag"), col("n"),
            when(col("vx") > 0 && col("vy") > 0,
              (col("n") * col("sxy") - col("sx") * col("sy")) /
                (sqrt(col("vx")) * sqrt(col("vy")))).as("corr"),
            when(col("vx") > 0 && col("n") > 1,
              sqrt(col("vx") / (col("n") * (col("n") - 1)))).as("stddev_qty"))
          .orderBy("l_returnflag")
      },
      Some("SELECT l_returnflag, n, " +
        "CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0 THEN " +
        "((n * sxy - sx * sy) / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))) END AS corr, " +
        "CASE WHEN (n * sxx - sx * sx) > 0 AND n > 1 THEN " +
        "sqrt((n * sxx - sx * sx) / (n * (n - 1))) END AS stddev_qty FROM (" +
        "SELECT l_returnflag, count(*) AS n, " +
        "CAST(SUM(CAST(l_quantity AS DECIMAL(20,6))) AS DOUBLE) AS sx, " +
        "CAST(SUM(CAST(l_discount AS DECIMAL(20,6))) AS DOUBLE) AS sy, " +
        "CAST(SUM(CAST(l_quantity * l_discount AS DECIMAL(20,6))) AS DOUBLE) AS sxy, " +
        "CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(20,6))) AS DOUBLE) AS sxx, " +
        "CAST(SUM(CAST(l_discount * l_discount AS DECIMAL(20,6))) AS DOUBLE) AS syy " +
        "FROM lineitem GROUP BY l_returnflag) ORDER BY l_returnflag")),

    // AS-OF join (the canonical custom time-series operator): for every
    // purchase, the user's most recent signup at-or-before it. Scalable
    // formulation: union the two tagged streams, ONE sort-shuffle by
    // (user, ts), and a running last-signup window — no range-join row
    // blowup, unlike the naive t1 ≤ t2 join. The oracle uses the
    // equivalent windowed form.
    Q("q57_asof_join",
      (s, d) => {
        val ev = events(s, d)
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("ts"), lit(1).as("is_p"))
        val signups = ev.filter(col("event_type") === "signup")
          .select(col("event_id"), col("user_id"), col("ts"), lit(0).as("is_p"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id")
          .orderBy(col("ts"), col("is_p"), col("event_id"))
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
        purchases.unionByName(signups)
          .withColumn("asof_signup_ts",
            last(when(col("is_p") === 0, col("ts")), ignoreNulls = true).over(w))
          .filter(col("is_p") === 1)
          .select(col("event_id"), col("user_id"), col("ts"),
            col("asof_signup_ts"))
          .orderBy("event_id")
      },
      Some("WITH ev AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, " +
        "CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_p " +
        "FROM events WHERE event_type IN ('purchase', 'signup')), " +
        "m AS (SELECT *, max(CASE WHEN is_p = 0 THEN ts END) OVER " +
        "(PARTITION BY user_id ORDER BY ts, is_p, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS asof_signup_ts FROM ev) " +
        "SELECT event_id, user_id, ts, asof_signup_ts FROM m WHERE is_p = 1 " +
        "ORDER BY event_id")),

    // RANGE JOIN (bucketed): events in the hour BEFORE each purchase by
    // the same user. The naive t1 ≤ t < t2 condition plans as a
    // nested-loop; bucketing time into slide-width cells turns it into an
    // equi-join on (user, bucket) over 3 probe cells + a residual range
    // filter — the composition that scales (preference (a) over a custom
    // SparkPlan: the built-ins express it).
    Q("q58_range_join",
      (s, d) => {
        val ev = events(s, d)
        // 30-min cells: [pts - 1h, pts) spans exactly cells pb-2 .. pb
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("ts").as("pts"))
          .withColumn("pb", expr("unix_micros(pts) div 1800000000"))
          .withColumn("probe", explode(array(col("pb") - 2, col("pb") - 1, col("pb"))))
        val others = ev.select(col("user_id").as("o_user"), col("ts").as("ets"))
          .withColumn("eb", expr("unix_micros(ets) div 1800000000"))
        // LEFT join keeps zero-match purchases in the same pass (their
        // probe rows survive with a null ets and count 0), so no second
        // events scan and no join-back — one bucketed join + one agg.
        // The range residual must live IN the join condition for that.
        purchases
          .join(others, col("user_id") === col("o_user")
            && col("probe") === col("eb")
            && col("ets") >= col("pts") - expr("INTERVAL 1 HOUR")
            && col("ets") < col("pts"), "left_outer")
          .groupBy("event_id", "user_id")
          .agg(sum(when(col("ets").isNotNull, 1L).otherwise(0L)).as("n_prior"))
          .orderBy("event_id")
      },
      Some("WITH ev AS (SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events), " +
        "p AS (SELECT event_id, user_id, ts FROM ev WHERE event_type = 'purchase'), " +
        "c AS (SELECT p.event_id, count(*) AS n_prior FROM p JOIN ev e " +
        "ON e.user_id = p.user_id AND e.ts >= p.ts - INTERVAL 1 HOUR AND e.ts < p.ts " +
        "GROUP BY p.event_id) " +
        "SELECT p.event_id, p.user_id, COALESCE(c.n_prior, 0) AS n_prior " +
        "FROM p LEFT JOIN c ON p.event_id = c.event_id ORDER BY p.event_id")),

    // Deterministic stratified sampling: per-stratum rates via a hash
    // threshold on the key (md5 % 100 < pct) — reproducible on any engine
    // and any cluster size, unlike Bernoulli rand() sampling, and exactly
    // what a training-data pipeline needs for auditable corpus mixes.
    // Map-side only.
    Q("q59_stratified_sample",
      (s, d) => documents(s, d)
        .withColumn("slot", Hashing.md5Long(col("doc_id").cast("string")) % 100)
        .filter((col("lang") === "en" && col("slot") < 50)
          || (col("lang") =!= "en" && col("slot") < 20))
        .select("doc_id", "lang", "slot")
        .orderBy("doc_id"),
      Some("SELECT doc_id, lang, slot FROM (SELECT doc_id, lang, " +
        s"${TrainingOps.oMd5Long("CAST(doc_id AS VARCHAR)")} % 100 AS slot FROM documents) " +
        "WHERE (lang = 'en' AND slot < 50) OR (lang <> 'en' AND slot < 20) " +
        "ORDER BY doc_id")),

    // FULL OUTER join (the remaining join variant): per-nation customer
    // and supplier counts, nations present on either side only.
    Q("q60_full_outer",
      (s, d) => {
        val c = customer(s, d).groupBy("c_nationkey")
          .agg(count(lit(1)).as("n_cust"))
        val p = supplier(s, d).filter(col("s_acctbal") > 5000.0)
          .groupBy("s_nationkey").agg(count(lit(1)).as("n_supp"))
        c.join(p, col("c_nationkey") === col("s_nationkey"), "full_outer")
          .select(coalesce(col("c_nationkey"), col("s_nationkey")).as("nationkey"),
            coalesce(col("n_cust"), lit(0L)).as("n_cust"),
            coalesce(col("n_supp"), lit(0L)).as("n_supp"))
          .orderBy("nationkey")
      },
      Some("SELECT COALESCE(c.c_nationkey, p.s_nationkey) AS nationkey, " +
        "COALESCE(c.n_cust, 0) AS n_cust, COALESCE(p.n_supp, 0) AS n_supp FROM " +
        "(SELECT c_nationkey, count(*) AS n_cust FROM customer GROUP BY c_nationkey) c " +
        "FULL OUTER JOIN " +
        "(SELECT s_nationkey, count(*) AS n_supp FROM supplier WHERE s_acctbal > 5000 " +
        "GROUP BY s_nationkey) p ON c.c_nationkey = p.s_nationkey ORDER BY nationkey")),

    // KMV distinct sketch (typed Aggregator tier): approximate distinct
    // texts per source. Deterministic — the buffer is the exact bottom-k
    // of the md5-derived hashes — so, unlike HLL, the estimate itself is
    // oracle-checkable: DuckDB computes the same bottom-k and estimator.
    // Mergeable state ⇒ map-side partial aggregation, k longs per group
    // shuffled.
    Q("q61_kmv_distinct",
      (s, d) => {
        val kmv = udaf(new graft.functions.KmvDistinct(16))
        documents(s, d)
          .select(col("source"), Hashing.md5Long(col("text")).as("h"))
          .groupBy("source")
          .agg(kmv(col("h")).as("est_distinct"), count(lit(1)).as("n_rows"))
          .orderBy("source")
      },
      Some("WITH h AS (SELECT DISTINCT source, " +
        s"${TrainingOps.oMd5Long("text")} AS h FROM documents), " +
        "r AS (SELECT source, h, row_number() OVER (PARTITION BY source ORDER BY h) AS rn, " +
        "count(*) OVER (PARTITION BY source) AS nd FROM h) " +
        "SELECT r.source, CASE WHEN max(nd) < 16 THEN CAST(max(nd) AS DOUBLE) " +
        "ELSE 15.0 * 1152921504606846976.0 / CAST(max(CASE WHEN rn = 16 THEN h END) AS DOUBLE) END AS est_distinct, " +
        "c.n_rows FROM r JOIN (SELECT source, count(*) AS n_rows FROM documents GROUP BY source) c " +
        "ON r.source = c.source GROUP BY r.source, c.n_rows ORDER BY r.source")),

    // PIVOT: event counts per user cohort, one column per event type
    // (explicit value list ⇒ deterministic schema, single-pass agg).
    Q("q54_pivot",
      (s, d) => events(s, d)
        .withColumn("cohort", pmod(col("user_id"), lit(4)))
        .groupBy("cohort")
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .count()
        // empty (cohort, type) cells pivot to NULL but the oracle's
        // count(*) FILTER yields 0 — align the representations
        .na.fill(0L, Seq("click", "error", "purchase", "signup", "view"))
        .orderBy("cohort"),
      Some("SELECT user_id % 4 AS cohort, " +
        "count(*) FILTER (WHERE event_type = 'click') AS click, " +
        "count(*) FILTER (WHERE event_type = 'error') AS error, " +
        "count(*) FILTER (WHERE event_type = 'purchase') AS purchase, " +
        "count(*) FILTER (WHERE event_type = 'signup') AS signup, " +
        "count(*) FILTER (WHERE event_type = 'view') AS view " +
        "FROM events GROUP BY user_id % 4 ORDER BY cohort")),

    // Corpus-release composite endpoint: the ONE job a pipeline runs to
    // cut a training corpus — gopher-gate (q100's language-agnostic
    // shape rules; see releaseCorpus on the stopword gate) → keep-best
    // near-dup drop (q82's cluster decision) → decontaminate + eval
    // holdout (q65/q101's threshold) → temperature-resample (q104's τ=2
    // sqrt rule, masses over the SURVIVORS — resampling after cleaning
    // is the pipeline semantics) → train/val/test split (q107's coins).
    // Every stage rides the session's SHARED kernels (shingle index, LSH
    // pair list, quality features, contamination hits) — the marginal
    // cost over running the family is five narrow doc_id-keyed joins;
    // a CTE engine re-pays the whole chain. The result pins MEMBERSHIP,
    // not just counts: per (split, lang) an order-insensitive id-set
    // digest — the MERGEABLE multiset digest (Hashing.multisetDigest,
    // r12: exact int128 sums of each id's md5 halves), NOT the A2
    // sorted-list hash, because the (train, en) group is corpus-sized
    // and a collect_list buffer there holds billions of ids in one
    // reduce task. The digest's combine is commutative + associative,
    // so it partial-aggregates map-side and is identical under any
    // partitioning; a single doc admitted or dropped differently
    // anywhere in the five stages still hash-mismatches. The filesystem
    // tail (shard layout + writeShards + zero-leakage audit) is
    // pipeline-shaped and pinned in SinkSpec.
    Q("q108_corpus_release",
      (s, d) => releaseCorpus(s, d)
        .groupBy("split", "lang")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_tok").as("n_tokens"),
          Hashing.multisetDigest(col("doc_id")).as("ids_hash"))
        .orderBy("split", "lang"),
      Some("WITH RECURSIVE " + TrainingOps.lshPairsCtes + ", " +
        "edges AS (SELECT ida AS u, idb AS v FROM pairs UNION SELECT idb, ida FROM pairs), " +
        "reach(u, r) AS (SELECT DISTINCT u, u FROM edges " +
        "UNION SELECT e.u, reach.r FROM edges e JOIN reach ON e.v = reach.u), " +
        "lab AS (SELECT u AS doc_id, min(r) AS cluster_id FROM reach GROUP BY u), " +
        TrainingOps.qualCte + ", " + TrainingOps.gopherCte + ", " +
        "relrk AS (SELECT lab.doc_id, " +
        "row_number() OVER (PARTITION BY cluster_id ORDER BY score DESC, lab.doc_id) AS rnk " +
        "FROM lab JOIN qual ON lab.doc_id = qual.doc_id), " +
        "reldrop AS (SELECT doc_id FROM relrk WHERE rnk > 1), " +
        "relev AS (SELECT DISTINCT h1 FROM shh WHERE doc_id % 50 = 0), " +
        "relhits AS (SELECT t.doc_id, count(DISTINCT t.h1) AS n_hits FROM shh t " +
        "JOIN relev USING (h1) WHERE t.doc_id % 50 <> 0 GROUP BY 1), " +
        "relbase AS (SELECT d.doc_id, d.lang, " +
        "CAST(len(regexp_split_to_array(trim(d.text), '[ \\t\\n\\x0B\\f\\r]+')) AS BIGINT) AS n_tok, " +
        s"${TrainingOps.oMd5Long("CAST(d.doc_id AS VARCHAR) || ':lt'")} % 1048576 AS coin " +
        "FROM documents d JOIN goph g ON d.doc_id = g.doc_id AND g.shape_pass = 1 " +
        "LEFT JOIN reldrop dr ON d.doc_id = dr.doc_id " +
        "LEFT JOIN relhits ht ON d.doc_id = ht.doc_id " +
        "WHERE d.text IS NOT NULL AND dr.doc_id IS NULL AND d.doc_id % 50 <> 0 " +
        "AND coalesce(ht.n_hits, 0) < 8), " +
        "relm AS (SELECT lang, CAST(sum(n_tok) AS BIGINT) AS mass FROM relbase GROUP BY 1), " +
        "relmm AS (SELECT min(mass) AS min_mass FROM relm), " +
        "relr AS (SELECT lang, CAST(floor(sqrt(CAST(min_mass AS DOUBLE) / mass) * 1048576.0) AS BIGINT) AS thr FROM relm, relmm), " +
        "relsp AS (SELECT b.doc_id, b.lang, b.n_tok, " +
        s"${TrainingOps.oSplitOf("b.doc_id")} AS split " +
        "FROM relbase b JOIN relr USING (lang) WHERE coin < thr) " +
        "SELECT split, lang, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens, " +
        s"${TrainingOps.oMultisetDigest("CAST(doc_id AS VARCHAR)")} AS ids_hash " +
        "FROM relsp GROUP BY 1, 2 ORDER BY 1, 2")),

    // Prototypicality pruning (X106, r13c — the D4 diversification step,
    // Tirumala et al. 2023): within every IVF cell, rank vectors by
    // cosine to the CELL CENTROID (descending — most prototypical
    // first) and report the top ⌊n/10⌋ per cell as the prune set. Where
    // q90/SemDeDup drops duplicate CLUSTERS (pairwise-similarity
    // components, keep-one), this prunes the cell's dense CORE — the
    // near-centroid mass that adds the least diversity per token — with
    // no pair enumeration at all: the operator is LINEAR in vectors.
    // Centroid trick (q90's): cosine is scale-invariant, so cosine to
    // the exact integer SUM vector equals cosine to the mean — no
    // division, both engines bit-identical. Unlike q90's driver-side
    // codebook UDF, the centroid here stays DISTRIBUTED: the mergeable
    // VectorSum aggregator builds |cells| (sum, count) rows map-side,
    // and the per-vector attach is a planner-gated |cells|-row join
    // (broadcast at any scale — the coarse quantizer caps |cells| by
    // design). ‖sum‖² is computed per centroid row in decimal(38,0)
    // (components reach 2^20·|cell|; their squares pass int64 at
    // |cell| ≈ 2^10 — the q90 overflow note, solved here in-plan
    // instead of via BigInt on the driver). The rank window partitions
    // by cell — cell-bounded, the cellPairCos contract. Dot products
    // are the checked-exact graft_dot_long codegen expression; its
    // 2^46·|cell| headroom bounds |cell| ≤ ~2^17, the documented
    // re-centering escape beyond.
    Q("q122_prototype_prune",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val vsum = udaf(graft.functions.VectorSum)
        val qv = embeddings(s, d)
          .select(col("vec_id"), col("label"),
            TrainingOps.quantize(col("embedding")).as("qv"))
        val cells = qv.groupBy("label")
          .agg(vsum(col("qv")).as("sv"), count(lit(1)).as("n_cell"))
          .withColumn("n2c", aggregate(col("sv"),
            lit(0L).cast("decimal(38,0)"),
            (a, x) => a + x.cast("decimal(38,0)") * x.cast("decimal(38,0)"))
            .cast("double"))
        qv.join(cells, Seq("label"))
          .select(col("vec_id"), col("label"), col("n_cell"),
            (TrainingOps.dotQ(col("qv"), col("sv")).cast("double") /
              (sqrt(TrainingOps.norm2Q(col("qv")).cast("double")) *
                sqrt(col("n2c")))).as("cent_cos"))
          .withColumn("rk", row_number().over(
            Window.partitionBy("label")
              .orderBy(col("cent_cos").desc, col("vec_id"))))
          .filter(col("rk") <= expr("n_cell div 10"))
          .select(col("vec_id"), col("label"), col("cent_cos"), col("n_cell"))
          .orderBy("vec_id")
      },
      Some("WITH ev AS (SELECT vec_id, label, " + TrainingOps.oQuant +
        " AS v FROM embeddings), " +
        "ee AS (SELECT vec_id, label, unnest(range(len(v))) AS pos, " +
        "unnest(v) AS x FROM ev), " +
        "n AS (SELECT vec_id, CAST(SUM(x * x) AS BIGINT) AS n2 FROM ee GROUP BY vec_id), " +
        "cs AS (SELECT label, pos, CAST(sum(x) AS BIGINT) AS sx FROM ee GROUP BY 1, 2), " +
        "ns AS (SELECT label, sum(sx * sx) AS n2s FROM cs GROUP BY 1), " +
        "cn AS (SELECT label, count(*) AS n_cell FROM ev GROUP BY 1), " +
        "dotc AS (SELECT e.vec_id, CAST(sum(e.x * cs.sx) AS BIGINT) AS dotv " +
        "FROM ee e JOIN cs ON e.label = cs.label AND e.pos = cs.pos GROUP BY 1), " +
        "cent AS (SELECT ev.vec_id, ev.label, " +
        "CAST(dotv AS DOUBLE) / (sqrt(CAST(n.n2 AS DOUBLE)) * sqrt(CAST(ns.n2s AS DOUBLE))) AS cent_cos " +
        "FROM ev JOIN dotc USING (vec_id) JOIN n ON ev.vec_id = n.vec_id " +
        "JOIN ns ON ev.label = ns.label), " +
        "rk AS (SELECT c.vec_id, c.label, c.cent_cos, cn.n_cell, " +
        "row_number() OVER (PARTITION BY c.label " +
        "ORDER BY cent_cos DESC, c.vec_id) AS rk FROM cent c JOIN cn USING (label)) " +
        "SELECT vec_id, label, cent_cos, CAST(n_cell AS BIGINT) AS n_cell " +
        "FROM rk WHERE rk <= n_cell // 10 ORDER BY vec_id"))
  )

  /** The release pipeline's document-level output — (doc_id, source,
    * lang, split, n_tok, h): the five q108 stages applied as successive
    * filters, each decided by the session's SHARED corpus-wide kernel
    * (gate features, cluster labels, contamination hits are computed
    * once for the whole corpus — the kernel-sharing contract — and
    * applied to the pipeline's survivor set). q108 aggregates this frame
    * into the release manifest; [[graft.sink.Sink.writeShards]] consumes
    * it for the filesystem tail (SinkSpec). Exact-duplicate leakage
    * across splits is ZERO by construction: the gate's 50-word floor
    * guarantees shingles, identical texts therefore share an LSH
    * cluster, and keep-best retains exactly one member per cluster —
    * SinkSpec asserts it on the materialized release.
    *
    * Scale: the survivor frame transient-persists CARRYING only fixed-
    * width columns + the 16-byte content hash; masses are a |langs|-row
    * partial agg broadcast back (the q104 shape); every stage join is
    * doc_id-keyed and planner-gated (drop/hit sides are dup- and
    * contamination-sized but unbounded in principle — no broadcast
    * hints).
    */
  private[graft] def releaseCorpus(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // the gate is gopherFeatures' shape_pass — the LANGUAGE-AGNOSTIC
    // rule set; the 8-stopword conjunct is deliberately omitted (an
    // English-only list: this release spans en/es/de, where gating
    // every language on English function words would be a bug, not a
    // filter — q100's `passes` still publishes it as the audit signal).
    // The gate carries n_words out as the release's token count — same
    // words() tokenizer, so re-tokenizing the corpus for n_tok would be
    // a second identical pass.
    val gate = TrainingOps.gopherFeatures(s, d)
      .filter(col("shape_pass") === 1)
      .select(col("doc_id"), col("n_words").as("n_tok"))
    val nonRep = keepBestRanks(s, d).filter(col("rnk") > 1).select("doc_id")
    val hits = TrainingOps.contaminationHits(s, d)
    val base = graft.util.Caches.transientPersist(
      documents(s, d).filter(col("text").isNotNull)
        .select(col("doc_id"), col("source"), col("lang"),
          Hashing.simpleHash(col("text")).as("h"))
        .join(gate, "doc_id")
        .join(nonRep, Seq("doc_id"), "left_anti")
        .filter(col("doc_id") % 50 =!= 0)
        .join(hits, Seq("doc_id"), "left")
        .filter(coalesce(col("n_hits"), lit(0L)) < 8)
        .drop("n_hits")
        .withColumn("coin", pmod(Hashing.md5Long(
          concat(col("doc_id").cast("string"), lit(":lt"))), lit(1048576L))))
    val mass = base.groupBy("lang").agg(sum("n_tok").as("mass"))
    val rated = mass
      .crossJoin(broadcast(mass.agg(min("mass").as("min_mass"))))
      .withColumn("thr",
        floor(sqrt(col("min_mass").cast("double") / col("mass")) * lit(1048576.0)))
      .select("lang", "thr")
    base.join(broadcast(rated), "lang")
      .filter(col("coin") < col("thr"))
      .withColumn("split", TrainingOps.splitOf(col("doc_id")))
      .select("doc_id", "source", "lang", "split", "n_tok", "h")
  }
}
