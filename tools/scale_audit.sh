#!/bin/bash
# The 10x/100x scale-tier measurement battery (BASELINE.md's slope
# tables). Methodology notes that the numbers depend on:
#
#  - SUBSETS, not one big family run: within a ScaleCheck pass the
#    shared kernels (Caches.sharedIndex) survive across queries, so a
#    query's cost is MARGINAL over whatever ran before it in registry
#    order. Small fixed subsets make the accounting explicit (the first
#    query pays the kernels it names) and keep the cached-kernel
#    footprint inside the heap at sf10. The r12 9-query single-JVM run
#    at default heap measured q108 2x slower than the same code in its
#    2-query subset — GC pressure from nine sf10 kernels resident at
#    once, not plan cost.
#  - HEAP pinned like the r11 runs: 48g at sf1, 64g at sf10 (default
#    ~32g thrashes at sf10).
#  - shuffle partitions are DERIVED from the corpus (graft.util.Tuning),
#    per scale and per query class; AQE stays off.
#  - quiet window: never run sbt/tests concurrently; check loadavg
#    before trusting a number.
#
# Usage: tools/scale_audit.sh [outLog]
set -u
cd "$(dirname "$0")/.."
CP="target/scala-2.13/classes:$(ls /opt/spark/jars/*.jar | tr '\n' ':')"
LOG=${1:-/tmp/scale_audit.log}
exec > "$LOG" 2>&1

run() { # $1=subset $2=outdir $3=factor $4=heap
  echo "=== $1 @ ${3}x $(date +%T) load $(cut -d' ' -f1 /proc/loadavg)"
  SPARK_GRAFT_SCALE_REFIT=true SPARK_GRAFT_SCALE_ONLY=$1 \
    java -Xmx$4 -cp "$CP" graft.ScaleCheck /root/testdata/sf0.1 $2 $3 2 2>&1 \
    | grep -E "scale_slope"
  sleep 10
}

# heavy dedup/ANN kernels (the r11 tier)
run q29_lsh_neardup,q31_ngram_jaccard,q33_ivf_neardup,q51_dedup_clusters /tmp/graft-sf10r 100 64g
run q80_substring_runs,q85_knn_graph,q86_lm_score,q95_incremental_dedup /tmp/graft-sf10r 100 64g
# audit family (the r12 tier)
run q96_source_overlap,q97_dsir_weights,q99_minhash_error /tmp/graft-sf1r 10 48g
run q96_source_overlap,q97_dsir_weights,q99_minhash_error /tmp/graft-sf10r 100 64g
run q102_expectations,q107_split_leakage /tmp/graft-sf1r 10 48g
run q102_expectations,q107_split_leakage /tmp/graft-sf10r 100 64g
run q108_corpus_release,q109_memorization_ngrams /tmp/graft-sf1r 10 48g
run q108_corpus_release,q109_memorization_ngrams /tmp/graft-sf10r 100 64g
run q110_neardup_split_leakage,q111_contamination_pairs /tmp/graft-sf1r 10 48g
run q110_neardup_split_leakage,q111_contamination_pairs /tmp/graft-sf10r 100 64g
# r15: the sketch overlap (per-source state O(k) — the slope prices the
# one postings exchange feeding the signature aggregate) and the
# takedown impact page in MARGINAL position after the three pair
# kernels it composes (q29 lexical, q33 semantic, q125 media)
run q132_source_overlap_sketch /tmp/graft-sf1r 10 48g
run q132_source_overlap_sketch /tmp/graft-sf10r 100 64g
# r16: the fine-grained-provenance face (banded pair stage off the same
# signature aggregate — slope prices the exploded-signature exchange +
# the co-occurrence-bounded candidate join)
run q134_source_overlap_fine /tmp/graft-sf1r 10 48g
run q134_source_overlap_fine /tmp/graft-sf10r 100 64g
# r17: the shard-takedown plan (one map pass, 8-group O(1)-buffer agg —
# should track the raw corpus scan)
run q135_shard_takedown_plan /tmp/graft-sf1r 10 48g
run q135_shard_takedown_plan /tmp/graft-sf10r 100 64g
# r18: the manifest-sidecar face (q89's plan shape over kept rows)
run q136_shard_manifest_post /tmp/graft-sf1r 10 48g
run q136_shard_manifest_post /tmp/graft-sf10r 100 64g
run q29_lsh_neardup,q33_ivf_neardup,q125_media_neardup,q133_takedown_report /tmp/graft-sf1r 10 48g
run q29_lsh_neardup,q33_ivf_neardup,q125_media_neardup,q133_takedown_report /tmp/graft-sf10r 100 64g
# r12b: span decontamination (q114 rides q112's shared kernel — its row
# is the MARGINAL cost) and the per-source caps
run q112_decontaminate_spans,q114_mask_apply /tmp/graft-sf1r 10 48g
run q112_decontaminate_spans,q114_mask_apply /tmp/graft-sf10r 100 64g
run q113_source_caps /tmp/graft-sf1r 10 48g
run q113_source_caps /tmp/graft-sf10r 100 64g
# r13b: the semantic decontamination tier — q115 pays the cell-pair
# kernel (its marginal over q33's family is a cache filter), q116 adds
# the lexical pair kernel, q117 adds the shingle/posngrams kernels; the
# subset accounting mirrors the in-family cost order
run q115_semantic_contamination,q116_dedup_tier_agreement,q117_decontam_decision /tmp/graft-sf1r 10 48g
run q115_semantic_contamination,q116_dedup_tier_agreement,q117_decontam_decision /tmp/graft-sf10r 100 64g
run q118_incremental_semantic /tmp/graft-sf1r 10 48g
run q118_incremental_semantic /tmp/graft-sf10r 100 64g
# r13: the ANN recall audit's exact tier is linear now that the probe
# panel is FIXED-SIZE (TrainingOps.ProbePanelSize) — the r10 exclusion is
# lifted; q106 rides the same panel
run q98_ann_recall,q106_hard_negatives /tmp/graft-sf1r 10 48g
run q98_ann_recall,q106_hard_negatives /tmp/graft-sf10r 100 64g
# The index-seam arms (standalone audits riding a persisted fingerprint
# or vector index instead of rebuilding the session kernel) are recorded
# in BASELINE.md r13/r14 and are not part of this battery: ScaleCheck
# times every query at BOTH scales, and a seam names one corpus's index.
# Build the indexes with `graft.Cli fingerprint <sfDir> <idxDir>` and
# `graft.Cli vecindex <sfDir> <idxDir>`.
echo "=== scale_audit done $(date +%T) load $(cut -d' ' -f1 /proc/loadavg)"
