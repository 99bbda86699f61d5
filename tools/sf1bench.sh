#!/bin/bash
# Per-round bench at the SYNTHETIC sf1 decade (VERDICT r10 next #5).
#
# At sf0.1 roughly half the registry sits on the sub-second JVM/parquet
# floor where plan regressions are invisible; this runs the most
# expensive slice of the registry one decade up (tools/mksfx.py x10 of
# sf0.1, ~60M lineitem-equivalent rows) so regressions surface while
# still fitting a single background run. The artifact family is
# BENCH_SF1_r{N}.json (SPARK_GRAFT_PREV_PREFIX), with its full-precision
# twin BENCH_full_SF1_r{N}.json; it is compared only with its own
# like-scale history — never with the sf0.1 family.
#
# Usage: tools/sf1bench.sh <round-number>   (writes BENCH_SF1_r<N>.json)
set -euo pipefail
cd "$(dirname "$0")/.."
ROUND="${1:?usage: sf1bench.sh <round-number>}"

SF1=tmp/sf1
if [ ! -e "$SF1/lineitem.parquet" ]; then
  echo "[sf1bench] synthesizing $SF1 from /root/testdata/sf0.1" >&2
  python3 tools/mksfx.py /root/testdata/sf0.1 "$SF1" 10
fi

# The top-25 most expensive registry queries at the sf1 decade, by
# SCALE_r10.json step-2 large_sec (the first like-scale measurement),
# plus the round-11 capstone tail pipe_all_budget (a superset of
# pipe_all's plan, necessarily in the expensive slice). Pinned rather
# than computed so every round times the SAME set and deltas are
# meaningful; revise the list deliberately (with a note in README) if
# the cost profile shifts.
ONLY=pipe_all,pipe_all_budget,mm_neardup,pipe_media,mm_resize,mm_ivf
ONLY=$ONLY,ml_lda_topics,ml_pagerank,op_approx_quantiles,txt_subwords
ONLY=$ONLY,op_skew_join,st_curate,txt_pii,op_quantiles,pipe_curate
ONLY=$ONLY,dd_cosine_pairs,dd_clusters,txt_quantile_filter,dd_ngram_pairs
ONLY=$ONLY,dd_cross_indexed,dd_span_strip,dd_keep_list,st_sessions
ONLY=$ONLY,dd_topk_jaccard,txt_doc_filter,st_sliding
# round-11 list revision (the family's first round, so the set is being
# finalized rather than changed): the two new standing-index ANN
# queries that land in the expensive slice at sf0.1 (3.3-5.0 s)
ONLY=$ONLY,sim_ivfpq_indexed,st_ivfpq_append
# round-12 list revision: the LM-gated capstone — a superset of
# pipe_all_budget's plan (adds the LM-score joins + quantile gate), so
# it lands in the expensive slice by construction
ONLY=$ONLY,pipe_lm_budget
# round-13 list revision: the STREAMING LM-gated capstone (16 s at sf1
# when added — standing-state build + two streaming jobs dominate)
ONLY=$ONLY,st_pipe_lm_budget
# round-14 list revision: the streaming CCNet sampling capstone — the
# same standing-state + two-streaming-jobs shape as st_pipe_lm_budget,
# so it lands in the expensive slice by construction
ONLY=$ONLY,st_pipe_quality_mix
# round-15 list revision: the semantic-lifecycle query (build + stream
# append + re-sized rebuild + probe — 4.3 s at sf0.1, the expensive
# slice by measurement)
ONLY=$ONLY,st_sem_lifecycle
# round-16 list revision (VERDICT r15 next #6): the self-growing ingest
# near-dup — the 1-scan kernel's standing-IO claim is exactly the kind
# of property that only shows at the decade (2.3 s at sf0.1, scaling
# 1.32x/decade in SCALE_r15)
ONLY=$ONLY,st_ingest_neardup
# round-17 list revision: the streaming IVF-PQ live-index search
# (VERDICT r16 next #2) — build + two-generation probe stream with a
# mid-stream append, 5.4 s at sf0.1, the expensive slice by
# measurement
ONLY=$ONLY,st_ivfpq_live
# round-21 list revision (VERDICT r20 next #1): dd_exact — not in the
# expensive slice by WALL, but its r21 rework (group on the md5
# fingerprint instead of the full text) is a pure shuffle-BYTE
# optimization whose payoff the sf0.1 family can't register
ONLY=$ONLY,dd_exact

OUT="BENCH_SF1_r${ROUND}.json"
LOG="target/sf1bench_r${ROUND}.log"
mkdir -p target
SPARK_GRAFT_SF_DIR="$SF1" \
SPARK_GRAFT_ONLY="$ONLY" \
SPARK_GRAFT_PREV_PREFIX=BENCH_SF1_r \
SPARK_GRAFT_ROUND="$ROUND" \
  sbt -batch "runMain graft.Bench" > "$LOG" 2>&1 || {
    echo "[sf1bench] sbt failed; tail of $LOG:" >&2; tail -20 "$LOG" >&2; exit 1; }
# The bench prints TWO JSON lines starting {"metric":"total": first the
# full per-query line, then a driver-oriented top-10 summary. The FULL
# line (head -1) is this family's artifact (the SF1 set must carry
# every pinned query). `|| true`: under pipefail a lineless log would
# otherwise kill the script at the grep, AFTER the redirection truncated
# $OUT — leaving an empty highest-numbered artifact behind. Let the
# guard below do the failing.
grep -h '^{"metric":"total"' "$LOG" | head -1 > "$OUT" || true
[ -s "$OUT" ] || { rm -f "$OUT"; echo "[sf1bench] no bench line found in $LOG" >&2; exit 1; }
echo "[sf1bench] wrote $OUT" >&2
