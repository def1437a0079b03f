#!/bin/bash
# Interleaved fresh-JVM A/B of two checkouts. Usage:
#   tools/ab_bench.sh <dirA> <dirB> [pairs] [out.jsonl] [workload] [seed_base]
# Without a workload, each side runs `python bench.py <control>` on the
# FIXED 30-query control list (the only valid cross-round comparator of
# the registry queries — see BENCH_DRIFT_NOTE.md); a line carries
# total_s. With a perfbench workload (esb_channel, audit_search), each
# side runs
#   python3 perfbench/run.py --workload W --seed <seed_base+i> --seconds 5 --trace 0
# so both sides of pair i share seed seed_base+i (default base 1000); a
# line carries the end-to-end metrics setup_s, throughput and
# main_p50_s, and for esb_channel the number of timed batches. Every
# side runs from its own checkout in a fresh JVM, and the first side
# alternates per pair (A B, B A, ...) so host drift hits both equally.
# Every line also records the host's core count (`nproc`, unset
# OMP_NUM_THREADS) and SPARK_GRAFT_CPUS (null when unset), so a number
# is only compared with numbers taken at the same core count.
set -eu
A_DIR=$1; B_DIR=$2; PAIRS=${3:-4}; OUT=${4:-/tmp/ab_bench.jsonl}
WORKLOAD=${5:-}; SEED_BASE=${6:-1000}
NPROC=$(env -u OMP_NUM_THREADS nproc); CPUS=${SPARK_GRAFT_CPUS:-null}
CONTROL="pricing_summary shipping_priority local_supplier_volume
top_orders_per_priority order_priority_check returned_items_report
customer_order_distribution nation_market_share two_nation_volume
large_quantity_orders promo_revenue_pct disjunctive_predicate_revenue
rollup_revenue pivot_event_values sessionize_events
asof_last_view_before_purchase hourly_event_rollup route_outcomes
worst_substate_agg search_text_window dedup_exact_keep_first
minhash_near_dup_pairs ngram_jaccard_pairs simhash_sketch
embedding_cosine_topk lsh_ann_topk text_language_id text_quality_score
token_counts doc_fingerprint"

run_side() {  # <side> <dir> <pair>
  local side=$1 dir=$2 i=$3
  if [ -z "$WORKLOAD" ]; then
    total=$(cd "$dir" && python bench.py $CONTROL 2>/dev/null | tail -1 \
      | python -c "import json,sys; print(json.load(sys.stdin)['value'])")
    echo "{\"run\": \"$side$i\", \"dir\": \"$dir\", \"total_s\": $total," \
      "\"nproc\": $NPROC, \"spark_graft_cpus\": $CPUS}"
    return
  fi
  local seed=$((SEED_BASE + i))
  (cd "$dir" && python3 perfbench/run.py --workload "$WORKLOAD" \
      --seed "$seed" --seconds 5 --trace 0 2>/dev/null | tail -1) \
    | python3 -c '
import json, os, sys
side, d, w, seed, nproc, cpus = sys.argv[1:]
res = json.load(sys.stdin)
line = {"run": side, "dir": d, "workload": w, "seed": int(seed),
        "nproc": int(nproc), "spark_graft_cpus": json.loads(cpus),
        "correct": res["correct"], "failed": res["failed"]}
line.update({k: v["value"] for k, v in res["metrics"].items()})
if w == "esb_channel":
    path = os.path.join(d, ".perfbench", "results",
                        f"{w}-seed{seed}-trace0.json")
    with open(path) as fh:
        line["batches"] = json.load(fh)["detail"]["batches"]
print(json.dumps(line))
' "$side$i" "$dir" "$WORKLOAD" "$seed" "$NPROC" "$CPUS"
}

: > "$OUT"
for i in $(seq 1 "$PAIRS"); do
  order="A B"
  if [ $((i % 2)) -eq 0 ]; then order="B A"; fi
  for side in $order; do
    dir=$A_DIR
    if [ "$side" = B ]; then dir=$B_DIR; fi
    run_side "$side" "$dir" "$i" | tee -a "$OUT"
  done
done
