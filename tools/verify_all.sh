#!/usr/bin/env bash
# Full verification cycle, exactly what a release should pass:
#   1. unit/integration suite
#   2. DuckDB oracle sweep at the correctness-gate scale (sf0.01)
#   3. the same sweep at 10x (sf0.1) — scale-dependent divergence check
#   4. the same sweep under a perverse partitioning (7 shuffle partitions,
#      AQE off) — partition-count invariance, i.e. cluster-layout
#      determinism
#   5. the same sweep on 2 cores — task-serialization / low-parallelism
#      invariance
#   6. plan audit (unexpected nested-loop joins fail it) + PLANS.md regen
#   7. benchmark: one JSON line of raw best-of-N timings plus sentinel
#      samples; per-query status-store counters in BENCH_DETAIL.json.
#      Gain claims go through perfbench/run.py's paired runs instead.
#   8. (opt-in: SPARK_GRAFT_TRANSPORT=1) the sf0.01 sweep under
#      local-cluster[2,8,8192] — a real multi-JVM serializer/network
#      boundary. Catches JVM/Python-sharing assumptions (e.g. a pandas
#      UDF relying on driver-local state) that every local[N] leg shares
#      by construction (r13 verdict item 5: the r13 transport sweep was
#      ad hoc; this makes the axis a recurring stage). Off by default —
#      it adds ~10-15 min of executor-JVM startup + serialization; run
#      it at least every other round and after any pandas-UDF /
#      serialization-adjacent change.
# Runs serially on purpose: concurrent Spark sessions contend for the same
# cores and poison the timings. ~35-45 min on local[32] (+transport leg).
set -euo pipefail
cd "$(dirname "$0")/.."

TRANSPORT="${SPARK_GRAFT_TRANSPORT:-0}"
N=7
if [ "$TRANSPORT" = "1" ]; then N=8; fi

echo "=== 1/$N pytest ==="
python -m pytest tests/ -q

echo "=== 2/$N oracle sweep sf0.01 ==="
python tools/check_oracles.py /root/testdata/sf0.01

echo "=== 3/$N oracle sweep sf0.1 ==="
python tools/check_oracles.py /root/testdata/sf0.1

echo "=== 4/$N partition-invariance sweep (7 partitions, AQE off) ==="
SPARK_GRAFT_SHUFFLE_PARTITIONS=7 SPARK_GRAFT_AQE=false \
    python tools/check_oracles.py /root/testdata/sf0.01

echo "=== 5/$N low-parallelism sweep (2 cores) ==="
# a 2-core layout catches task-serialization assumptions (e.g. an
# operator that only works because 32 tasks run at once) that the
# 7-partition/32-core probe cannot
SPARK_GRAFT_CPUS=2 SPARK_GRAFT_SHUFFLE_PARTITIONS=4 \
    python tools/check_oracles.py /root/testdata/sf0.01

echo "=== 6/$N plan audit + fingerprint gate ==="
# sf0.01 = the correctness-gate scale and the provenance of the committed
# PLANS.md (the sf0.001 default can flip a join strategy on tiny stats and
# churn the committed file). NO --write: this is the plan-shape regression
# gate — it FAILS if any fingerprint drifted from the committed PLANS.md.
# An intentional plan change is accepted by regenerating first:
#   python tools/plan_audit.py /root/testdata/sf0.01 --write   # + commit
python tools/plan_audit.py /root/testdata/sf0.01

echo "=== 7/$N bench ==="
python bench.py

if [ "$TRANSPORT" = "1" ]; then
    echo "=== 8/$N transport-invariance sweep (local-cluster[2,8,8192]) ==="
    SPARK_GRAFT_MASTER='local-cluster[2,8,8192]' \
        python tools/check_oracles.py /root/testdata/sf0.01
fi

echo "ALL VERIFICATION STAGES PASSED"
