#!/bin/bash
# Artifact refresh for one round: run everything sequentially on a quiet
# machine. Usage: tools/refresh_artifacts.sh ROUND   (e.g. 16 -> *_r16.*)
# Each step logs to /tmp/rROUND_refresh.log; failures don't stop later steps.
r=${1:?usage: $0 ROUND}
cd "$(dirname "$0")/.." || exit 1
log=/tmp/r${r}_refresh.log
echo "=== refresh start $(date) ===" > $log

step() { echo "--- $1 $(date +%H:%M:%S) ---" >> $log; }

step correctness_sf001
python tools/check_correctness.py > CORRECTNESS_LOCAL_r${r}.txt 2>/dev/null
tail -1 CORRECTNESS_LOCAL_r${r}.txt >> $log

step correctness_retry
# TENTH invariance axis (new in r13): real task failures + scheduler retries
# injected into every scan (local[N,4] + first-attempt faults on even
# partitions) — results must hash-MATCH the clean run.
SPARK_GRAFT_RETRY=1 python tools/check_correctness.py > CORRECTNESS_LOCAL_r${r}_retry.txt 2>/dev/null
tail -1 CORRECTNESS_LOCAL_r${r}_retry.txt >> $log

step correctness_aqe0
SPARK_GRAFT_AQE=0 python tools/check_correctness.py > CORRECTNESS_LOCAL_r${r}_aqe0.txt 2>/dev/null
tail -1 CORRECTNESS_LOCAL_r${r}_aqe0.txt >> $log

step plan_audit
python tools/plan_audit.py > /dev/null 2>&1
wc -l PLAN_AUDIT.txt >> $log
grep -c " ok " PLAN_AUDIT.txt >> $log 2>&1 || true

step scaling_suite
python tools/scaling_probe.py 1 4 16 >> $log 2>/dev/null

step bench_min3
SPARK_GRAFT_BENCH_REPS=3 SPARK_GRAFT_BENCH_OUT=BENCH_LOCAL_r${r}.json python bench.py >> $log 2>/dev/null
cp BENCH_LOCAL_r${r}.json BENCH_LOCAL_latest.json

step correctness_sf01
SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 python tools/check_correctness.py > CORRECTNESS_LOCAL_r${r}_sf01.txt 2>/dev/null
tail -1 CORRECTNESS_LOCAL_r${r}_sf01.txt >> $log

step correctness_sf0001
SPARK_GRAFT_SF_DIR=/root/testdata/sf0.001 python tools/check_correctness.py > CORRECTNESS_LOCAL_r${r}_sf0001.txt 2>/dev/null
tail -1 CORRECTNESS_LOCAL_r${r}_sf0001.txt >> $log

step correctness_p7
SPARK_SHUFFLE_PARTITIONS=7 python tools/check_correctness.py > CORRECTNESS_LOCAL_r${r}_p7.txt 2>/dev/null
tail -1 CORRECTNESS_LOCAL_r${r}_p7.txt >> $log

step correctness_codegen0
SPARK_GRAFT_CODEGEN=0 python tools/check_correctness.py > CORRECTNESS_LOCAL_r${r}_codegen0.txt 2>/dev/null
tail -1 CORRECTNESS_LOCAL_r${r}_codegen0.txt >> $log

step correctness_split1mb
SPARK_GRAFT_SPLIT_MB=1 python tools/check_correctness.py > CORRECTNESS_LOCAL_r${r}_split1mb.txt 2>/dev/null
tail -1 CORRECTNESS_LOCAL_r${r}_split1mb.txt >> $log

step correctness_recovery
SPARK_GRAFT_STREAM_RECOVERY=1 python tools/check_correctness.py > CORRECTNESS_LOCAL_r${r}_recovery.txt 2>/dev/null
tail -1 CORRECTNESS_LOCAL_r${r}_recovery.txt >> $log

step correctness_spill
SPARK_GRAFT_SPILL=1 python tools/check_correctness.py > CORRECTNESS_LOCAL_r${r}_spill.txt 2>/dev/null
tail -1 CORRECTNESS_LOCAL_r${r}_spill.txt >> $log

step pytest
python -m pytest tests/ -q 2>&1 | tail -3 >> $log

echo "=== refresh done $(date) ===" >> $log
