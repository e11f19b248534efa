"""Summaries over several benchmark runs.

    python3 perfbench/report.py spread --workload es_publish --seeds 1-10
    python3 perfbench/report.py layers --seed 1 [--out perfbench/results/layers.json]

``spread`` runs the untraced benchmark once per seed and prints, for every
end-to-end metric, the median, the quartiles and the interquartile range as
a share of the median next to the metric's bound in BENCHMARK.json.

``layers`` runs every workload untraced and traced on one seed and prints the
per-layer table, the traced pass split into construction, eager pin builds,
job time and remainder, and the tracing overhead (traced minus untraced
``pass_s``).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def bench_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def run_once(workload: str, seed: int, trace: int, seconds: int) -> dict:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
    ]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"{' '.join(cmd)} exited {proc.returncode}:\n{proc.stderr[-2000:]}")
    return json.loads(lines[-1])


def parse_seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def spread(args) -> None:
    spec = bench_spec()
    values: dict[str, list[float]] = {m["name"]: [] for m in spec["end_to_end"]}
    for seed in parse_seeds(args.seeds):
        res = run_once(args.workload, seed, 0, spec["run_seconds"])
        print(f"seed {seed}: correct={res['correct']} failed={res['failed']}/{res['attempted']} "
              + " ".join(f"{k}={v['value']:.4f}" for k, v in res["metrics"].items()),
              flush=True)
        for k, v in res["metrics"].items():
            values[k].append(v["value"])
    print(f"{'metric':16s} {'median':>12s} {'q1':>12s} {'q3':>12s} {'iqr/med':>8s} bound")
    for m in spec["end_to_end"]:
        vs = values[m["name"]]
        q1, med, q3 = statistics.quantiles(vs, n=4)
        print(f"{m['name']:16s} {med:12.4f} {q1:12.4f} {q3:12.4f} "
              f"{(q3 - q1) / med:8.4f} {m['bound']}")


def layers(args) -> None:
    spec = bench_spec()
    report = {}
    for w in [x["name"] for x in spec["workloads"]]:
        plain = run_once(w, args.seed, 0, spec["run_seconds"])
        traced = run_once(w, args.seed, 1, spec["run_seconds"])
        m = {k: v["value"] for k, v in traced["metrics"].items()}
        plain_s = plain["metrics"]["pass_s"]["value"]
        report[w] = {
            "seed": args.seed,
            "end_to_end": plain["metrics"],
            "tracing_overhead_s": m["trace.pass_s"] - plain_s,
            "per_layer": traced["metrics"],
        }
        print(f"\n== {w} (seed {args.seed}) untraced pass_s {plain_s:.3f} s, "
              f"traced {m['trace.pass_s']:.3f} s, tracing overhead "
              f"{m['trace.pass_s'] - plain_s:+.3f} s")
        print(f"   traced pass = construct {m['pipelines.construct_s']:.3f} + eager pin builds "
              f"{m['session_cache.eager_build_s']:.3f} + job time {m['exec.action_s']:.3f} "
              f"+ remainder {m['trace.remainder_s']:.3f} s")
        for k, v in traced["metrics"].items():
            print(f"   {k:30s} {v['value']:14.4f} {v['unit']}")
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(report, fh, indent=1, sort_keys=True)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    sp = sub.add_parser("spread")
    sp.add_argument("--workload", required=True)
    sp.add_argument("--seeds", default="1-10")
    lp = sub.add_parser("layers")
    lp.add_argument("--seed", type=int, default=1)
    lp.add_argument("--out")
    args = ap.parse_args()
    spread(args) if args.cmd == "spread" else layers(args)


if __name__ == "__main__":
    main()
