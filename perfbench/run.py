"""Cold-pin workload benchmark for srm_etl_spark.

Usage (from the repository root):

    python3 perfbench/run.py --workload etl_refresh --seed 1 --seconds 12 --trace 0

One run is one fresh process:

1. generate the warehouse tables from ``--seed`` (``perfbench/datagen.py``)
   under ``.perfbench/`` in the working directory;
2. set up: import the engine, start the session with the host shape fixed
   below, and read every table footer (``setup_s``);
3. run one warm-up pass, then closed-loop measured passes until
   ``--seconds`` have passed after it (at least two). Every pass starts with
   ``release_all(spark)``, so it pays every pin build a scheduled refresh
   pays. Outputs are checked after each pass (``perfbench/workloads.py``);
4. print a table of every metric and, as the last line, one JSON object
   ``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
   the end-to-end metrics; ``--trace 1`` records spans, py4j calls and the
   Spark event log and reports the per-layer metrics (``perfbench/tracing.py``).

Host shape, set only through variables the engine already reads:
``SPARK_GRAFT_CPUS`` = usable cores, ``SPARK_DRIVER_MEMORY`` = a quarter of
physical memory (2-8 GiB), ``SPARK_LOCAL_DIRS`` under the run directory.
Every pass is recorded (wall seconds, co-tenant steal %, loadavg, JVM RSS)
in ``.perfbench/out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
if HERE not in sys.path:
    sys.path.insert(0, HERE)

import datagen  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402

# workload -> (scale of the TPC-like tables, documents and embeddings).
# etl_refresh and es_publish are bound by plan construction and pin builds,
# which barely change with data size; es_publish runs at the smallest scale
# because its certifying oracle (q161 in DuckDB) grows steeply with it.
# corpus_dedup reads only the corpus tables.
WORKLOADS = {
    "etl_refresh": (0.01, 1000),
    "es_publish": (0.001, 1000),
    "corpus_dedup": (0.001, 1000),
}
# program settings that change plans or results: a run never inherits them
_CLEARED_ENV = [
    "SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_SPILL", "SPARK_GRAFT_AQE",
    "SPARK_GRAFT_CODEGEN", "SPARK_GRAFT_SPLIT_MB", "SPARK_GRAFT_RETRY",
    "SPARK_GRAFT_STREAM_RECOVERY", "SPARK_GRAFT_RELIABLE_CKPT_DIR",
    "SPARK_GRAFT_SCRATCH_SHM_CAP", "SPARK_SHUFFLE_PARTITIONS",
]


def host_shape(run_dir: str) -> dict:
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        total_kb = int(next(line for line in fh if line.startswith("MemTotal")).split()[1])
    mem_gb = max(2, min(8, total_kb // (4 << 20)))
    return {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEMORY": f"{mem_gb}g",
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
    }


def _status_kb(pid: int, field: str) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith(field + ":"):
                return int(line.split()[1])
    return 0


class Context:
    """What a workload pass needs: the session, the tables and the oracle."""

    def __init__(self, spark, sf_dir: str, run_dir: str):
        self.spark, self.sf_dir, self.run_dir = spark, sf_dir, run_dir
        self.oracle = None


def run(args) -> dict:
    run_dir = os.path.join(
        ROOT, ".perfbench", f"run-{args.workload}-{args.seed}-{os.getpid()}"
    )
    out_dir = os.path.join(ROOT, ".perfbench", "out")
    os.makedirs(out_dir, exist_ok=True)
    try:
        return _run(args, run_dir, out_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _run(args, run_dir: str, out_dir: str) -> dict:
    data_dir = datagen.generate(
        os.path.join(run_dir, "data"), args.seed, args.sf, args.docs, args.docs
    )
    shape = host_shape(run_dir)
    for k in _CLEARED_ENV:
        os.environ.pop(k, None)
    os.environ.update(shape)
    os.environ["SPARK_GRAFT_SCRATCH_DIR"] = os.path.join(run_dir, "scratch")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    tmp = os.path.join(run_dir, "tmp")
    for d in (shape["SPARK_LOCAL_DIRS"], os.environ["SPARK_GRAFT_SCRATCH_DIR"], tmp):
        os.makedirs(d)
    os.environ["TMPDIR"] = tmp
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
    }
    event_dir = os.path.join(run_dir, "eventlog")
    if args.trace:
        os.makedirs(event_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_dir,
            "spark.eventLog.compress": "false",
        })
    tracer = tracing.Tracer(enabled=bool(args.trace))

    # -- set-up: engine import, session, table footers ----------------------
    t0 = time.perf_counter()
    sys.path.insert(0, ROOT)
    import srm_etl_spark.plans  # noqa: F401, PLC0415
    from srm_etl_spark.operators.session_cache import release_all  # noqa: PLC0415
    from srm_etl_spark.session import get_spark  # noqa: PLC0415
    from srm_etl_spark.sources.tables import load_table  # noqa: PLC0415

    with tracer.span("session.get_spark") as get_spark_span:
        spark = get_spark("perfbench", extra_conf=conf)
    jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
    ctx = Context(spark, data_dir, run_dir)
    wl = workloads.make(args.workload)
    passes = []
    try:
        spark.sparkContext.setLogLevel("ERROR")
        for t in workloads.TABLES:
            load_table(spark, data_dir, t).schema  # noqa: B018 — reads the footer
        setup_s = time.perf_counter() - t0
        ctx.oracle = workloads.Oracle(data_dir, int(shape["SPARK_GRAFT_CPUS"]))
        tracer.install()
        # pass 0 warms the JVM and is certified against the oracle; the
        # measured passes follow until --seconds have elapsed, at least two:
        # passes still speed up as the JIT warms, so a run whose pass count
        # depended on timing alone would shift pass_s with that count
        while len(passes) < 3 or time.perf_counter() - start < args.seconds:
            tracer.pass_id = len(passes)
            passes.append(_one_pass(ctx, wl, tracer, jvm_pid, release_all))
            if len(passes) == 1:
                start = time.perf_counter()
    finally:
        tracer.uninstall()
        if ctx.oracle is not None:
            ctx.oracle.close()
        stop_session(spark)

    measured = passes[1:]
    attempted = sum(p["attempted"] for p in passes)
    failed = sum(p["failed"] for p in passes)
    metrics = {
        "setup_s": (setup_s, "s"),
        "pass_s": (statistics.median(p["wall_s"] for p in measured), "s"),
    }
    # printed and recorded, not bounded: too noisy across runs (see README)
    extra = {
        "first_pass_s": (passes[0]["wall_s"], "s"),
        "rows_per_s": (statistics.median(p["rows"] / p["wall_s"] for p in measured), "1/s"),
        "peak_rss_mb": (passes[0]["peak_rss_mb"], "MB"),
        "failed_frac": (failed / attempted, "ratio"),
    }
    layers, first_layers = {}, {}
    if args.trace:
        log = tracing.read_event_log(event_dir)
        cores = int(shape["SPARK_GRAFT_CPUS"])
        per_pass = [
            {
                **tracing.layer_metrics(tracer.spans, log, p["pass"], cores),
                "sinks.docs": (p.get("docs", 0), "count"),
                "sinks.spool_mb": (p.get("spool_mb", 0.0), "MB"),
            }
            for p in passes
        ]
        first_layers = {k: v for k, (v, _u) in per_pass[0].items()}
        layers = {
            k: (statistics.median(m[k][0] for m in per_pass[1:]), u)
            for k, (_v, u) in per_pass[0].items()
        }
        layers["session.get_spark_s"] = (
            get_spark_span["end"] - get_spark_span["start"], "s"
        )
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "scale": {"sf": args.sf, "documents": args.docs, "embeddings": args.docs},
        "host_shape": shape,
        "metrics": {k: v[0] for k, v in {**metrics, **extra, **layers}.items()},
        "first_pass_layers": first_layers,
        "passes": passes,
        "spans": tracer.spans,
    }
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(out_dir, name), "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    print_table(args, shape, passes, {} if args.trace else metrics, extra, layers)
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            k: {"value": v, "unit": u}
            for k, (v, u) in (layers if args.trace else metrics).items()
        },
    }


def _one_pass(ctx, wl, tracer, jvm_pid: int, release_all) -> dict:
    """Time one pass from ``release_all`` to its last action, then check it."""
    from srm_etl_spark.hostload import loadavg1, steal_total  # noqa: PLC0415

    load1 = loadavg1()
    s0, j0 = steal_total()
    with tracer.span("pass"):
        p0 = time.perf_counter()
        release_all(ctx.spark)
        res = wl.run_pass(ctx, tracer)
        wall = time.perf_counter() - p0
    s1, j1 = steal_total()
    # read before the checks add allocations of their own
    peak_rss_mb = (
        _status_kb(jvm_pid, "VmHWM") + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    ) / 1024.0
    c0 = time.perf_counter()
    wl.check_pass(ctx, res)
    return {
        "pass": tracer.pass_id,
        "wall_s": wall,
        "steal_pct": 100.0 * (s1 - s0) / max(1, j1 - j0),
        "load1": load1,
        "jvm_rss_mb": _status_kb(jvm_pid, "VmRSS") / 1024.0,
        "peak_rss_mb": peak_rss_mb,
        "check_s": time.perf_counter() - c0,
        **res,
    }


def stop_session(spark) -> None:
    """Stop the session and wait until the JVM has exited (stopping the
    context also stops the Python workers the JVM forked), so a run leaves
    no process behind."""
    from pyspark import SparkContext  # noqa: PLC0415

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)


def print_table(args, shape, passes, metrics, extra, layers) -> None:
    print(f"# perfbench {args.workload} seed={args.seed} trace={args.trace} "
          f"sf={args.sf} documents={args.docs}")
    print("# host: " + " ".join(f"{k}={v}" for k, v in shape.items()))
    for p in passes:
        print(f"# pass {p['pass']}: {p['wall_s']:.3f} s  steal {p['steal_pct']:.2f}%  "
              f"load1 {p['load1']:.2f}  jvm_rss {p['jvm_rss_mb']:.0f} MB  "
              f"rows {p['rows']}  failed {p['failed']}/{p['attempted']}  "
              f"check {p['check_s']:.1f} s")
        for e in p["errors"]:
            print(f"#   FAILED {e}")
    for k, (v, u) in {**metrics, **extra, **layers}.items():
        print(f"{k:32s} {v:14.4f} {u}")
    if args.trace:
        parts = ("pipelines.construct_s", "session_cache.eager_build_s",
                 "exec.action_s", "trace.remainder_s")
        print("# traced pass (median of measured passes) "
              f"{layers['trace.pass_s'][0]:.3f} s = "
              + " + ".join(f"{k} {layers[k][0]:.3f}" for k in parts))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=12.0,
                    help="measured passes run until this many seconds have "
                         "passed after the warm-up pass (at least two)")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float,
                    help="scale of the TPC-like tables (0.01: 60k lineitems)")
    ap.add_argument("--docs", type=int,
                    help="documents and embeddings in the corpus tables")
    args = ap.parse_args(argv)
    sf, docs = WORKLOADS[args.workload]
    args.sf = sf if args.sf is None else args.sf
    args.docs = docs if args.docs is None else args.docs
    if not os.path.isdir(os.path.join(ROOT, "srm_etl_spark")):
        print(f"perfbench: no srm_etl_spark package under {ROOT}", file=sys.stderr)
        return 2
    try:
        result = run(args)
    except Exception:  # noqa: BLE001 — report and fail without a result line
        traceback.print_exc()
        return 1
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
