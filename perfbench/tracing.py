"""Tracing for the benchmark's traced runs: spans, counters and the event log.

Everything here lives outside the program. Spans are recorded around the
calls the benchmark makes and around a few layer functions whose module
attributes are swapped for timing wrappers while a traced run is active:

- ``operators.session_cache.keep_*``   (pin calls, hits, eager builds)
- ``sources.tables.load_table``        (table loads)
- ``streaming.events.stream_upsert_to_staging`` (micro-batch merges)
- ``sinks.es.publish``                 (ES publish protocol)

A wrapper replaces every ``srm_etl_spark`` module attribute bound to the
original function, so call sites that import the helper at module level
(``operators/dedup.py``, the pipeline modules that import ``load_table``)
are covered as well as those that import inside the function body.

py4j commands are counted at ``GatewayClient.send_command``. Job, stage and
task metrics come from the Spark event log written to the run directory.
Spans stay in memory and are written out once, when the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import importlib
import inspect
import json
import os
import sys
import time

# (module, attribute, span name)
LAYER_FUNCTIONS = [
    ("srm_etl_spark.operators.session_cache", "keep_persisted", "session_cache.pin"),
    ("srm_etl_spark.operators.session_cache", "keep_persisted_pooled", "session_cache.pin"),
    ("srm_etl_spark.operators.session_cache", "keep_checkpointed_pooled", "session_cache.pin"),
    ("srm_etl_spark.sources.tables", "load_table", "sources.load_table"),
    ("srm_etl_spark.streaming.events", "stream_upsert_to_staging", "streaming.upsert"),
    ("srm_etl_spark.sinks.es", "publish", "sinks.publish"),
]


class Tracer:
    """Span recorder. ``enabled=False`` makes every span a no-op, so the
    untraced runs go through the same code with nothing recorded."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.pass_id: int | None = None
        self.py4j_calls = 0
        self._stack: list[dict] = []
        self._undo: list = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield {}
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "pass": self.pass_id,
            "start": time.time(),
            **attrs,
        }
        py4j0 = self.py4j_calls
        self.spans.append(rec)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            rec["py4j"] = self.py4j_calls - py4j0
            self._stack.pop()

    # -- patching ---------------------------------------------------------

    def install(self) -> None:
        """Swap the layer functions and the py4j client for counting
        wrappers. Call after the program's modules are imported."""
        if not self.enabled:
            return
        from py4j.java_gateway import GatewayClient  # noqa: PLC0415

        send = GatewayClient.send_command
        tracer = self

        @functools.wraps(send)
        def counted_send(self, *a, **kw):
            tracer.py4j_calls += 1
            return send(self, *a, **kw)

        GatewayClient.send_command = counted_send
        self._undo.append(lambda: setattr(GatewayClient, "send_command", send))
        for mod_name, attr, span_name in LAYER_FUNCTIONS:
            mod = importlib.import_module(mod_name)
            orig = getattr(mod, attr)
            self._rebind(orig, self._wrap(orig, span_name))

    def uninstall(self) -> None:
        while self._undo:
            self._undo.pop()()

    def _rebind(self, orig, wrapper) -> None:
        for mod in list(sys.modules.values()):
            if not getattr(mod, "__name__", "").startswith("srm_etl_spark"):
                continue
            for name, val in list(vars(mod).items()):
                if val is orig:
                    setattr(mod, name, wrapper)
                    self._undo.append(functools.partial(setattr, mod, name, orig))

    def _wrap(self, fn, span_name: str):
        sig = inspect.signature(fn)
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            attrs = {"fn": fn.__name__}
            if span_name == "session_cache.pin":
                bound = sig.bind(*args, **kwargs)
                bound.apply_defaults()
                # persists are lazy; checkpoint pins build when eager=True
                attrs["eager"] = bool(bound.arguments.get("eager", False))
                before = _stored_pin_ids()
            with tracer.span(span_name, **attrs) as rec:
                out = fn(*args, **kwargs)
                if span_name == "session_cache.pin":
                    rec["hit"] = id(out) in before
                elif span_name == "streaming.upsert":
                    rec["batches"] = sum(
                        1 for p in out.recentProgress if p["numInputRows"] > 0
                    )
                return out

        return traced


def _stored_pin_ids() -> set[int]:
    """Identities of every frame the pin registries hold right now: a pin
    call that returns one of them was served from the cache (a hit)."""
    from srm_etl_spark.operators import session_cache as sc  # noqa: PLC0415

    ids = {id(df) for df in sc._SLOTS.values()}
    ids |= {id(df) for pool in sc._POOLS.values() for df in pool.values()}
    ids |= {id(ck) for pool in sc._CKPT_POOLS.values() for _o, ck in pool.values()}
    return ids


# -- interval arithmetic over (start, end) seconds ---------------------------


def _union(ivs):
    out = []
    for a, b in sorted(ivs):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [tuple(x) for x in out]


def _length(ivs) -> float:
    return sum(b - a for a, b in _union(ivs))


def _intersect(xs, ys):
    out = []
    for a, b in _union(xs):
        for c, d in _union(ys):
            lo, hi = max(a, c), min(b, d)
            if lo < hi:
                out.append((lo, hi))
    return _union(out)


def _minus(xs, ys) -> float:
    return _length(xs) - _length(_intersect(xs, ys))


# -- event log -----------------------------------------------------------------


def read_event_log(log_dir: str) -> dict:
    """Jobs (with their stage ids and wall interval), completed stages and
    finished tasks from the uncompressed JSON event log in ``log_dir``."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stages_done: set[int] = set()
    tasks: list[dict] = []
    # Spark 4 writes a directory of rolled ``events_*`` files per application
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True)):
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    jobs[jid] = {"start": ev["Submission Time"] / 1000.0, "end": None}
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = jid
                elif kind == "SparkListenerJobEnd":
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerStageCompleted":
                    stages_done.add(ev["Stage Info"]["Stage ID"])
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    tasks.append({
                        "stage": ev["Stage ID"],
                        "failed": ev["Task Info"].get("Failed", False)
                        or ev["Task End Reason"].get("Reason") != "Success",
                        "run_ms": m.get("Executor Run Time", 0),
                        "gc_ms": m.get("JVM GC Time", 0),
                        "spill": m.get("Disk Bytes Spilled", 0),
                        "shuffle_write": (m.get("Shuffle Write Metrics") or {}).get(
                            "Shuffle Bytes Written", 0
                        ),
                        "input": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
                    })
    return {
        "jobs": jobs,
        "stage_job": stage_job,
        "stages_done": stages_done,
        "tasks": tasks,
    }


# -- per-layer metrics -------------------------------------------------------


def layer_metrics(spans: list[dict], log: dict, pass_id: int, cores: int) -> dict:
    """Per-layer numbers for one pass, from its spans and the event log.

    The pass wall time splits into four disjoint parts:
    ``pipelines.construct_s`` (driver time inside plan construction, with
    no job running and outside eager pin builds), ``session_cache.eager_build_s``
    (eager pin calls that missed the cache), ``exec.action_s`` (job wall time
    outside those pin builds) and ``trace.remainder_s`` (everything else:
    releasing pins, planning the check actions, py4j traffic between them).
    """
    ps = [s for s in spans if s["pass"] == pass_id]
    (pass_span,) = [s for s in ps if s["name"] == "pass"]
    lo, hi = pass_span["start"], pass_span["end"]

    def named(name):
        return [s for s in ps if s["name"] == name]

    def ivs(items):
        return [(s["start"], s["end"]) for s in items]

    # job intervals clipped to the pass; a job still open at the end of the
    # pass cannot happen (every action is synchronous) but clip anyway
    job_ids = [
        j for j, v in log["jobs"].items()
        if v["end"] is not None and lo <= v["start"] <= hi
    ]
    job_iv = [(log["jobs"][j]["start"], min(log["jobs"][j]["end"], hi)) for j in job_ids]
    construct = named("pipelines.construct")
    pins = named("session_cache.pin")
    eager = [s for s in pins if s.get("eager") and not s.get("hit")]
    construct_iv, eager_iv = ivs(construct), ivs(eager)
    construct_s = _minus(construct_iv, _union(job_iv + eager_iv))
    eager_s = _length(eager_iv)
    action_s = _minus(job_iv, eager_iv)
    wall = hi - lo
    jobset = set(job_ids)
    stage_ids = {s for s, j in log["stage_job"].items() if j in jobset}
    tasks = [t for t in log["tasks"] if t["stage"] in stage_ids]
    task_s = sum(t["run_ms"] for t in tasks) / 1000.0
    job_wall = _length(job_iv)
    mb = float(1 << 20)
    upserts = named("streaming.upsert")
    loads = named("sources.load_table")
    publishes = named("sinks.publish")
    hits = sum(1 for s in pins if s.get("hit"))
    construct_jobs = sum(
        1 for j in job_ids
        if any(a <= log["jobs"][j]["start"] <= b for a, b in construct_iv)
    )
    return {
        "pipelines.construct_s": (construct_s, "s"),
        "pipelines.py4j_calls": (sum(s["py4j"] for s in construct), "count"),
        "pipelines.construct_jobs": (construct_jobs, "count"),
        "session_cache.pin_calls": (len(pins), "count"),
        "session_cache.pin_hits": (hits, "count"),
        "session_cache.hit_ratio": (hits / len(pins) if pins else 0.0, "ratio"),
        "session_cache.eager_build_s": (eager_s, "s"),
        "streaming.upsert_s": (_length(ivs(upserts)), "s"),
        "streaming.batches": (sum(s.get("batches", 0) for s in upserts), "count"),
        "sources.load_table_calls": (len(loads), "count"),
        "sources.load_table_s": (_length(ivs(loads)), "s"),
        "sources.scan_mb": (sum(t["input"] for t in tasks) / mb, "MB"),
        "sinks.publish_s": (_length(ivs(publishes)), "s"),
        "exec.action_s": (action_s, "s"),
        "exec.jobs": (len(job_ids), "count"),
        "exec.stages": (len(stage_ids & log["stages_done"]), "count"),
        "exec.tasks": (len(tasks), "count"),
        "exec.task_s": (task_s, "s"),
        "exec.cpu_util": (task_s / (job_wall * cores) if job_wall else 0.0, "ratio"),
        "exec.shuffle_write_mb": (sum(t["shuffle_write"] for t in tasks) / mb, "MB"),
        "exec.spill_mb": (sum(t["spill"] for t in tasks) / mb, "MB"),
        "exec.gc_s": (sum(t["gc_ms"] for t in tasks) / 1000.0, "s"),
        "exec.failed_tasks": (sum(1 for t in tasks if t["failed"]), "count"),
        "trace.pass_s": (wall, "s"),
        "trace.remainder_s": (wall - construct_s - eager_s - action_s, "s"),
    }
