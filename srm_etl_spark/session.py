"""SparkSession factory tuned for this engine.

Defaults target local[$SPARK_GRAFT_CPUS] for tests/bench, but every setting is
the one we would ship to a 1000-executor cluster: AQE on (runtime coalescing,
skew-join splitting), UTC session timezone (oracle comparability), Arrow for
any pandas exchange, and shuffle parallelism sized to the core count rather
than the 200 default.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import SparkSession

# ---------------------------------------------------------------------------
# Session-scoped scratch space
# ---------------------------------------------------------------------------

# One per-process root PER BASE directory: the base choice is re-evaluated
# on every scratch_dir() call (tmpfs headroom is a moving target on a
# co-tenant host), and paths already handed out under an earlier base stay
# valid — lazy frames read them long after allocation.
_SCRATCH_ROOTS: dict[str, str] = {}

# Minimum free space for the fast-ephemeral default to engage: the scratch
# round-trips are bounded (staging versions, replay sources, checkpoint
# logs — dimension-sized, not corpus-sized), but a nearly-full tmpfs must
# never be chosen over a healthy disk.
_SCRATCH_MIN_FREE = 8 << 30

# Cap on THIS process's own tmpfs scratch usage: tmpfs pages compete with
# executor memory, so even with headroom a long session must not balloon
# /dev/shm — past the cap new allocations fall back to the tempfile default
# while existing paths stay readable.
_SCRATCH_SHM_CAP = int(
    os.environ.get("SPARK_GRAFT_SCRATCH_SHM_CAP", str(16 << 30))
)


def _scratch_base() -> str | None:
    """Directory to root the per-process scratch under.

    ``SPARK_GRAFT_SCRATCH_DIR`` wins when set (production clusters point it
    at node-local NVMe). Otherwise prefer ``/dev/shm`` when it has
    comfortable headroom: scratch holds only bounded intermediates whose
    round-trip is bookkeeping, not semantic work — staging-table versions,
    micro-batch replay sources, streaming checkpoint/commit logs — and on a
    multi-tenant host the page-cache path behind ``/tmp`` stalls on
    co-tenant writeback (measured here: a 256 MB fsync'd write at 14 MB/s
    while the same bytes to tmpfs are instant). Falls back to the tempfile
    default when neither applies."""
    env = os.environ.get("SPARK_GRAFT_SCRATCH_DIR")
    if env:
        return env
    shm = "/dev/shm"
    try:
        if os.path.isdir(shm) and os.access(shm, os.W_OK):
            st = os.statvfs(shm)
            if st.f_bavail * st.f_frsize >= _SCRATCH_MIN_FREE:
                return shm
    except OSError:
        pass
    return None


def _tree_bytes(path: str) -> int:
    """Total bytes under ``path`` (scandir walk; scratch holds dimension-
    sized intermediates, so the walk is hundreds of entries at most)."""
    total = 0
    try:
        with os.scandir(path) as entries:
            for e in entries:
                try:
                    if e.is_dir(follow_symlinks=False):
                        total += _tree_bytes(e.path)
                    elif e.is_file(follow_symlinks=False):
                        total += e.stat(follow_symlinks=False).st_size
                except OSError:
                    continue
    except OSError:
        pass
    return total


def scratch_dir(prefix: str = "srm") -> str:
    """A fresh scratch directory under a per-process, per-base root that is
    removed at interpreter exit.

    Query plans that round-trip through disk (datapackage/format/bucketed
    demos, streaming replays) need scratch paths that outlive the call —
    the returned frames read from them lazily — but must not accumulate
    across repeated bench/correctness runs. One root per base, cleaned once,
    bounds the leak to a single process lifetime.

    The base choice is re-evaluated on EVERY call (not once at first use):
    ``/dev/shm`` headroom on a co-tenant host can evaporate between
    allocations, and tmpfs pages compete with executor memory — so a tmpfs
    that has dropped below the headroom floor, or a session whose own shm
    usage passed ``SPARK_GRAFT_SCRATCH_SHM_CAP``, sends NEW allocations to
    the tempfile default while previously handed-out paths stay valid."""
    base = _scratch_base()
    if base == "/dev/shm":
        root = _SCRATCH_ROOTS.get(base)
        if root is not None and _tree_bytes(root) > _SCRATCH_SHM_CAP:
            base = None
    key = base or ""
    root = _SCRATCH_ROOTS.get(key)
    if root is None:
        root = tempfile.mkdtemp(prefix="srm_scratch_", dir=base)
        atexit.register(shutil.rmtree, root, ignore_errors=True)
        _SCRATCH_ROOTS[key] = root
    return tempfile.mkdtemp(prefix=prefix + "_", dir=root)


_BYTE_UNITS = {
    "": 1, "b": 1,
    "k": 1 << 10, "kb": 1 << 10,
    "m": 1 << 20, "mb": 1 << 20,
    "g": 1 << 30, "gb": 1 << 30,
    "t": 1 << 40, "tb": 1 << 40,
    "p": 1 << 50, "pb": 1 << 50,
}


def parse_byte_size(value, default: int | None = None) -> int:
    """Spark byte-size conf value → bytes.

    Spark renders size confs in every form users set them: a plain integer
    (``10485760``), the JVM-normalized ``10485760b``, or a unit-suffixed
    string (``10MB``, ``1g``). ``int(conf.get(...))`` crashes on all but the
    first — sessions outside :func:`get_spark` surface the built-in default
    as ``'10485760b'``. One parser for every conf-driven byte decision
    (broadcast-threshold gates, scan-split sizing). ``-1`` (broadcast
    disabled) passes through. Unparseable values fall back to ``default``
    when given, else raise."""
    try:
        s = str(value).strip().lower()
        num = s.rstrip("kmgtpb")
        return int(num) * _BYTE_UNITS[s[len(num):]]
    except (ValueError, KeyError):
        if default is not None:
            return default
        raise ValueError(f"unparseable byte size: {value!r}") from None


# Memory-cgroup limit files, read only: v2 ``memory.max`` (``max`` when
# unlimited) and v1 ``memory.limit_in_bytes`` (a near-2^63 number when
# unlimited). Inside a memory-limited container the limit, not the host's
# physical memory, is what the JVM can really have.
_CGROUP_MEMORY_LIMITS = (
    "/sys/fs/cgroup/memory.max",
    "/sys/fs/cgroup/memory/memory.limit_in_bytes",
)

# Ceiling of the derived default heap (the former fixed default;
# hosts with 96 GiB or more still get it).
_DRIVER_MEMORY_CAP_GIB = 48


def available_memory_bytes() -> int | None:
    """Memory this process can have: physical memory (``MemTotal`` on
    Linux), lowered to any numeric memory-cgroup limit. ``None`` when the
    platform reports neither."""
    try:
        total = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    except (AttributeError, ValueError, OSError):  # no sysconf (Windows)
        total = None
    for path in _CGROUP_MEMORY_LIMITS:
        try:
            with open(path) as fh:
                limit = int(fh.read().strip())
        except (OSError, ValueError):  # absent, unreadable, or "max"
            continue
        total = limit if total is None else min(total, limit)
    return total


def driver_memory(mem_bytes: int | None = None, env=os.environ) -> str:
    """Value of ``spark.driver.memory`` for :func:`get_spark`.

    ``SPARK_DRIVER_MEMORY`` wins when set; the ``SPARK_GRAFT_SPILL=1`` axis
    keeps its 12g heap (see the comment in :func:`get_spark`). Otherwise
    half of ``mem_bytes`` (default: :func:`available_memory_bytes`) in whole
    GiB, at least 1 GiB and at most 48 GiB: local mode runs the driver, its
    executors and the Python workers on one host, so a heap past physical
    memory gets the JVM killed part-way through a long session rather than
    spilling."""
    if env.get("SPARK_DRIVER_MEMORY") is not None:
        return env["SPARK_DRIVER_MEMORY"]
    if env.get("SPARK_GRAFT_SPILL") == "1":
        return "12g"
    if mem_bytes is None:
        mem_bytes = available_memory_bytes()
    if mem_bytes is None:
        return f"{_DRIVER_MEMORY_CAP_GIB}g"
    gib = max(1, min(_DRIVER_MEMORY_CAP_GIB, mem_bytes // 2 // (1 << 30)))
    return f"{gib}g"


def get_spark(
    app_name: str = "srm-etl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    # SPARK_GRAFT_RETRY=1 is the task-failure/retry invariance axis: local
    # mode defaults to maxFailures=1 (any task failure kills the job), so
    # the axis uses the local[N, F] form to allow real scheduler retries of
    # the faults sources/tables.py injects into every scan.
    if master is None:
        master = (
            f"local[{cpus}, 4]"
            if os.environ.get("SPARK_GRAFT_RETRY") == "1"
            else f"local[{cpus}]"
        )
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", cpus))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # SPARK_GRAFT_AQE=0 disables adaptive execution for the invariance
        # sweep: results must be identical with and without runtime re-plan
        .config(
            "spark.sql.adaptive.enabled",
            "false" if os.environ.get("SPARK_GRAFT_AQE") == "0" else "true",
        )
        # SPARK_GRAFT_CODEGEN=0 forces the interpreted expression path for
        # the invariance sweep: results must be identical with and without
        # whole-stage codegen (a cluster falls back to interpretation
        # whenever a generated method trips the JIT's 8k bytecode limit, so
        # both paths are live at scale)
        .config(
            "spark.sql.codegen.wholeStage",
            "false" if os.environ.get("SPARK_GRAFT_CODEGEN") == "0" else "true",
        )
        .config(
            "spark.sql.codegen.factoryMode",
            "NO_CODEGEN"
            if os.environ.get("SPARK_GRAFT_CODEGEN") == "0"
            else "FALLBACK",
        )
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # SPARK_GRAFT_SPLIT_MB=N shrinks the scan-split size for the
        # invariance sweep: results must be identical under ANY input
        # partitioning (a cluster reading 100 TB sees thousands of splits
        # per file where local tests see one) — this is the axis that
        # catches per-scan-partition kernels (mapInPandas batch shapes,
        # per-partition offsets) that shuffle.partitions=7 cannot reach
        .config(
            "spark.sql.files.maxPartitionBytes",
            # plain bytes: sources/tables.py sizes its scan-spread decision
            # by int()-parsing this conf value
            str(int(os.environ.get("SPARK_GRAFT_SPLIT_MB", "128")) * 1024 * 1024),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # The warehouse parquet carries TIMESTAMP(NANOS) columns, which Spark
        # rejects by default; read them as nanos-since-epoch longs and let the
        # loader restore TimestampType (sources/tables.py).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # SPARK_GRAFT_SPILL=1 is the memory-pressure invariance axis: a tiny
        # unified memory pool (5% of a 12g heap ≈ 600 MB across 32 tasks,
        # ~19 MB each) forces hash aggregates, sort-merge joins and window
        # buffers to actually SPILL, and MEMORY_AND_DISK persists/caches to
        # evict to disk — the 100 TB execution shape where no operator state
        # fits in memory. Results must be byte-identical to the in-memory
        # runs. The heap stays at 12g (not lower): the pressure knob is the
        # FRACTION — a 6g heap additionally starves the JVM's unmanaged
        # memory (py4j bridges, codegen caches, parquet footers), which
        # after ~130 queries of a single-session sweep kills collects with
        # heap exhaustion unrelated to operator spill behavior.
        .config("spark.driver.memory", driver_memory())
        .config(
            "spark.memory.fraction",
            "0.05" if os.environ.get("SPARK_GRAFT_SPILL") == "1" else "0.6",
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # PySpark's DataFrame-debugging wrapper adds 3-4 py4j round trips to
        # EVERY DataFrame/Column API call (a conf.get + PySparkCurrentOrigin
        # set/clear, purely to enrich error messages with user call sites).
        # The composed pipelines build plans from thousands of such calls, so
        # the wrapper alone is ~25% of warm plan-construction time (measured
        # on the entities builders: process_services 1.90→1.42 s). Costs only
        # call-site lines in error messages; plans and results are untouched.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # Generated classes live in a JVM-wide LRU cache, 100 entries by
        # default. One pass of the composed refresh compiles about 220 (the
        # ES publish about 190), so at 100 every warm pass recompiled, and
        # re-JITted, all of them. 500 holds a pass with room to spare: the
        # (Guava) cache evicts per segment, 4 segments of 125 entries.
        .config("spark.sql.codegen.cache.maxEntries", "500")
    )
    if os.environ.get("SPARK_GRAFT_SPILL") == "1":
        # the fraction alone cannot force spills at test scale (a 19 MB/task
        # pool still fits sf0.01 partitions), so the axis also drops the
        # force-spill row thresholds: every sorter, window buffer and
        # sort-merge-join buffer past 1k rows goes through the real
        # spill-to-disk path (verified >0 spilled bytes via the event log).
        # Only set under the axis — in normal mode the Spark defaults stay.
        for k in (
            "spark.shuffle.spill.numElementsForceSpillThreshold",
            "spark.sql.windowExec.buffer.spill.threshold",
            "spark.sql.sortMergeJoinExec.buffer.spill.threshold",
        ):
            builder = builder.config(k, "1000")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
