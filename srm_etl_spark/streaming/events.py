"""Streaming event pipelines (capability extension over the strictly-batch
reference — SURVEY §2.12).

The same logical plans as the batch twins (plans/queries.py q32, q17), lifted
to Structured Streaming: a file source replayed incrementally, event-time
watermarks bounding state, and window aggregates that emit finalized windows.
State stores shard by group key across executors, so every operator here
scales with the cluster exactly like its batch twin.

Design rules:
- watermark BEFORE any stateful op (Spark requires it; it also caps state);
- aggregations keyed by (window, key) — never a global collect;
- ``availableNow`` triggers for batch-replay tests; continuous micro-batches
  in production.
"""

from __future__ import annotations

from contextlib import contextmanager as _contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

EVENT_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)

# File-source schema when the parquet carries TIMESTAMP(NANOS): the session
# reads those as longs (spark.sql.legacy.parquet.nanosAsLong) and we restore.
EVENT_SCHEMA_NANOS = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", LongType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def _ts_is_nanos(path: str) -> bool:
    """Sniff the parquet footer: is ``ts`` stored as TIMESTAMP(NANOS)?

    The warehouse has shipped both units across generations; deciding from
    the footer (one driver-side metadata read) keeps the stream correct for
    either, instead of hardcoding a division that shifts micros data to 1970.
    """
    import glob  # noqa: PLC0415
    import os  # noqa: PLC0415

    import pyarrow as pa  # noqa: PLC0415
    import pyarrow.parquet as pq  # noqa: PLC0415

    if os.path.isdir(path):
        # recurse: partitioned sources keep their files under key=value subdirs
        files = sorted(
            glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
        )
        if not files:
            raise FileNotFoundError(
                f"stream_events: no parquet files under {path!r}; cannot "
                "sniff the ts unit (pass nanos_ts explicitly for an "
                "empty-at-start source)"
            )
        path = files[0]
    try:
        f = pq.read_schema(path).field("ts")
    except (KeyError, OSError):
        return False
    return pa.types.is_timestamp(f.type) and f.type.unit == "ns"


def stream_events(
    spark: SparkSession, source_dir: str, nanos_ts: bool | None = None
) -> DataFrame:
    """File-source stream of event rows; ts restored to TimestampType.

    ``source_dir`` may be a directory (the production shape: new files land,
    the stream picks them up) or a single ``.parquet`` file — the file source
    requires a directory, so a file path becomes (parent, pathGlobFilter).
    ``nanos_ts=None`` auto-detects the stored unit from the footer."""
    import os  # noqa: PLC0415

    if nanos_ts is None:
        nanos_ts = _ts_is_nanos(source_dir)
    schema = EVENT_SCHEMA_NANOS if nanos_ts else EVENT_SCHEMA
    reader = spark.readStream.schema(schema)
    if source_dir.endswith(".parquet") and os.path.isfile(source_dir):
        reader = reader.option("pathGlobFilter", os.path.basename(source_dir))
        source_dir = os.path.dirname(source_dir)
    df = reader.parquet(source_dir)
    if nanos_ts:
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def tumbling_window_counts(
    events: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Per (tumbling window, event_type) count + value sum. The streaming twin
    of q32 — identical plan, plus the watermark that lets Spark finalize and
    evict window state."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def sliding_window_counts(
    events: DataFrame,
    window: str = "1 hour",
    slide: str = "15 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Sliding-window event rates: each event lands in window/slide windows."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
    )


def session_window_counts(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Session windows per user (gap-based), the streaming twin of the batch
    sessionize operator (operators/windows.py) — state is one open session
    per user, merged/finalized by the watermark."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
            "sum_value",
        )
    )


def streaming_dedup(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Exactly-once event stream on event_id within the watermark horizon —
    the streaming analogue of the engine's exact dedup; state is one key per
    in-horizon event id."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(["event_id"])


def interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    max_delay: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream inner join: right-side events landing within
    ``[left_ts, left_ts + max_delay]`` for the same key.

    The time-range predicate plus both watermarks is what lets Spark expire
    join state: a buffered left row can be dropped once the right watermark
    passes ``left_ts + max_delay`` (state is bounded by delay + watermark, not
    by stream length). Column names must be disjoint across sides — rename
    before calling.
    """
    l = left.withWatermark(left_ts, watermark)
    r = right.withWatermark(right_ts, watermark)
    cond = (
        (l[key] == r[key])
        & (r[right_ts] >= l[left_ts])
        & (r[right_ts] <= l[left_ts] + F.expr(f"INTERVAL {max_delay}"))
    )
    return l.join(r, cond, "inner").drop(r[key])


def source_bytes_of(path: str) -> int:
    """Total size of the regular files at ``path`` — a single file or one
    flat directory — the value callers hand to :func:`run_to_memory` so
    state partitioning can be derived from input volume (guide §2)."""
    import os  # noqa: PLC0415

    try:
        if os.path.isfile(path):
            return os.path.getsize(path)
        return sum(e.stat().st_size for e in os.scandir(path) if e.is_file())
    except OSError:
        return 0


@_contextmanager
def scaled_state_partitions(
    spark: SparkSession, source_bytes: int | None, python_stateful: bool = False
):
    """Scale-adaptive shuffle partitioning for ONE streaming query start
    (guide §2: derive partition counts from input size, never from a
    constant tuned to either local mode or the cluster).

    A stateful streaming query binds one state-store instance per shuffle
    partition at its first micro-batch, and AQE never re-plans streaming
    aggregations — so the session's batch-sized ``spark.sql.shuffle
    .partitions`` (cores on the bench, thousands on a cluster) silently
    becomes the state-partition count even for a dimension-scale replay,
    and every micro-batch then pays (open + load + commit) on every
    mostly-empty store. Derive the count the way AQE would coalesce the
    equivalent batch shuffle: ceil(source_bytes / advisoryPartitionSize),
    clamped to the session setting. At production volumes the ratio
    exceeds the clamp and this is a no-op; a query restarted from a
    checkpoint keeps its recorded partitioning regardless (Spark pins the
    state layout in checkpoint metadata), so recovery is unaffected.

    ``python_stateful``: the per-byte cost of a Python-stateful stage
    (``applyInPandasWithState``) is orders of magnitude above a JVM shuffle
    write — every group pays a Python function dispatch plus pandas frame
    assembly per micro-batch — so sizing its partitions by the SHUFFLE
    advisory starves it of parallelism (measured: q60's replay at one
    byte-derived partition ran its whole per-user loop single-threaded,
    1.5 s → 5-6 s). Such stages size against a proportionally smaller
    advisory (``SPARK_GRAFT_PY_STATE_ADVISORY``, default advisory/1024 =
    64 KiB at the 64 MiB default): the same input-derived, cluster-agnostic
    rule, with the operator's actual processing rate priced in."""
    if not source_bytes:
        yield
        return
    import os  # noqa: PLC0415

    from ..session import parse_byte_size  # noqa: PLC0415

    conf = spark.conf
    cur = int(conf.get("spark.sql.shuffle.partitions"))
    advisory = parse_byte_size(
        conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes", None) or "64m",
        64 << 20,
    )
    if python_stateful:
        advisory = parse_byte_size(
            os.environ.get("SPARK_GRAFT_PY_STATE_ADVISORY", ""), advisory // 1024
        )
    target = max(1, min(cur, -(-int(source_bytes) // max(1, advisory))))
    if target == cur:
        yield
        return
    conf.set("spark.sql.shuffle.partitions", str(target))
    try:
        yield
    finally:
        conf.set("spark.sql.shuffle.partitions", str(cur))


def run_to_memory(
    stream_df: DataFrame, name: str, mode: str = "append",
    source_bytes: int | None = None, python_stateful: bool = False,
):
    """Replay the available data through the streaming plan into an in-memory
    table (tests / local inspection). Returns the finished query.

    ``source_bytes`` (when the caller knows the replay source volume)
    engages :func:`scaled_state_partitions` for the run; ``python_stateful``
    flags a plan whose stateful stage runs in Python (see there)."""
    with scaled_state_partitions(
        stream_df.sparkSession, source_bytes, python_stateful=python_stateful
    ):
        q = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return q


def stream_static_enrich(
    stream: DataFrame, dim: DataFrame, on: str, how: str = "left"
) -> DataFrame:
    """Stream-static join: enrich a stream against a batch dimension.

    The static side is re-planned per micro-batch (so a refreshed dimension
    table is picked up without restarting the query) and broadcast — the
    stream side never shuffles, which is what keeps a high-rate enrichment
    stage at wire speed on a cluster. No watermark is needed: stream-static
    joins are stateless.
    """
    from pyspark.sql import functions as F  # noqa: PLC0415

    return stream.join(F.broadcast(dim), on, how)


def latest_staging_version(path: str) -> str | None:
    """Highest ``v=N`` subdir under a versioned staging root, or None."""
    import glob  # noqa: PLC0415
    import os  # noqa: PLC0415

    versions = sorted(
        glob.glob(os.path.join(path, "v=*")),
        key=lambda p: int(p.rsplit("=", 1)[1]),
    )
    return versions[-1] if versions else None


def stream_upsert_to_staging(
    stream: DataFrame,
    staging_root: str,
    key: str,
    source_id: str | None = None,
    checkpoint: str | None = None,
    source_bytes: int | None = None,
):
    """Incremental merge: each micro-batch runs the engine's upsert primitive
    (operators/upsert.py:staging_upsert — the reference's airtable_updater
    lifecycle, SURVEY §2.10) against the staging table and publishes a new
    version.

    ``foreachBatch`` is the bridge: inside it the micro-batch is a plain
    DataFrame, so the same batch MERGE (full-outer join on key, soft-delete
    status, change-hash skip) serves both the scheduled-batch and the
    streaming deployment — one upsert implementation, two drivers. Each
    batch writes ``{staging_root}/v={batch_id}`` and readers take the
    highest version (write-new-then-repoint — the same atomic-swap
    discipline as the ES revision sweep, K3); nothing is collected to the
    driver and no path is overwritten while being read. On a transactional
    table format the version directory collapses into a MERGE commit.
    """
    from ..operators.upsert import staging_upsert  # noqa: PLC0415

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        latest = latest_staging_version(staging_root)
        if latest:
            current = spark.read.parquet(latest)
        else:
            # bootstrap: empty staging with the upsert bookkeeping columns
            # (the change hash covers source+status, reference
            # update_table.py:28-32)
            current = (
                spark.createDataFrame([], batch_df.schema)
                .withColumn("source", F.lit(None).cast("string"))
                .withColumn("status", F.lit(None).cast("string"))
            )
        merged = staging_upsert(
            current, batch_df, key=key, source_id=source_id, only_changed=False
        ).drop("_changed")
        # staging_upsert merges only the rows of `source_id` — but each
        # version is the COMPLETE table, so every OTHER row must ride along
        # untouched or the first batch silently deletes it. The preserved set
        # is the exact null-safe complement of the upsert's isin(source_id,
        # 'dummy') filter: a NULL source is not the merged source either.
        if source_id is not None and "source" in current.columns:
            others = current.filter(
                F.col("source").isNull() | ~F.col("source").isin(source_id, "dummy")
            )
            merged = merged.unionByName(others.select(*merged.columns))
        merged.write.mode("overwrite").parquet(f"{staging_root}/v={batch_id}")

    writer = stream.writeStream.foreachBatch(merge_batch).trigger(availableNow=True)
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    # scale the per-micro-batch MERGE shuffles to the feed volume (the
    # foreachBatch joins inherit the session shuffle partitioning)
    with scaled_state_partitions(stream.sparkSession, source_bytes):
        q = writer.start()
        q.awaitTermination()
    return q


# ---------------------------------------------------------------------------
# Custom stateful operator: applyInPandasWithState
# ---------------------------------------------------------------------------

RUNNING_TOTALS_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
    ]
)

_RUNNING_STATE_SCHEMA = StructType(
    [StructField("n", LongType()), StructField("total", DoubleType())]
)


def running_user_totals(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState): per-user
    running event count + value total, carried across micro-batches in the
    state store.

    This is the escape hatch for stateful logic Spark's built-in windows
    can't express (per-key model state, custom eviction, session payloads).
    State shards by group key across executors like any keyed state; the
    watermark bounds how long idle keys stay resident (processing-time
    timeout evicts them here).
    """
    from pyspark.sql.streaming.state import (  # noqa: PLC0415
        GroupState,
        GroupStateTimeout,
    )

    def update(key, pdf_iter, state: "GroupState"):
        import pandas as pd  # noqa: PLC0415

        (user_id,) = key
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdf_iter:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [user_id], "n_events": [n], "total_value": [round(total, 6)]}
        )

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=RUNNING_TOTALS_SCHEMA,
            stateStructType=_RUNNING_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def recovery_axis() -> bool:
    """Is the crash-recovery invariance axis on (``SPARK_GRAFT_STREAM_RECOVERY
    =1``)? Every streaming query then replays killed-and-resumed: stopped
    after a committed micro-batch and restarted from its checkpoint. The
    oracles are unchanged, so a hash MATCH certifies the recovered run."""
    import os  # noqa: PLC0415

    return os.environ.get("SPARK_GRAFT_STREAM_RECOVERY") == "1"


def ts_ordered_halves(df: DataFrame, ts_col: str = "ts") -> list[DataFrame]:
    """Two time-ordered micro-batches split at the event-time midpoint — the
    standard kill-and-resume split: batch 1 is entirely later than batch 0,
    so no row arrives late and the recovered run's watermark decisions are
    identical to the uninterrupted replay's. One bounded driver collect
    (min/max scalars)."""
    mm = df.agg(F.min(ts_col).alias("lo"), F.max(ts_col).alias("hi")).collect()[0]
    mid = mm["lo"] + (mm["hi"] - mm["lo"]) / 2
    return [
        df.filter(F.col(ts_col) <= F.lit(mid)),
        df.filter(F.col(ts_col) > F.lit(mid)),
    ]


def _staged_runs(
    spark: SparkSession, batches: list[DataFrame], base: str, run,
    stop_after: int | None = None,
) -> None:
    """Stage each batch DataFrame as ONE parquet file, land the files in
    order into ``base/stream`` and call ``run(stream, source_bytes)`` on a
    ``maxFilesPerTrigger=1`` file-source stream over them — one micro-batch
    per file, in the given order.

    The file source orders by mtime, so each landed file gets an explicitly
    spaced modification time, whatever the speed of the writes.
    ``stop_after=None`` lands every file and runs once; ``stop_after=k``
    lands the first k, runs (the "crash" after k committed micro-batches),
    lands the rest and runs again — ``run`` must resume from a checkpoint
    shared by both runs. ``source_bytes`` is the whole staged volume in
    every run: the first micro-batch fixes the state layout in the
    checkpoint, so the resumed run must derive the same partitioning."""
    import glob  # noqa: PLC0415
    import os  # noqa: PLC0415
    import shutil  # noqa: PLC0415
    import time  # noqa: PLC0415

    n = len(batches)
    if stop_after is not None and not 0 < stop_after < n:
        raise ValueError("stop_after must split the batch list")
    data = os.path.join(base, "stream")
    os.makedirs(data)
    staged = []
    for i, b in enumerate(batches):
        d = os.path.join(base, f"b{i}")
        b.coalesce(1).write.mode("overwrite").parquet(d)
        (src,) = glob.glob(os.path.join(d, "*.parquet"))
        staged.append(src)
    source_bytes = sum(os.path.getsize(p) for p in staged)
    now = time.time()
    landed = 0
    for cut in ([n] if stop_after is None else [stop_after, n]):
        for i in range(landed, cut):
            dst = os.path.join(data, f"batch{i}.parquet")
            shutil.copy(staged[i], dst)
            os.utime(dst, (now - 100 * (n - i),) * 2)
        landed = cut
        stream = (
            spark.readStream.schema(batches[0].schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(data)
        )
        run(stream, source_bytes)


def _await(q, what: str, timeout_sec: int) -> None:
    """The one bounded wait on a replay query: one that has not finished
    within ``timeout_sec`` is stopped and the replay fails loudly — a
    partial sink would return silently wrong results."""
    finished = False
    try:
        finished = timeout_sec > 0 and q.awaitTermination(timeout_sec)
    finally:
        if not finished:
            q.stop()
    if not finished:
        raise RuntimeError(f"{what}: availableNow replay did not finish within {timeout_sec}s")


def replay(
    spark: SparkSession,
    batches: list[DataFrame],
    build,
    name: str,
    mode: str = "append",
    stop_after: int | None = None,
    python_stateful: bool = False,
    timeout_sec: int = 300,
):
    """Replay a controlled sequence of micro-batches through a streaming plan.

    Each batch is staged as one file and streamed with ``availableNow`` —
    one micro-batch per file, in the given order, plus Spark's final
    no-data batch that advances the watermark and finalizes eligible state.
    ``build`` maps the source stream to the streaming plan. This is the
    harness for semantics only multi-batch execution exposes — watermark
    advancement, APPEND-mode finalization, late-row drops against evicted
    state — and for the crash-recovery axis.

    ``stop_after=k`` stops the query after batch k and restarts it from the
    same checkpoint once the remaining files have landed: the file source's
    seen-files log skips the processed batches, and watermark + operator
    state resume from the state store, so the result equals the
    uninterrupted run's only if state came back. The output mode alone
    chooses the sink, the one the recovery axis certifies for that mode:

    - ``append`` → a checkpointed parquet FILE sink; its commit log is tied
      to the checkpoint's batch ids, so rows are exactly-once across the
      restart;
    - ``complete`` → a memory sink (Spark lets it resume from a checkpoint
      in complete mode), snapshotted to scratch parquet after every run; the
      last run's table is the full aggregate;
    - ``update`` → the memory sink cannot resume in update mode, so every
      micro-batch's emissions are appended to parquet through
      ``foreachBatch``; the result is the emissions of every run.

    ``python_stateful`` flags a Python-stateful plan for
    :func:`scaled_state_partitions`. Returns (lazy result DataFrame,
    progress): ``progress`` is every run's ``recentProgress`` in order;
    batch ids continue across the restart."""
    import os  # noqa: PLC0415

    from ..session import scratch_dir  # noqa: PLC0415

    base = scratch_dir(f"srm_replay_{name}")
    ckpt = os.path.join(base, "checkpoint")
    out = os.path.join(base, "result")
    progress = []

    def run(stream: DataFrame, source_bytes: int) -> None:
        writer = (
            build(stream).writeStream.outputMode(mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
        )
        if mode == "append":
            writer = writer.format("parquet").option("path", out)
        elif mode == "complete":
            writer = writer.format("memory").queryName(name)
        else:
            writer = writer.foreachBatch(
                lambda df, _bid: df.write.mode("append").parquet(out)
            )
        with scaled_state_partitions(spark, source_bytes, python_stateful=python_stateful):
            q = writer.start()
            _await(q, f"replay[{name}]", timeout_sec)
        progress.extend(q.recentProgress)
        if mode == "complete":
            # the sink view is dropped so repeated replays hold no driver state
            spark.table(name).write.mode("overwrite").parquet(out)
            spark.catalog.dropTempView(name)

    _staged_runs(spark, batches, base, run, stop_after)
    return spark.read.parquet(out), progress
