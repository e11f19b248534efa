"""End-to-end Structured Streaming tests: replay the events table through a
file source with availableNow, land in a memory sink, and compare against the
equivalent batch computation."""

import shutil

import pytest
from pyspark.sql import functions as F

from srm_etl_spark.sources.tables import load_table
from srm_etl_spark.streaming import (
    session_window_counts,
    stream_events,
    streaming_dedup,
    tumbling_window_counts,
)
from srm_etl_spark.streaming.events import run_to_memory


@pytest.fixture(scope="module")
def events_dir(sf_dir, tmp_path_factory):
    d = tmp_path_factory.mktemp("events_stream")
    shutil.copy(f"{sf_dir}/events.parquet", d / "part-0.parquet")
    return str(d)


def test_tumbling_counts_match_batch(spark, sf_dir, events_dir):
    stream = tumbling_window_counts(stream_events(spark, events_dir))
    run_to_memory(stream, "tumbling_test")
    got = {
        (r.window_start, r.event_type): (r.n, r.sum_value)
        for r in spark.table("tumbling_test").collect()
    }
    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(F.col("w.start").alias("ws"), "event_type", "n", "sum_value")
    )
    want = {(r.ws, r.event_type): (r.n, r.sum_value) for r in batch.collect()}
    # Append mode emits only FINALIZED windows: the watermark ends at
    # max_event_time - 2h, so windows still open at end-of-replay are
    # (correctly) withheld. Everything emitted must match the batch twin, and
    # every window the watermark passed must have been emitted.
    from datetime import timedelta  # noqa: PLC0415

    max_ts = load_table(spark, sf_dir, "events").agg(F.max("ts")).first()[0]
    horizon = max_ts - timedelta(hours=2)
    finalized = {k for k in want if k[0] + timedelta(hours=1) <= horizon}
    assert set(got) >= finalized
    assert set(got) <= set(want)
    for k, v in got.items():
        assert v == want[k]
    assert len(got) > 0


def test_streaming_dedup_keeps_all_unique(spark, sf_dir, events_dir):
    stream = streaming_dedup(stream_events(spark, events_dir))
    run_to_memory(stream, "dedup_test")
    n_stream = spark.table("dedup_test").count()
    n_batch = load_table(spark, sf_dir, "events").select("event_id").distinct().count()
    assert n_stream == n_batch


def test_streaming_dedup_boundaries(spark):
    """The operator's contract, pinned: a duplicate whose key is still in
    state is suppressed; a same-ts duplicate of an EVICTED key is
    late-filtered (never re-emits); only a fresh-ts replay of an evicted
    key re-emits (q157's batch2)."""
    import datetime

    from srm_etl_spark.streaming.events import replay

    t0 = datetime.datetime(2026, 1, 1)

    def ev(eid, mins):
        return (eid, t0 + datetime.timedelta(minutes=mins), "x")

    schema = "event_id long, ts timestamp, event_type string"
    b0 = spark.createDataFrame([ev(1, 0), ev(2, 130)], schema)
    # key 2 in state (expires 160 > wm 100) -> suppressed even with jitter;
    # key 1 evicted (expires 30 < wm 100): same-ts replay is late -> dropped
    b1 = spark.createDataFrame([ev(2, 135), ev(1, 0), ev(3, 140)], schema)
    # key 1 evicted, FRESH ts above watermark -> re-emits
    b2 = spark.createDataFrame([ev(1, 138)], schema)
    out, progress = replay(
        spark, [b0, b1, b2],
        lambda s: streaming_dedup(s, "30 minutes"), "dedup_boundaries",
    )
    got = sorted((r.event_id, (r.ts - t0).total_seconds() / 60) for r in out.collect())
    assert got == [(1, 0.0), (1, 138.0), (2, 130.0), (3, 140.0)]
    # eviction pinned by STATE-STORE METRICS, not only by re-emit behavior:
    import json

    so = {
        json.loads(rp.json)["batchId"]: (json.loads(rp.json).get("stateOperators") or [{}])[0]
        for rp in progress
    }
    assert so[0]["operatorName"] == "dedupeWithinWatermark"
    assert (so[0]["numRowsTotal"], so[0]["numRowsRemoved"]) == (2, 0)  # {1,2} tracked
    # batch 1: key 1's expired entry is REMOVED as the watermark passes 1:40
    # (total stays 2 = {2,3} after key 3 admits); its late same-ts replay is
    # filtered BEFORE the state operator, so numRowsDroppedByWatermark stays
    # 0 for dedup — drops surface only through the missing emit
    assert (so[1]["numRowsTotal"], so[1]["numRowsRemoved"]) == (2, 1)
    assert so[1]["numRowsDroppedByWatermark"] == 0
    # batch 2: the evicted key re-admits with a fresh ts -> state grows back
    assert (so[2]["numRowsTotal"], so[2]["numRowsUpdated"]) == (3, 1)


def test_session_windows_complete(spark, sf_dir, events_dir):
    stream = session_window_counts(stream_events(spark, events_dir), gap="30 minutes")
    run_to_memory(stream, "session_test")
    out = spark.table("session_test")
    total_events = out.agg(F.sum("n_events")).first()[0]
    n_all = load_table(spark, sf_dir, "events").count()
    # sessions still open inside the final watermark horizon are withheld by
    # append mode; everything older must have been finalized and emitted
    assert 0.9 * n_all <= total_events <= n_all
    # session integrity: no two sessions of the same user overlap
    a = out.select([F.col(c).alias(f"a_{c}") for c in out.columns])
    b = out.select([F.col(c).alias(f"b_{c}") for c in out.columns])
    overlaps = a.join(
        b,
        (F.col("a_user_id") == F.col("b_user_id"))
        & (F.col("a_session_start") < F.col("b_session_start"))
        & (F.col("b_session_start") < F.col("a_session_end")),
    )
    assert overlaps.count() == 0


def test_running_user_totals_stateful(spark, sf_dir):
    """applyInPandasWithState: replayed totals equal the batch groupBy."""
    from pyspark.sql import functions as F

    from srm_etl_spark.sources.tables import load_table
    from srm_etl_spark.streaming.events import running_user_totals, run_to_memory, stream_events

    s = stream_events(spark, f"{sf_dir}/events.parquet")
    run_to_memory(running_user_totals(s), "running_totals", mode="update")
    got = {
        r.user_id: (r.n_events, r.total_value)
        for r in spark.table("running_totals").collect()
    }
    expect = {
        r.user_id: (r.n, r.total)
        for r in load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 6).alias("total"),
        )
        .collect()
    }
    assert got == expect


def test_interval_join_matches_batch(spark, sf_dir):
    """Stream-stream interval join (click -> purchase within 30 min) must
    produce exactly the batch join's pair count."""
    from srm_etl_spark.sources.tables import load_table
    from srm_etl_spark.streaming.events import interval_join, run_to_memory, stream_events

    def side(event_type, ts_name, extra=None):
        s = stream_events(spark, f"{sf_dir}/events.parquet").filter(
            F.col("event_type") == event_type
        )
        cols = ["user_id", F.col("ts").alias(ts_name)]
        return s.select(*cols)

    joined = interval_join(
        side("click", "click_ts"), side("purchase", "purchase_ts"),
        "user_id", "click_ts", "purchase_ts",
        max_delay="30 minutes", watermark="60 days",
    )
    run_to_memory(joined, "ij_sink", mode="append")
    got = spark.table("ij_sink").count()

    ev = load_table(spark, sf_dir, "events")
    c = ev.filter(F.col("event_type") == "click").select("user_id", F.col("ts").alias("cts"))
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("puid"), F.col("ts").alias("pts")
    )
    expect = c.join(
        p,
        (c.user_id == p.puid)
        & (p.pts >= c.cts)
        & (p.pts <= c.cts + F.expr("INTERVAL 30 MINUTES")),
    ).count()
    assert got == expect and got > 0


def test_stream_static_enrich_matches_batch(spark, sf_dir):
    from srm_etl_spark.streaming.events import run_to_memory, stream_events, stream_static_enrich

    dim = spark.createDataFrame(
        [("click", "engagement"), ("purchase", "revenue")], "event_type string, family string"
    )
    s = stream_static_enrich(stream_events(spark, f"{sf_dir}/events.parquet"), dim, "event_type")
    run_to_memory(s, "enriched", mode="append")
    got = spark.table("enriched")
    ev = load_table(spark, sf_dir, "events", spread=False)
    want = ev.join(dim, "event_type", "left")
    assert got.count() == want.count()
    assert got.filter(F.col("family") == "revenue").count() == ev.filter(
        F.col("event_type") == "purchase"
    ).count()
    spark.catalog.dropTempView("enriched")


def test_stream_upsert_to_staging_matches_batch_merge(spark, sf_dir, tmp_path):
    from srm_etl_spark.operators.upsert import staging_upsert
    from srm_etl_spark.streaming.events import (
        latest_staging_version,
        stream_events,
        stream_upsert_to_staging,
    )

    root = str(tmp_path / "staging")
    s = stream_events(spark, f"{sf_dir}/events.parquet").select(
        "event_id", "user_id", "event_type", "value"
    )
    stream_upsert_to_staging(s, root, key="event_id", source_id="events")
    final = spark.read.parquet(latest_staging_version(root))

    ev = load_table(spark, sf_dir, "events", spread=False).select(
        "event_id", "user_id", "event_type", "value"
    )
    empty = (
        spark.createDataFrame([], ev.schema)
        .withColumn("source", F.lit(None).cast("string"))
        .withColumn("status", F.lit(None).cast("string"))
    )
    want = staging_upsert(
        empty, ev, key="event_id", source_id="events", only_changed=False
    ).drop("_changed")
    assert final.count() == want.count()
    assert final.filter(F.col("status") != "ACTIVE").count() == 0
    assert sorted(final.columns) == sorted(want.columns)


def test_stream_upsert_preserves_null_source_rows(spark, sf_dir, tmp_path):
    """A staging row whose source is NULL is not the merged source — it must
    ride through the versioned merge untouched, exactly like rows of other
    named sources (the preservation filter is the null-safe complement of
    the upsert's isin(source_id, 'dummy'))."""
    from srm_etl_spark.streaming.events import (
        latest_staging_version,
        stream_upsert_to_staging,
    )

    root = str(tmp_path / "staging")
    boot = spark.createDataFrame(
        [("keep-null", None, "ACTIVE"), ("keep-other", "elsewhere", "ACTIVE")],
        "event_id string, source string, status string",
    )
    boot.write.parquet(f"{root}/v=-1")

    feed = str(tmp_path / "feed")
    spark.createDataFrame([("e1",)], "event_id string").write.parquet(feed)
    stream = spark.readStream.schema("event_id string").parquet(feed)
    stream_upsert_to_staging(stream, root, key="event_id", source_id="events")

    final = spark.read.parquet(latest_staging_version(root))
    kept = {r.event_id for r in final.collect()}
    assert {"keep-null", "keep-other", "e1"} <= kept


def test_replay_late_drops(spark, sf_dir):
    """Stragglers arriving after their windows were evicted are dropped (the
    engine reports them in numRowsDroppedByWatermark); rows landing in
    still-live windows merge regardless of the watermark."""
    import datetime
    import json

    from pyspark.sql import functions as F

    from srm_etl_spark.sources.tables import load_table
    from srm_etl_spark.streaming.events import replay

    ev = load_table(spark, sf_dir, "events").withColumn("ts", F.col("ts").cast("timestamp"))
    mm = ev.agg(F.min("ts").alias("lo"), F.max("ts").alias("hi")).collect()[0]
    span_s = int((mm["hi"] - mm["lo"]).total_seconds())
    cut_low = mm["lo"] + datetime.timedelta(seconds=(span_s * 3) // 10)
    cut1 = mm["lo"] + datetime.timedelta(seconds=(span_s * 7) // 10)
    strag = (F.col("event_id") % 5 == 0) & (F.col("ts") < F.lit(cut_low))

    def build(s):
        return (
            s.withWatermark("ts", "30 minutes")
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("w.start").alias("ws"), "n")
        )

    out, progress = replay(
        spark,
        [
            ev.filter((F.col("ts") <= F.lit(cut1)) & ~strag),
            ev.filter(F.col("ts") > F.lit(cut1)),
            ev.filter(strag),
        ],
        build,
        "t117_sink",
    )
    dropped = sum(
        (json.loads(rp.json).get("stateOperators") or [{}])[0].get(
            "numRowsDroppedByWatermark", 0
        ) or 0
        for rp in progress
    )
    n_strag = ev.filter(strag).count()
    assert n_strag > 0
    assert dropped > 0  # late stragglers hit evicted state
    # eviction pinned by metrics too: finalized windows leave the store as
    # the watermark advances, so some batch reports removed state rows and
    # the final state never holds the whole window set
    sos = [
        (json.loads(rp.json).get("stateOperators") or [{}])[0] for rp in progress
    ]
    assert sum(s.get("numRowsRemoved", 0) or 0 for s in sos) > 0
    n_windows = (
        ev.groupBy(F.window("ts", "1 hour")).count().count()
    )
    assert (sos[-1].get("numRowsTotal") or 0) < n_windows
    # emitted = deterministic finalization rule: non-straggler rows in
    # windows closed by the final watermark
    wm1 = mm["hi"] - datetime.timedelta(minutes=30)
    pred = (
        ev.filter(~strag)
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("w.end") <= F.lit(wm1))
        .select(F.col("w.start").alias("ws"), "n")
    )
    assert out.exceptAll(pred).count() == 0
    assert pred.exceptAll(out).count() == 0


def _tiny_feed(spark):
    """Two micro-batches of (k, ts) events, the second entirely later."""
    import datetime

    t0 = datetime.datetime(2026, 1, 1)

    def rows(*pairs):
        return spark.createDataFrame(
            [(k, t0 + datetime.timedelta(minutes=m)) for k, m in pairs],
            "k string, ts timestamp",
        )

    return [
        rows(("a", 0), ("b", 5), ("a", 20), ("b", 70)),
        rows(("a", 130), ("b", 140), ("a", 200)),
    ]


def _tiny_build(mode):
    if mode == "append":  # finalized 1-hour windows need a watermark
        return lambda s: (
            s.withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "1 hour").alias("w"), "k")
            .count()
            .select(F.col("w.start").alias("ws"), "k", "count")
        )
    return lambda s: s.groupBy("k").count()


@pytest.mark.parametrize("mode", ["append", "complete", "update"])
def test_replay_resumed_equals_uninterrupted(spark, mode):
    """Every output mode's sink resumes exactly: killed after batch 1 and
    restarted from the checkpoint, the replay returns the uninterrupted
    run's rows, and each input row is processed once across the restart."""
    from srm_etl_spark.streaming.events import replay

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    feed, build = _tiny_feed(spark), _tiny_build(mode)
    plain, p_plain = replay(spark, feed, build, f"tiny_{mode}", mode=mode)
    resumed, p_resumed = replay(
        spark, feed, build, f"tiny_{mode}_rec", mode=mode, stop_after=1
    )
    assert rows(resumed) == rows(plain)
    assert len(rows(plain)) > 0
    for progress in (p_plain, p_resumed):
        ids = [p.batchId for p in progress]
        assert ids == sorted(set(ids))  # batch ids continue across the restart
        assert sum(p.numInputRows for p in progress) == 7


def test_replay_timeout_stops_the_query(spark):
    """A replay that does not finish in time fails loudly and leaves no
    query running."""
    from srm_etl_spark.streaming.events import replay

    with pytest.raises(RuntimeError, match="did not finish"):
        replay(spark, _tiny_feed(spark), _tiny_build("complete"), "tiny_timeout",
               mode="complete", timeout_sec=0)
    assert spark.streams.active == []


def test_checkpoint_recovery_matches_uninterrupted(spark, sf_dir):
    """Kill-and-resume invariance (streaming/events.py:replay, stop_after=2):
    q117's windowed late-drop replay and q157's watermarked dedup replay,
    stopped after batch 2 of 3 and restarted from the checkpoint, must emit
    exactly the uninterrupted runs' sets — watermark and operator state
    resume from the state store, the file sink's commit log keeps rows
    exactly-once across the restart."""
    import os

    from srm_etl_spark.plans import REGISTRY

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    for name in ("q117_late_data_drops", "q157_stream_dedup"):
        plain = rows(REGISTRY[name].spark(spark, sf_dir))
        os.environ["SPARK_GRAFT_STREAM_RECOVERY"] = "1"
        try:
            recovered = rows(REGISTRY[name].spark(spark, sf_dir))
        finally:
            os.environ.pop("SPARK_GRAFT_STREAM_RECOVERY", None)
        assert recovered == plain, f"{name}: recovery changed the emitted set"
        assert len(recovered) > 0


def test_checkpoint_recovery_whole_streaming_family(spark, sf_dir):
    """Round-11 extension of the recovery gate to EVERY streaming query:
    complete-mode window/session aggregates (q53/q73/q88 — memory sink,
    which Spark allows to resume in complete mode), the custom stateful
    operator (q60 — update mode through the fault-tolerant foreachBatch
    append, since the memory sink can't resume in update mode), the
    stream-stream interval join (q64 — parquet-sink harness; cross-crash
    pairs need the join state back), and the foreachBatch staging MERGE
    (q137 — versioned upsert resumes at the next batch_id)."""
    import os

    from srm_etl_spark.plans import REGISTRY

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    for name in (
        "q53_stream_tumbling",
        "q60_stream_running_totals",
        "q64_stream_join",
        "q73_stream_enrich",
        "q88_stream_sessions",
        "q137_meser_streaming_staging",
    ):
        plain = rows(REGISTRY[name].spark(spark, sf_dir))
        os.environ["SPARK_GRAFT_STREAM_RECOVERY"] = "1"
        try:
            recovered = rows(REGISTRY[name].spark(spark, sf_dir))
        finally:
            os.environ.pop("SPARK_GRAFT_STREAM_RECOVERY", None)
        assert recovered == plain, f"{name}: recovery changed the emitted set"
        assert len(recovered) > 0


def test_scaled_state_partitions_sizing(spark):
    """The state-partition derivation: byte-derived for JVM-state plans,
    rate-adjusted (smaller advisory) for Python-stateful plans, clamped to
    the session setting, and always restored on exit."""
    from srm_etl_spark.streaming.events import scaled_state_partitions

    cur = int(spark.conf.get("spark.sql.shuffle.partitions"))
    advisory = 64 << 20  # session default advisoryPartitionSizeInBytes

    # JVM-state: a dimension-scale source coalesces to ceil(bytes/advisory)
    with scaled_state_partitions(spark, 2 * advisory + 1):
        assert int(spark.conf.get("spark.sql.shuffle.partitions")) == min(cur, 3)
    assert int(spark.conf.get("spark.sql.shuffle.partitions")) == cur

    # Python-stateful: the same source sizes against advisory/1024 — the
    # per-group Python dispatch cost means one shuffle-advisory of input is
    # NOT one partition of work (the q60 single-partition regression)
    src = 2 * (advisory // 1024) + 1
    with scaled_state_partitions(spark, src, python_stateful=True):
        assert int(spark.conf.get("spark.sql.shuffle.partitions")) == min(cur, 3)
    with scaled_state_partitions(spark, src):  # JVM sizing: same bytes -> 1
        assert int(spark.conf.get("spark.sql.shuffle.partitions")) == 1
    assert int(spark.conf.get("spark.sql.shuffle.partitions")) == cur

    # production volumes clamp at the session setting (no-op)
    with scaled_state_partitions(spark, 10_000 * advisory):
        assert int(spark.conf.get("spark.sql.shuffle.partitions")) == cur

    # unknown volume: untouched
    with scaled_state_partitions(spark, None):
        assert int(spark.conf.get("spark.sql.shuffle.partitions")) == cur
