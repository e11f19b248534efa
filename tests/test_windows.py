"""latest_per_key contract: ascending plain-name tiebreaks, identical keeper
on the aggregate fast path and the window fallback, and graceful fallback for
unorderable (MapType) frames."""

import pytest
from pyspark.sql import functions as F


def _base_rows():
    # user 1: ts tie at 20 → tiebreak "a" < "b" must win (ascending)
    # user 2: plain max ts
    return [
        (1, 10, "z", "old"),
        (1, 20, "b", "tie-b"),
        (1, 20, "a", "tie-a"),
        (2, 5, "x", "only-old"),
        (2, 7, "y", "newest"),
    ]


def test_ascending_string_tiebreak_fast_path(spark):
    from srm_etl_spark.operators.windows import latest_per_key

    df = spark.createDataFrame(_base_rows(), "user int, ts long, tb string, payload string")
    out = {r["user"]: r["payload"] for r in latest_per_key(df, ["user"], "ts", ["tb"]).collect()}
    assert out == {1: "tie-a", 2: "newest"}
    # numeric ts + orderable schema → aggregate plan, no window
    plan = latest_per_key(df, ["user"], "ts", ["tb"])._jdf.queryExecution().simpleString()
    assert "windowspecdefinition" not in plan


def test_map_column_falls_back_to_window(spark):
    from srm_etl_spark.operators.windows import latest_per_key

    df = spark.createDataFrame(_base_rows(), "user int, ts long, tb string, payload string")
    df = df.withColumn("m", F.create_map(F.lit("k"), F.col("payload")))
    out = latest_per_key(df, ["user"], "ts", ["tb"])
    plan = out._jdf.queryExecution().simpleString()
    assert "windowspecdefinition" in plan  # struct min/max would raise on maps
    got = {r["user"]: r["payload"] for r in out.collect()}
    assert got == {1: "tie-a", 2: "newest"}


def test_null_ts_loses_both_paths(spark):
    from srm_etl_spark.operators.windows import latest_per_key

    rows = [(1, None, "a", "nullts"), (1, 5, "b", "real")]
    df = spark.createDataFrame(rows, "user int, ts long, tb string, payload string")
    fast = latest_per_key(df, ["user"], "ts", ["tb"]).collect()
    assert [r["payload"] for r in fast] == ["real"]
    slow = latest_per_key(
        df.withColumn("m", F.create_map(F.lit("k"), F.col("payload"))), ["user"], "ts", ["tb"]
    ).collect()
    assert [r["payload"] for r in slow] == ["real"]


def test_enumerate_rows_scalable_parity(spark):
    from srm_etl_spark.operators.windows import enumerate_rows, enumerate_rows_scalable

    df = spark.range(0, 500, 1, 8).withColumn("v", (F.col("id") * 37) % 101)
    a = enumerate_rows(df, ["v", "id"], "idx", small=True).select("id", "idx").collect()
    b = enumerate_rows_scalable(df, ["v", "id"], "idx", num_partitions=5).select(
        "id", "idx"
    ).collect()
    assert sorted((r["id"], r["idx"]) for r in a) == sorted((r["id"], r["idx"]) for r in b)


def test_enumerate_rows_scalable_empty_frame(spark):
    # Zero input rows used to fail ANALYSIS (the offsets create_map() is an
    # untyped empty literal, so map()[_pid] has a VOID key type) — hit in
    # the wild by maximal_repeat_spans on a corpus with no duplicated
    # windows. Must return an empty frame with the index column present.
    from srm_etl_spark.operators.windows import enumerate_rows_scalable

    df = spark.range(0, 100).withColumn("v", F.col("id")).filter(F.col("id") < 0)
    out = enumerate_rows_scalable(df, ["v"], "idx", num_partitions=4)
    assert out.count() == 0
    assert "idx" in out.columns and "_pid" not in out.columns


def test_keep_persisted_pooled_bounds_slot_count(spark):
    # A long session enumerating many distinct frames must not accumulate
    # unbounded MEMORY_AND_DISK relations: the pool is LRU-bounded.
    from srm_etl_spark.operators import session_cache as sc

    frames = [spark.range(0, 10 + i).withColumn("v", F.col("id") * i) for i in range(5)]
    pinned = []
    for f in frames:
        pinned.append(sc.keep_persisted_pooled(f, "test_pool", max_slots=2))
    assert len(sc._POOLS["test_pool"]) == 2  # 3 oldest evicted
    # surviving slots are the two most recent, still usable
    assert pinned[-1].count() == 14
    # re-pinning the most recent frame reuses the SAME persisted object
    again = sc.keep_persisted_pooled(frames[-1], "test_pool", max_slots=2)
    assert again is pinned[-1]
    # evicted frames were unpersisted
    assert not pinned[0].storageLevel.useMemory
    # a pool whose name PREFIXES another must not see or evict its pins
    other = sc.keep_persisted_pooled(spark.range(3), "test_pool_extra", max_slots=1)
    assert len(sc._POOLS["test_pool"]) == 2
    assert len(sc._POOLS["test_pool_extra"]) == 1
    other.unpersist(blocking=False)
    sc._POOLS.pop("test_pool_extra", None)
    for df in sc._POOLS.pop("test_pool").values():
        df.unpersist(blocking=False)


@pytest.mark.parametrize("n_threads, max_slots", [(2, 8), (8, 3)])
def test_checkpoint_pool_takes_pins_from_many_threads(spark, n_threads, max_slots):
    # Driver threads pin different plans into ONE checkpoint pool at the
    # same moment (the ES publish's responses and situations dimensions
    # share fixture_taxonomy_dim): each gets its own pin, and the pool keeps
    # the most recent ones without passing its cap. More threads than cores
    # and a short switch interval make the registry updates interleave.
    import sys
    import threading
    from concurrent.futures import ThreadPoolExecutor

    from srm_etl_spark.operators import session_cache as sc

    base = spark.range(60).withColumn("k", F.col("id") % 10)
    plans = [base.filter(F.col("k") == k).select("id") for k in range(n_threads)]
    start = threading.Barrier(n_threads, timeout=60)

    def pin(df):
        start.wait()
        return sc.keep_checkpointed_pooled(
            df, "test_thread_pool", max_slots=max_slots, eager=False
        )

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(max_workers=n_threads) as pool:
            pins = list(pool.map(pin, plans, timeout=120))
    finally:
        sys.setswitchinterval(interval)
    try:
        assert len({id(p) for p in pins}) == n_threads
        for k, p in enumerate(pins):
            assert sorted(r.id for r in p.collect()) == list(range(k, 60, 10))
        held = [ck for _orig, ck in sc._CKPT_POOLS["test_thread_pool"].values()]
        assert len(held) == min(n_threads, max_slots)
        assert {id(ck) for ck in held} <= {id(p) for p in pins}
    finally:
        for _orig, ck in sc._CKPT_POOLS.pop("test_thread_pool", {}).values():
            sc.release_checkpoint(ck)


def test_pack_sequences_budget_semantics(spark):
    from srm_etl_spark.operators.packing import pack_sequences

    rows = [(1, "a", 5), (2, "a", 5), (3, "a", 5), (4, "a", 5), (5, "b", 12)]
    df = spark.createDataFrame(rows, "doc int, lang string, tok long")
    out = pack_sequences(df, "tok", ["doc"], budget=10, strata=["lang"])
    got = {r["doc"]: (r["seq_id"], r["start_offset"]) for r in out.collect()}
    # lang a: offsets 0,5,10,15 -> seqs 0,0,1,1; lang b independent: offset 0
    assert got == {1: (0, 0), 2: (0, 5), 3: (1, 10), 4: (1, 15), 5: (0, 0)}


def test_first_per_group_named_aggs(spark):
    from srm_etl_spark.operators.windows import first_per_group

    rows = [(1, 3, "c"), (1, 1, "a"), (1, 2, "b"), (2, 9, "z")]
    df = spark.createDataFrame(rows, "k int, o int, v string")
    out = first_per_group(
        df, ["k"], [F.asc("o")], aggs={"n": F.count(F.lit(1)), "mx": F.max("o")}
    ).collect()
    got = {r["k"]: (r["v"], r["n"], r["mx"]) for r in out}
    assert got == {1: ("a", 3, 3), 2: ("z", 1, 9)}


def test_release_all_drops_every_pin(spark):
    from pyspark.sql import functions as F

    from srm_etl_spark.operators import session_cache as sc

    named = sc.keep_persisted(spark.range(20).withColumn("v", F.col("id") * 3), "rel_t")
    pooled = sc.keep_persisted_pooled(spark.range(21), "rel_pool", max_slots=2)
    ck = sc.keep_checkpointed_pooled(spark.range(22), "rel_ck", max_slots=2)
    assert named.count() == 20 and pooled.count() == 21 and ck.count() == 22
    outside = spark.range(23).persist()
    outside.count()
    sc.release_all(spark)
    assert sc._SLOTS == {} and sc._POOLS == {} and sc._CKPT_POOLS == {}
    assert not named.storageLevel.useMemory  # unpersisted, not just forgotten
    assert not outside.storageLevel.useMemory  # catalog cache cleared too
    # persisted frames remain USABLE after release (recompute, not wrong
    # answer); the checkpointed frame's blocks are freed DETERMINISTICALLY
    # (truncated lineage cannot recompute — release_all's contract is that
    # harnesses call it only between fully-materialized queries, so nothing
    # may still reference ck). Re-pinning the same plan rebuilds cleanly.
    assert named.count() == 20 and pooled.count() == 21
    import pytest

    with pytest.raises(Exception, match="(?i)checkpoint|block"):
        ck.count()
    rebuilt = sc.keep_checkpointed_pooled(spark.range(22), "rel_ck", max_slots=2)
    assert rebuilt.count() == 22
    sc.release_all(spark)


def test_keep_checkpointed_pooled_truncates_lineage_and_reuses(spark):
    from pyspark.sql import functions as F

    from srm_etl_spark.operators import session_cache as sc

    base = (
        spark.range(0, 100, 1, 4)
        .withColumn("k", F.col("id") % 7)
        .groupBy("k")
        .count()
    )
    ck = sc.keep_checkpointed_pooled(base, "ck_test", max_slots=2)
    # lineage truncated: the checkpointed frame's plan is a scan, no exchange
    plan = ck._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    assert "Exchange" not in plan
    assert sorted((r["k"], r["count"]) for r in ck.collect()) == sorted(
        (r["k"], r["count"]) for r in base.collect()
    )
    # same semantic plan -> the SAME checkpointed object comes back
    again = sc.keep_checkpointed_pooled(
        spark.range(0, 100, 1, 4).withColumn("k", F.col("id") % 7).groupBy("k").count(),
        "ck_test",
        max_slots=2,
    )
    assert again is ck
    sc.release_all()


def test_keep_checkpointed_pooled_reliable_mode(spark, tmp_path, monkeypatch):
    # Cluster posture (VERDICT r14): with SPARK_GRAFT_RELIABLE_CKPT_DIR set
    # the pin is a RELIABLE checkpoint — durable files under the configured
    # dir, same results, lineage still truncated — and release_all still
    # clears the pool. localCheckpoint stays the default (no env).
    import os

    from pyspark.sql import functions as F

    from srm_etl_spark.operators import session_cache as sc

    base = spark.range(0, 50, 1, 4).withColumn("k", F.col("id") % 5).groupBy("k").count()
    expected = sorted((r["k"], r["count"]) for r in base.collect())

    ckdir = str(tmp_path / "reliable_ckpt")
    monkeypatch.setenv("SPARK_GRAFT_RELIABLE_CKPT_DIR", ckdir)
    try:
        pinned = sc.keep_checkpointed_pooled(base, "rel_mode_test", max_slots=2)
        plan = pinned._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
        assert "Exchange" not in plan  # truncated either way
        assert sorted((r["k"], r["count"]) for r in pinned.collect()) == expected
        # the durable artifact exists under the configured dir
        found = [
            os.path.join(dp, f)
            for dp, _dn, fn in os.walk(ckdir)
            for f in fn
        ]
        assert found, "reliable checkpoint wrote no files"
        # a reliable-checkpoint pin SURVIVES release_all (file-backed): the
        # deterministic block unpersist only kills localCheckpoint pins
        sc.release_all(spark)
        assert sc._CKPT_POOLS == {}
        assert sorted((r["k"], r["count"]) for r in pinned.collect()) == expected
    finally:
        # unsetting the env restores the localCheckpoint default for every
        # later pin (the sc-level checkpoint dir may stay set — harmless,
        # reliable mode is gated on the env var alone)
        monkeypatch.delenv("SPARK_GRAFT_RELIABLE_CKPT_DIR", raising=False)
        sc.release_all(spark)
