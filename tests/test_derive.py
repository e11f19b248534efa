"""Derive-DAG invariants that the SQL oracle can't cover.

Reference semantics pinned here:
- card_id = sha1(branch_id + service_id)[:8]  (srm_tools/hash.py:4-6 and
  operators/derive/to_dp.py:798-803 in the reference) — byte-exact;
- duplicate-branch merge keeps exactly one branch per (organization,
  location) (to_dp.py:237-286);
- organization_branch_count counts post-merge branches (to_dp.py:275-281);
- the service × branch fan-out has a unique (service_id, branch_id) PK
  (to_dp.py:580-586,637).
"""

import pytest
from pyspark.sql import functions as F

from srm_etl_spark.functions.hashing import hasher_py
from srm_etl_spark.pipelines.derive import card_data, run_derive


@pytest.fixture(scope="module")
def stages(spark, sf_dir):
    return run_derive(spark, sf_dir)


def test_card_id_matches_reference_hasher(stages):
    rows = card_data(stages["flat_table"]).select("card_id", "branch_id", "service_id").limit(50).collect()
    assert rows
    for r in rows:
        assert r.card_id == hasher_py(r.branch_id, r.service_id)
        assert len(r.card_id) == 8


def test_flat_branches_unique_per_org_location(stages):
    fb = stages["flat_branches"]
    dups = fb.groupBy("organization", "location").count().filter(F.col("count") > 1)
    assert dups.count() == 0


def test_org_branch_count_consistent(stages):
    fb = stages["flat_branches"]
    recomputed = fb.groupBy("organization").count()
    joined = fb.select("organization", "organization_branch_count").distinct().join(
        recomputed, "organization"
    )
    bad = joined.filter(F.col("organization_branch_count") != F.col("count"))
    assert bad.count() == 0


def test_flat_table_pk_unique(stages):
    ft = stages["flat_table"]
    dups = ft.groupBy("service_id", "branch_id").count().filter(F.col("count") > 1)
    assert dups.count() == 0


def test_card_taxonomy_parent_expansion(stages):
    rows = card_data(stages["flat_table"]).select("response_ids").limit(20).collect()
    for r in rows:
        ids = r.response_ids.split(",")
        # every 3-segment tag must ride with its 2-segment parent, sorted
        assert ids == sorted(ids)
        full = [t for t in ids if t.count(":") == 2]
        for t in full:
            parent = t.rsplit(":", 1)[0]
            assert parent in ids


def test_card_data_full_rs_modes_agree(spark, sf_dir):
    # The joined (default, Catalyst-prunable) and per_row (shuffle-free,
    # folded score-map literal) formulations must produce identical values
    # on every column — q75's oracle gates per_row directly; this parity
    # makes the gate transitive to the joined default.
    from srm_etl_spark.pipelines.derive import card_data_full, run_derive

    ft = run_derive(spark, sf_dir)["flat_table"]
    joined = card_data_full(ft, max_score=3.0, rs_mode="joined")
    per_row = card_data_full(ft, max_score=3.0, rs_mode="per_row")
    cols = sorted(joined.columns)
    assert cols == sorted(per_row.columns)
    a = sorted(map(tuple, joined.select(cols).collect()))
    b = sorted(map(tuple, per_row.select(cols).collect()))
    assert a == b and len(a) > 0
    import pytest as _pytest

    with _pytest.raises(ValueError):
        card_data_full(ft, rs_mode="nope")


def test_auto_tagged_situations_score_zero(spark, sf_dir):
    # reference to_dp.py:735-736: an auto-tagged situation contributes 0 to
    # the card's rs_score, so it sorts behind organically-scored situations
    from pyspark.sql import functions as F

    from srm_etl_spark.pipelines.derive import card_data_full, run_derive

    ft = run_derive(spark, sf_dir)["flat_table"]
    # mark every card's FIRST direct situation (situations:size:*) as
    # auto-tagged
    ft_tagged = ft.withColumn("auto_tagged", F.array(F.col("situations").getItem(0)))
    full = card_data_full(ft_tagged, max_score=30.0, auto_tagged_col="auto_tagged")
    rows = full.select("situations_scored", "situation_scores_micro").limit(50).collect()
    assert rows
    for r in rows:
        sids = r["situations_scored"].split(",")
        scores = r["situation_scores_micro"].split(",")
        # the zeroed size-situation must sort last with a 0 score
        assert sids[-1].startswith("situations:size:")
        assert scores[-1] == "0"
        assert sids[0].startswith("situations:brand:")
    # and the un-tagged run must score the size situation > 0
    plain = card_data_full(ft, max_score=30.0)
    r0 = plain.select("situation_scores_micro").limit(5).collect()
    assert all(all(s != "0" for s in r["situation_scores_micro"].split(",")) for r in r0)


def test_incremental_refresh_equals_full_rebuild(spark, sf_dir):
    from pyspark.sql import functions as F

    from srm_etl_spark.pipelines import staging_fixtures as FIX
    from srm_etl_spark.pipelines.derive import card_data, flat_branches, flat_services, flat_table
    from srm_etl_spark.pipelines.incremental import changed_orgs_between, incremental_card_refresh

    orgs = FIX.organizations(spark, sf_dir)
    locs = FIX.locations(spark, sf_dir)
    brs = FIX.branches(spark, sf_dir)
    svcs = FIX.services(spark, sf_dir)
    # old snapshot lacks the "added" slice AND contains a "removed" slice the
    # new snapshot dropped - both change directions must be handled
    h = F.xxhash64(F.col("id")) % 5
    old_brs = brs.filter(h != 0)
    new_brs = brs.filter(h != 1)

    def full(b):
        fb = flat_branches(b, locs, orgs)
        return card_data(flat_table(flat_services(svcs, fb), fb))

    previous = full(old_brs)
    changed = changed_orgs_between(old_brs, new_brs)
    out = incremental_card_refresh(previous, new_brs, locs, orgs, svcs, changed)
    expect = full(new_brs)
    assert out.count() == expect.count()
    assert out.exceptAll(expect).count() == 0
    assert expect.exceptAll(out).count() == 0
    # cards of untouched orgs pass through untouched (no recompute surprises)
    changed_set = {r.organization for r in changed.collect()}
    kept = out.filter(~F.col("organization").isin(*changed_set)) if changed_set else out
    prev_kept = previous.filter(~F.col("organization").isin(*changed_set)) if changed_set else previous
    assert kept.exceptAll(prev_kept).count() == 0


def test_changed_orgs_between_detects_modifications(spark):
    from srm_etl_spark.pipelines.incremental import changed_orgs_between

    old = spark.createDataFrame(
        [("b1", "o1", "x"), ("b2", "o2", "y"), ("b3", "o3", "z")],
        "id string, organization string, name string",
    )
    # b1 modified, b2 removed, b4 added to o4, b3 untouched
    new = spark.createDataFrame(
        [("b1", "o1", "x2"), ("b3", "o3", "z"), ("b4", "o4", "w")],
        "id string, organization string, name string",
    )
    got = {r.organization for r in changed_orgs_between(old, new).collect()}
    assert got == {"o1", "o2", "o4"}


def test_card_search_slot_never_leaks_across_sf_dirs(spark):
    """The session slot is plan-keyed (sameSemantics), so switching sf_dir
    must evict rather than serve the other dir's branches — pinned because
    the memo family is load-bearing for bench and correctness runs."""
    from srm_etl_spark.operators.session_cache import release_all
    from srm_etl_spark.pipelines.derive import card_search

    small = card_search(spark, "/root/testdata/sf0.001")
    big = card_search(spark, "/root/testdata/sf0.01")
    big_rows = sorted(r["card_key"] for r in big.collect())
    # and going back re-evicts instead of serving the big-dir slot
    small_again = card_search(spark, "/root/testdata/sf0.001")
    assert sorted(r["card_key"] for r in small.collect()) == sorted(
        r["card_key"] for r in small_again.collect()
    )
    # an empty slot: sf0.01 built from scratch matches what the slot served
    release_all(spark)
    big_fresh = card_search(spark, "/root/testdata/sf0.01")
    assert big_rows == sorted(r["card_key"] for r in big_fresh.collect())
