"""Unit tests for the five-index ES publish flows (pipelines/es_publish.py,
reference operators/derive/to_es.py). The composed surface is oracle-gated as
q161; these pin the per-flow edge semantics."""

import pytest
from pyspark.sql import functions as F

from srm_etl_spark.pipelines.es_publish import (
    autocomplete_publish,
    cards_api_surface,
    organizations_surface,
    places_surface,
    taxonomy_count_surface,
)


def test_airtable_last_modified_max_of_present(spark):
    # reference to_es.py:85-94: max over the PARSEABLE stamps, null when
    # both absent — filter(None) + max
    df = spark.createDataFrame(
        [
            ("a", "2024-01-05", "2024-03-01"),
            ("b", None, "2024-02-02"),
            ("c", "2024-07-09", None),
            ("d", None, None),
        ],
        "card_key string, service_last_modified string, branch_last_modified string",
    )
    got = {
        r["card_key"]: r["airtable_last_modified"]
        for r in cards_api_surface(df).collect()
    }
    assert got == {"a": "2024-03-01", "b": "2024-02-02", "c": "2024-07-09", "d": None}


def test_places_surface_query_score_and_predefined(spark):
    # one location row; bounds [W,S,E,N] = lon/lat ± 0.1; kind from nk % 6
    locs = spark.createDataFrame(
        [("loc-1", "תל אביב", 32.0, 34.0, False)],
        "key string, city string, lat double, lon double, national_service boolean",
    )
    rows = {r["key"]: r for r in places_surface(spark, locs).collect()}
    # 1 fixture row + the reference's 4 PREDEFINED regions (to_es.py:179-184)
    assert len(rows) == 5
    p = rows["place-1"]
    assert p["query"] == "איזור תל אביב"  # longest display name wins
    assert p["place"] == "city"  # nk % 6 == 1
    # score = (E-W)*(N-S)*100000 * weight(city=100)
    assert p["score"] == pytest.approx(0.2 * 0.2 * 100000 * 100)
    gd = rows["גוש_דן"]
    assert gd["query"] == "גוש דן" and gd["place"] == "region"
    assert gd["score"] == pytest.approx((35.1 - 34.6) * (32.181 - 31.8) * 100000 * 200)


def test_taxonomy_count_surface_filters(spark):
    # ACTIVE + counted only (the reference's two filter_rows, to_es.py:232-233);
    # counts are parent-expanded per card
    cards = spark.createDataFrame(
        [(["x:a:b"],), (["x:a:c"],)], "ids array<string>"
    )
    dim = spark.createDataFrame(
        [
            ("x:a", "n1", "s1", "b1", "ACTIVE"),
            ("x:a:b", "n2", "s2", "b2", "ACTIVE"),
            ("x:a:c", "n3", "s3", "b3", "INACTIVE"),  # active filter drops
            ("x:zz", "n4", "s4", "b4", "ACTIVE"),     # never counted -> drops
        ],
        "id string, name string, synonyms string, breadcrumbs string, status string",
    )
    got = {r["id"]: r["count"] for r in taxonomy_count_surface(cards, dim, "ids").collect()}
    assert got == {"x:a": 2, "x:a:b": 1}


def test_organizations_surface_score(spark):
    cards = spark.createDataFrame([("o1",), ("o1",), ("o2",)], "organization string")
    orgs = spark.createDataFrame(
        [("o1", "Org One", None, "company")],
        "id string, name string, description string, kind string",
    )
    got = {r["id"]: r for r in organizations_surface(cards, orgs).collect()}
    assert got["o1"]["count"] == 2 and got["o1"]["score"] == 20.0
    # half-outer: a counted org missing from the dim keeps nulls (reference
    # DF.join keeps unmatched target rows)
    assert got["o2"]["name"] is None and got["o2"]["score"] == 10.0


def test_autocomplete_publish_id_collapse_unlimited(spark):
    corpus = spark.createDataFrame(
        [
            ("a b", "a_b", 3, 1.0, 0, False),
            ("a-b", "a_b", 2, 2.0, 1, True),   # same slug id -> collapses
            ("zz", "zz", 1, 0.5, 0, False),
            ("mm", "mm", 1, 0.5, 0, False),
        ],
        "query string, qid string, n long, score double, importance int, low boolean",
    )
    # the PUBLISHED surface (reference to_es.py:325-331): unlimited, no rank
    out = autocomplete_publish(corpus).collect()
    by_qid = {r["qid"]: r for r in out}
    # keeper is deterministic (min by query text): 'a b' < 'a-b' in UTF-8
    assert by_qid["a_b"]["query"] == "a b" and by_qid["a_b"]["n"] == 3
    assert set(by_qid) == {"a_b", "zz", "mm"}
    assert "rank" not in autocomplete_publish(corpus).columns


def test_autocomplete_publish_backup_limit_opt_in(spark):
    # the BACKUP flow (reference to_es.py:333, CKAN dump commented out):
    # limit_rows is an explicit opt-in rank gate in query order
    corpus = spark.createDataFrame(
        [
            ("a b", "a_b", 3, 1.0, 0, False),
            ("zz", "zz", 1, 0.5, 0, False),
            ("mm", "mm", 1, 0.5, 0, False),
        ],
        "query string, qid string, n long, score double, importance int, low boolean",
    )
    out = autocomplete_publish(corpus, limit_rows=2).collect()
    assert {r["qid"] for r in out} == {"a_b", "mm"}  # 'zz' cut by the limit
    assert [r["rank"] for r in sorted(out, key=lambda r: r["rank"])] == [1, 2]


def test_autocomplete_qid_determines_payload(spark):
    """Pin the duplicate-qid collapse assumption (keeper = min-by-query vs the
    reference's last-indexed-wins ES semantics): benign ONLY while qid is a
    pure function of the query text, i.e. two corpus rows sharing a qid never
    carry distinct payloads beyond the query string itself. If a corpus
    change ever maps one slug to two different (n, score, importance, low)
    payloads for the SAME query, this fails loudly and the keeper choice must
    be revisited (see ADVICE r10 / to_es.py:325-331 set_primary_key)."""
    from srm_etl_spark.pipelines.autocomplete import (
        autocomplete_corpus,
        autocomplete_input,
        city_bounds,
    )
    from srm_etl_spark.pipelines.derive import run_derive
    from srm_etl_spark.pipelines.staging_fixtures import locations

    sf = "/root/testdata/sf0.001"
    st = run_derive(spark, sf)
    corpus = autocomplete_corpus(
        autocomplete_input(st["flat_table"]), city_bounds(locations(spark, sf))
    )
    bad = (
        corpus.groupBy("qid")
        .agg(
            F.count_distinct(
                F.struct("query", "n", "score", "importance", "low")
            ).alias("npay")
        )
        .filter(F.col("npay") > 1)
        .count()
    )
    assert bad == 0, "a qid maps to >1 distinct payload — keeper semantics diverge"


def test_operator_publish_all_six_indexes(spark, tmp_path):
    """The reference's to_es.operator() orchestration (to_es.py:340-350): one
    derive run pushes all six indexes through the full publish protocol —
    ensure(mapping) before load, bulk partitions shipped, one revision sweep
    per index keeping exactly that publish's revision."""
    import json
    import os

    from srm_etl_spark.pipelines.es_publish import operator_publish_all
    from srm_etl_spark.sinks.es import recording_sweep, spool_ship, sweep_revision

    spools = {}

    def ship_factory(index):
        d = tmp_path / index
        d.mkdir()
        spools[index] = str(d)
        return spool_ship(str(d))

    sweeps = []
    ensured = []

    def ensure(index, mappings):
        ensured.append((index, mappings))

    revs = operator_publish_all(
        spark, "/root/testdata/sf0.001", ship_factory, recording_sweep(sweeps),
        ensure=ensure, settle_seconds=0,
    )
    expected = {
        "srm__cards", "srm__places", "srm__responses",
        "srm__situations", "srm__orgs", "srm__autocomplete",
    }
    assert set(revs) == expected
    # every index got a mapping BEFORE its load, with the revision keyword
    # the sweep's term query depends on (es_utils.py:67)
    assert {i for i, _ in ensured} == expected
    for _, m in ensured:
        assert m["properties"]["revision"] == {"type": "keyword"}
    # every index swept exactly once, keeping its own publish's revision
    assert len(sweeps) == 6
    assert {i: sweep_revision(b) for i, b in sweeps} == revs
    # every spool holds bulk pairs addressed to its index, stamped with the
    # publish revision
    for index, d in spools.items():
        lines = []
        for f in os.listdir(d):
            lines += open(os.path.join(d, f), encoding="utf-8").read().splitlines()
        assert lines, f"{index}: empty bulk spool"
        action, doc = lines[0].split("\t")
        assert json.loads(action)["index"]["_index"] == index
        assert json.loads(doc)["revision"] == revs[index]


def test_operator_publish_all_failure_still_publishes_the_rest(spark, tmp_path):
    """The six publishes run on their own threads. When one index's bulk
    ship raises, that error reaches the caller, the other five indexes are
    still shipped and swept, and no publish thread outlives the call."""
    import os
    import threading

    from srm_etl_spark.pipelines.es_publish import operator_publish_all
    from srm_etl_spark.sinks.es import recording_sweep, spool_ship

    failing = "srm__orgs"
    spools = {}

    def ship_factory(index):
        if index == failing:
            def ship(rows):
                raise RuntimeError(f"bulk endpoint down for {index}")

            return ship
        d = tmp_path / index
        d.mkdir()
        spools[index] = str(d)
        return spool_ship(str(d))

    sweeps = []
    threads_before = threading.active_count()
    with pytest.raises(Exception, match=f"bulk endpoint down for {failing}"):
        operator_publish_all(
            spark, "/root/testdata/sf0.001", ship_factory, recording_sweep(sweeps),
        )
    assert threading.active_count() == threads_before
    others = {
        "srm__cards", "srm__places", "srm__responses",
        "srm__situations", "srm__autocomplete",
    }
    assert set(spools) == others
    assert {i for i, _ in sweeps} == others
    for index, d in spools.items():
        assert os.listdir(d), f"{index}: empty bulk spool"
