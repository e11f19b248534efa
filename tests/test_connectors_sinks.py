"""Tests for source connectors (S3-S13) and sink protocol builders
(K1/K2/K4/K5) — transports injected, no network."""

import json
import os

import pytest
from pyspark.sql import functions as F

from srm_etl_spark.sinks.files import write_datapackage
from srm_etl_spark.sinks.jdbc import index_ddl
from srm_etl_spark.sinks.rest import ckan_dataset_payload, upsert_payloads
from srm_etl_spark.sources.connectors import (
    dedup_headers,
    flatten_taxonomy,
    html_table_to_df,
    json_records,
    json_to_df,
    keyset_paged_to_df,
    linked_pager_to_df,
    paged_to_df,
    spreadsheet_to_df,
    taxonomy_to_df,
)


def test_json_records_envelopes():
    assert json_records([{"a": 1}]) == [{"a": 1}]
    assert json_records({"records": [{"a": 1}]}) == [{"a": 1}]
    assert json_records({"result": {"records": [{"a": 1}]}}) == [{"a": 1}]
    assert json_records({"items": [{"a": 1}], "total": 1}) == [{"a": 1}]
    assert json_records({"a": 1}) == [{"a": 1}]
    assert json_records(None) == []


def test_json_to_df(spark):
    df = json_to_df(spark, {"data": [{"a": 1, "b": "x"}, {"a": 2, "b": "y"}]})
    assert df.count() == 2 and set(df.columns) == {"a", "b"}


def test_paged_to_df_with_flaky_page(spark):
    rows = [{"n": i} for i in range(250)]
    fails = {"left": 2}

    def fetch(skip, limit):
        if skip == 100 and fails["left"] > 0:
            fails["left"] -= 1
            raise ConnectionError("transient")
        return rows[skip : skip + limit]

    df = paged_to_df(spark, fetch, page_size=100, schema="n long")
    assert df.count() == 250
    assert [r.n for r in df.orderBy("n").limit(3).collect()] == [0, 1, 2]


def test_paged_to_df_gives_up():
    def fetch(skip, limit):
        raise ConnectionError("down")

    with pytest.raises(RuntimeError, match="failed after"):
        paged_to_df(None, fetch, page_size=10, retries=2)


def test_keyset_pager_and_invariants(spark):
    data = [{"k": i, "v": i * 10} for i in range(1, 26)]

    def fetch_after(cursor):
        lo = 0 if cursor is None else cursor
        return [r for r in data if r["k"] > lo][:10]

    df = keyset_paged_to_df(spark, fetch_after, key_of=lambda r: r["k"], schema="k long, v long")
    assert df.count() == 25

    def bad_fetch(cursor):
        return [{"k": 1}]  # repeats forever

    with pytest.raises(AssertionError, match="monotonic|duplicate"):
        keyset_paged_to_df(spark, bad_fetch, key_of=lambda r: r["k"], schema="k long")


def test_linked_pager(spark):
    pages = {
        "p1": {"records": [{"a": 1}], "next": "p2"},
        "p2": {"records": [{"a": 2}], "next": "p3"},
        "p3": {"records": [], "next": None},
    }
    df = linked_pager_to_df(spark, lambda u: pages[u], "p1", schema="a long")
    assert sorted(r.a for r in df.collect()) == [1, 2]


def test_dedup_headers():
    assert dedup_headers(["a", "a", "b", "a"]) == ["a", "a_2", "b", "a_3"]


def test_spreadsheet_csv(spark, tmp_path):
    p = tmp_path / "sheet.csv"
    p.write_text("skip me\nid,name,name\n1,x,y\n2,z,w\n")
    df = spreadsheet_to_df(spark, str(p), headers_row=2)
    assert df.columns == ["id", "name", "name_2"]
    assert df.count() == 2


def test_html_table(spark):
    html = """<html><body><table>
    <tr><th>city</th><th>count</th></tr>
    <tr><td>תל אביב</td><td>5</td></tr>
    <tr><td>חיפה</td><td>3</td></tr>
    </table></body></html>"""
    df = html_table_to_df(spark, html)
    assert df.count() == 2 and df.columns == ["city", "count"]


def test_taxonomy_flatten(spark):
    tree = [
        {
            "slug": "human_services",
            "name": "שירותים",
            "items": [
                {"slug": "health", "name": "בריאות", "synonyms": ["רפואה"]},
                {"slug": "care", "name": "טיפול", "items": [{"slug": "home", "name": "בית"}]},
            ],
        }
    ]
    rows = flatten_taxonomy(tree)
    ids = [r["id"] for r in rows]
    assert ids == [
        "human_services",
        "human_services:health",
        "human_services:care",
        "human_services:care:home",
    ]
    assert rows[3]["breadcrumbs"] == "שירותים / טיפול"
    df = taxonomy_to_df(spark, tree)
    assert df.count() == 4


def test_index_ddl():
    ddl = index_ddl("cards", ["card_id", "branch_city"])
    assert ddl == [
        'CREATE INDEX IF NOT EXISTS "idx_cards_card_id" ON "cards" ("card_id")',
        'CREATE INDEX IF NOT EXISTS "idx_cards_branch_city" ON "cards" ("branch_city")',
    ]


def test_upsert_payloads_batching(spark):
    df = spark.createDataFrame(
        [(f"k{i}", f"v{i}", "rec%d" % i if i < 12 else None) for i in range(30)],
        "id string, val string, _record_id string",
    )
    payloads = list(upsert_payloads(df, batch_size=10))
    methods = [p["method"] for p in payloads]
    assert set(methods) == {"PATCH", "POST"}
    for p in payloads:
        assert len(p["records"]) <= 10
        assert p["typecast"] is True
    n_updates = sum(len(p["records"]) for p in payloads if p["method"] == "PATCH")
    n_creates = sum(len(p["records"]) for p in payloads if p["method"] == "POST")
    assert (n_updates, n_creates) == (12, 18)
    patch = next(p for p in payloads if p["method"] == "PATCH")
    assert set(patch["records"][0].keys()) == {"id", "fields"}
    assert set(patch["records"][0]["fields"].keys()) == {"val"}


def test_ckan_payload(spark):
    df = spark.createDataFrame([(1, "x")], "id long, name string")
    body = ckan_dataset_payload(df, "cards")
    assert body["resources"][0]["schema"]["fields"] == [
        {"id": "id", "type": "bigint"},
        {"id": "name", "type": "string"},
    ]


def test_write_datapackage(spark, tmp_path):
    df = spark.createDataFrame([(1, "x"), (2, "y")], "id long, name string")
    manifest = write_datapackage(df.coalesce(1), str(tmp_path), "stage", fmt="csv")
    with open(os.path.join(tmp_path, "datapackage.json")) as fh:
        on_disk = json.load(fh)
    assert on_disk == manifest
    back = spark.read.option("header", "true").csv(str(tmp_path / "stage"))
    assert back.count() == 2


def test_load_datapackage_roundtrip(spark, tmp_path):
    from srm_etl_spark.sinks.files import write_datapackage
    from srm_etl_spark.sources.tables import load_datapackage

    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", -2.25)], "id long, name string, score double"
    )
    write_datapackage(df.coalesce(1), str(tmp_path), "things", fmt="csv")
    back = load_datapackage(spark, str(tmp_path))
    assert back.schema == df.schema
    assert sorted(back.collect()) == sorted(df.collect())


# ---------------------------------------------------------------------------
# Production HTTP transports (srm_etl_spark/transports.py): the protocol
# around the wire, driven with an injected fake session — no network.
# ---------------------------------------------------------------------------


class _Resp:
    def __init__(self, status, body=None, text=""):
        self.status_code, self._body, self.text = status, body, text

    def json(self):
        if self._body is None:
            raise ValueError("no body")
        return self._body

    def raise_for_status(self):
        if self.status_code >= 400:
            raise RuntimeError(f"HTTP {self.status_code}")


class _Session:
    def __init__(self, script):
        self.script, self.calls = list(script), []

    def request(self, method, url, **kw):
        self.calls.append((method, url, kw))
        return self.script.pop(0)


class TestTransports:
    def test_request_json_retries_on_503_with_backoff(self):
        from srm_etl_spark.transports import request_json

        s = _Session([_Resp(503), _Resp(503), _Resp(200, {"ok": 1})])
        slept = []
        out = request_json("http://x/api", session=s, sleep=slept.append, backoff=0.5)
        assert out == {"ok": 1} and len(s.calls) == 3
        assert slept == [0.5, 1.0]  # exponential

    def test_request_json_raises_past_retry_budget(self):
        from srm_etl_spark.transports import request_json

        s = _Session([_Resp(503)] * 3)
        with pytest.raises(RuntimeError, match="503"):
            request_json("http://x/api", session=s, retries=2, sleep=lambda _: None)

    def test_skip_limit_fetch_page_wires_gov_pager(self, spark):
        from srm_etl_spark.sources.connectors import paged_to_df
        from srm_etl_spark.transports import make_skip_limit_fetch_page

        pages = [
            _Resp(200, {"records": [{"id": 1}, {"id": 2}]}),
            _Resp(200, {"records": [{"id": 3}]}),  # short page ends the scan
        ]
        s = _Session(pages)
        fetch_page = make_skip_limit_fetch_page("http://gov/api", session=s)
        df = paged_to_df(spark, fetch_page, page_size=2)
        assert sorted(r.id for r in df.collect()) == [1, 2, 3]
        # the pager drove skip/limit through the transport's query params
        assert [c[2]["params"] for c in s.calls] == [
            {"skip": 0, "limit": 2},
            {"skip": 2, "limit": 2},
        ]

    def test_airtable_send_maps_method_and_auth(self):
        from srm_etl_spark.transports import make_airtable_send

        s = _Session([_Resp(200, {})])
        send = make_airtable_send("KEY", "appX", "tbl", session=s)
        send({"method": "PATCH", "records": [{"id": "r1", "fields": {}}], "typecast": True})
        method, url, kw = s.calls[0]
        assert method == "PATCH" and url.endswith("/appX/tbl")
        assert kw["headers"]["Authorization"] == "Bearer KEY"
        assert "method" not in kw["json"] and kw["json"]["typecast"] is True

    def test_es_ensure_index_creates_only_when_absent(self):
        import json as _json

        from srm_etl_spark.transports import make_es_ensure_index

        # absent index: HEAD 404 -> PUT {mappings}
        s = _Session([_Resp(404), _Resp(200, {"acknowledged": True})])
        ensure = make_es_ensure_index("http://es:9200/", session=s)
        mappings = {"properties": {"revision": {"type": "keyword"}}}
        assert ensure("cards", mappings) is True
        (m1, u1, _), (m2, u2, kw2) = s.calls
        assert (m1, u1) == ("HEAD", "http://es:9200/cards")
        assert (m2, u2) == ("PUT", "http://es:9200/cards")
        assert _json.loads(kw2["data"]) == {"mappings": mappings}

        # existing index: HEAD 200 -> no PUT
        s2 = _Session([_Resp(200)])
        ensure2 = make_es_ensure_index("http://es:9200", session=s2)
        assert ensure2("cards", mappings) is False
        assert len(s2.calls) == 1

        # HEAD->PUT race: a concurrent publisher created the index between
        # the calls; the already-exists 400 is the desired state, not an error
        s3 = _Session([
            _Resp(404),
            _Resp(400, {"error": {"type": "resource_already_exists_exception"}}),
        ])
        ensure3 = make_es_ensure_index("http://es:9200", session=s3)
        assert ensure3("cards", mappings) is False

        # any other 400 still raises
        s4 = _Session([
            _Resp(404),
            _Resp(400, {"error": {"type": "mapper_parsing_exception"}}),
        ])
        ensure4 = make_es_ensure_index("http://es:9200", session=s4)
        with pytest.raises(RuntimeError, match="400"):
            ensure4("cards", mappings)

    def test_es_ship_posts_one_ndjson_bulk_per_partition(self):
        from collections import namedtuple

        from srm_etl_spark.transports import make_es_ship

        Row = namedtuple("Row", "action_json doc_json")
        s = _Session([_Resp(200, {"errors": False})])
        ship = make_es_ship("http://es:9200", session=s)
        ship([Row('{"index":{}}', '{"a":1}'), Row('{"index":{}}', '{"a":2}')])
        method, url, kw = s.calls[0]
        assert url == "http://es:9200/_bulk"
        assert kw["data"] == '{"index":{}}\n{"a":1}\n{"index":{}}\n{"a":2}\n'
        assert kw["headers"]["Content-Type"] == "application/x-ndjson"
        ship([])  # empty partition -> no request
        assert len(s.calls) == 1

    def test_es_ship_chunks_large_partitions(self):
        # a partition is unbounded at scale: the ship must flush every
        # max_docs (or max_bytes), never one giant _bulk body
        from collections import namedtuple

        from srm_etl_spark.transports import make_es_ship

        Row = namedtuple("Row", "action_json doc_json")
        s = _Session([_Resp(200, {"errors": False})] * 3)
        ship = make_es_ship("http://es:9200", session=s, max_docs=4)
        ship([Row("{}", f'{{"i":{i}}}') for i in range(10)])  # 4 + 4 + 2
        assert len(s.calls) == 3
        assert s.calls[0][2]["data"].count("\n") == 8  # 4 docs x 2 lines
        assert s.calls[2][2]["data"].count("\n") == 4
        # byte cap flushes too
        s2 = _Session([_Resp(200, {})] * 2)
        ship2 = make_es_ship("http://es:9200", session=s2, max_bytes=30)
        ship2([Row("{}", '{"x":"' + "a" * 20 + '"}') for _ in range(2)])
        assert len(s2.calls) == 2

    def test_es_ship_raises_on_bulk_item_errors(self):
        # ES answers HTTP 200 with {"errors": true} when individual docs fail
        # (mapping conflicts) — the reference's streaming_bulk raises; a
        # silent partial flush would drop documents from the index.
        from collections import namedtuple

        from srm_etl_spark.transports import make_es_ship

        Row = namedtuple("Row", "action_json doc_json")
        body = {
            "errors": True,
            "items": [
                {"index": {"_id": "1", "status": 200}},
                {"index": {"_id": "2", "status": 409, "error": {"type": "version_conflict"}}},
            ],
        }
        s = _Session([_Resp(200, body)])
        ship = make_es_ship("http://es:9200", session=s)
        with pytest.raises(RuntimeError, match="version_conflict"):
            ship([Row('{"index":{}}', '{"a":1}')])

    def test_request_retries_transport_timeouts(self):
        # reference posture: retry_on_timeout=True (es_utils.py:16) — a
        # transient requests Timeout/ConnectionError retries under the same
        # bounded backoff, not a first-attempt task failure.
        import requests

        from srm_etl_spark.transports import request_json

        class _FlakySession:
            def __init__(self, failures, then):
                self.failures, self.then, self.calls = failures, then, 0

            def request(self, method, url, **kw):
                self.calls += 1
                if self.calls <= self.failures:
                    raise requests.Timeout("read timed out")
                return self.then

        s = _FlakySession(2, _Resp(200, {"ok": 1}))
        slept = []
        assert request_json("http://x/api", session=s, sleep=slept.append) == {"ok": 1}
        assert s.calls == 3 and slept == [1.0, 2.0]
        # budget exhausted -> the transport error propagates
        s2 = _FlakySession(99, _Resp(200, {}))
        with pytest.raises(requests.Timeout):
            request_json("http://x/api", session=s2, retries=1, sleep=lambda _: None)
        assert s2.calls == 2

    def test_ckan_create_retries_transients(self):
        from srm_etl_spark.transports import make_ckan_send

        s = _Session([_Resp(503), _Resp(200, {"success": True})])
        send = make_ckan_send("http://ckan", "KEY", "org1", session=s, sleep=lambda _: None)
        assert send({"name": "backup", "resources": []}) == {"success": True}
        assert [u for _, u, _ in s.calls] == [
            "http://ckan/api/3/action/package_create",
        ] * 2

    def test_es_sweep_delete_by_query(self):
        from srm_etl_spark.sinks.es import revision_sweep_body
        from srm_etl_spark.transports import make_es_sweep

        s = _Session([_Resp(200, {"deleted": 7})])
        sweep = make_es_sweep("http://es:9200/", session=s)
        out = sweep("cards", revision_sweep_body("r9"))
        assert out == {"deleted": 7}
        method, url, kw = s.calls[0]
        assert url == "http://es:9200/cards/_delete_by_query"
        assert kw["params"] == {"conflicts": "proceed"}
        assert '"r9"' in kw["data"]

    def test_ckan_send_conflict_falls_back_to_patch(self):
        from srm_etl_spark.transports import make_ckan_send

        s = _Session([_Resp(409), _Resp(200, {"success": True})])
        send = make_ckan_send("http://ckan", "KEY", "org1", session=s)
        out = send({"name": "backup", "title": "Manual Input Backup", "resources": []})
        assert out == {"success": True}
        (m1, u1, k1), (m2, u2, k2) = s.calls
        assert u1.endswith("package_create") and u2.endswith("package_patch")
        assert k2["json"]["id"] == "backup" and k1["json"]["owner_org"] == "org1"

    def test_github_transports_drive_backup_push(self):
        from srm_etl_spark.sinks.rest import github_backup_push
        from srm_etl_spark.transports import make_github_transports

        s = _Session([_Resp(200, {"sha": "abc"}), _Resp(200, {})])
        fetch, put = make_github_transports("TOK", session=s)
        assert github_backup_push(fetch, put, "2026-08-15") is True
        (mg, ug, kg), (mp, up, kp) = s.calls
        assert mg == "GET" and mp == "PUT"
        assert kg["headers"]["Authorization"] == "token TOK"
        assert kp["json"]["sha"] == "abc"
