"""Round-9 extension queries: the two composed certifications the round-8
verdict called for.

q158 — the FULL derive DAG as ONE single-lineage composition (reference
       operators/derive/__init__.py:8-27 + to_dp.py:922-935): srm_data pull
       → flat_branches → flat_services (branch mapping as a DataFrame,
       to_dp.py:928-932) → flat_table → card_data → autocomplete, with each
       stage's row-set hash-gated in one phase-labeled result. q34-q36, q74
       and q75 certify the stages individually; this certifies the
       CROSS-STAGE STATE HANDOFF end-to-end — the q129/q133 composition
       pattern applied to the §3.1 entry point.

q159 — the publish fan-out from ONE card surface (reference
       operators/derive/__init__.py:16-21 runs to_es → to_sql — and
       historically to_sitemap — all from the card_data dump): a single
       persisted card projection feeds the ES bulk action lines (K3, q122's
       byte-exact shape), the sitemap chunk documents (K8, q105's shape) and
       the SQL rows + index DDL (K2, to_sql.py:30-45's six single-column
       indexes) in one certified result — proving the engine re-uses one
       materialized surface rather than re-deriving the DAG per sink.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import functions as F

from .queries import _DERIVE_CTES, QueryDef
from .queries_ext6 import Q74_SQL

EXT21_REGISTRY: dict[str, QueryDef] = {}


def _s(c):
    """Null-safe string leg for a signature concat (both engines' concat_ws
    SKIP nulls, which would silently drop a separator — coalesce keeps the
    field count fixed)."""
    col = F.col(c) if isinstance(c, str) else c
    return F.coalesce(col.cast("string"), F.lit(""))


def _f(c, fmt="%.5f"):
    return F.format_string(fmt, F.col(c) if isinstance(c, str) else c)


def q158_derive_staged(spark, sf_dir):
    """SURVEY §3.1 composed end-to-end, ONE lineage (reference
    operators/derive/__init__.py:8-27, to_dp.py:922-935): the staging pull
    and all five derived stages emitted as (phase, key, sig) rows — the
    signature is a fixed-order concat of each stage's content columns, so a
    hash match gates every stage's full row-set AND the handoff between
    stages (flat_branches feeds flat_services and flat_table as the same
    DataFrame — the reference's driver-side ``branch_mapping`` dict,
    to_dp.py:928-932, as data). Scale shape: flat_branches and flat_table
    are persisted once (run_derive) and every phase reuses them; the union
    adds no shuffle of its own (each leg is a map over its stage)."""
    from ..pipelines import staging_fixtures as FIX  # noqa: PLC0415
    from ..pipelines.autocomplete import (  # noqa: PLC0415
        autocomplete_corpus,
        autocomplete_input,
        city_bounds,
    )
    from ..pipelines.derive import card_data, run_derive  # noqa: PLC0415

    orgs, locs = FIX.organizations(spark, sf_dir), FIX.locations(spark, sf_dir)
    brs, svcs = FIX.branches(spark, sf_dir), FIX.services(spark, sf_dir)
    st = run_derive(spark, sf_dir)
    fb, fs = st["flat_branches"], st["flat_services"]
    ft = st["flat_table"]
    cards = card_data(ft)
    ac = autocomplete_corpus(autocomplete_input(ft), city_bounds(locs))

    def phase(df, name, key, *sig_cols):
        return df.select(
            F.lit(name).alias("phase"),
            key.alias("key"),
            F.concat_ws("|", *sig_cols).alias("sig"),
        )

    legs = [
        # --- staging: the srm_data pull, BEFORE any status filter ---------
        phase(orgs, "staging", F.concat(F.lit("org:"), F.col("id")),
              _s("name"), _s("short_name"), _s("kind"), _s("phone")),
        phase(locs, "staging", F.concat(F.lit("loc:"), F.col("key")),
              _s("city"), _f("lat"), _f("lon"), _s("national_service")),
        phase(brs, "staging", F.concat(F.lit("branch:"), F.col("id")),
              _s("organization"), _s("location"), _s("name"), _s("address"), _s("status")),
        phase(svcs, "staging", F.concat(F.lit("service:"), F.col("id")),
              _s("name"), _s("organization"),
              F.array_join("responses", ","), F.array_join("situations", ","),
              _s("description"), _f("boost", "%.2f")),
        # --- stage 1: flat_branches (to_dp.py:288-406) ---------------------
        phase(fb, "flat_branches", F.concat(F.lit("fb:"), F.col("branch_id")),
              _s("organization"), _s("organization_name"), _s("organization_short_name"),
              _s("organization_kind"), _s("organization_phone"), _s("location"),
              _s("branch_name"), _s("branch_city"), _s("branch_address"),
              _f("lat"), _f("lon"), _s("national_service"),
              _s("organization_branch_count")),
        # --- stage 2: flat_services (to_dp.py:450-575) ---------------------
        phase(fs, "flat_services",
              F.concat(F.lit("fs:"), F.col("service_id"), F.lit("@"), F.col("branch_id")),
              _s("service_name"), _s("organization"),
              F.array_join("responses", ","), F.array_join("situations", ","),
              _s("service_description"), _f("service_boost", "%.2f")),
        # --- stage 3: flat_table (to_dp.py:577-698) ------------------------
        phase(ft, "flat_table",
              F.concat(F.lit("ft:"), F.col("service_id"), F.lit("@"), F.col("branch_id")),
              _s("service_name"), _s("organization"), _s("organization_name"),
              _s("organization_kind"), _s("branch_name"), _s("branch_city"),
              _s("branch_address"), _s("organization_branch_count"),
              _s("national_service"), _s("service_description"),
              _f("service_boost", "%.2f")),
        # --- stage 4: card_data (to_dp.py:756-920) --------------------------
        phase(cards, "card_data", F.concat(F.lit("card:"), F.col("card_key")),
              _s("service_id"), _s("service_name"), _s("branch_id"), _s("branch_name"),
              _s("branch_city"), _s("organization"), _s("organization_name"),
              _s("organization_branch_count"), _s("national_service"),
              _s("response_ids"), _s("situation_ids")),
        # --- stage 5: autocomplete corpus (autocomplete.py:165-207) ---------
        phase(ac, "autocomplete", F.concat(F.lit("ac:"), F.col("query")),
              _s("qid"), _s("n"), _f("score", "%.6f"), _s("importance"),
              _s("response"), _s("situation"), _s("org_name"), _s("city_name"),
              _s("low"), _s("bounds")),
    ]
    return reduce(lambda a, b: a.unionByName(b), legs)


Q158_SQL = _DERIVE_CTES + """
SELECT 'staging' AS phase, 'org:' || organization AS key,
       concat_ws('|', organization_name, organization_short_name,
                 organization_kind, organization_phone) AS sig
FROM orgs
UNION ALL
SELECT 'staging', 'loc:' || location,
       concat_ws('|', city, printf('%.5f', lat), printf('%.5f', lon),
                 CAST(national_service AS VARCHAR))
FROM locs
UNION ALL
SELECT 'staging', 'branch:' || id,
       concat_ws('|', organization, location, name, address, status)
FROM brs
UNION ALL
SELECT 'staging', 'service:' || id,
       concat_ws('|', name, organization, response0 || ',' || response1,
                 situation0 || ',' || situation1, coalesce(description, ''),
                 printf('%.2f', boost))
FROM svcs
UNION ALL
SELECT 'flat_branches', 'fb:' || branch_id,
       concat_ws('|', organization, organization_name, organization_short_name,
                 organization_kind, organization_phone, location, branch_name,
                 branch_city, branch_address, printf('%.5f', lat),
                 printf('%.5f', lon), CAST(national_service AS VARCHAR),
                 CAST(organization_branch_count AS VARCHAR))
FROM fb
UNION ALL
SELECT 'flat_services', 'fs:' || service_id || '@' || branch_id,
       concat_ws('|', service_name, organization,
                 response0 || ',' || response1, situation0 || ',' || situation1,
                 coalesce(description, ''), printf('%.2f', boost))
FROM fs
UNION ALL
SELECT 'flat_table', 'ft:' || f.service_id || '@' || f.branch_id,
       concat_ws('|', f.service_name, f.organization, fb.organization_name,
                 fb.organization_kind, fb.branch_name, fb.branch_city,
                 fb.branch_address, CAST(fb.organization_branch_count AS VARCHAR),
                 CAST(fb.national_service AS VARCHAR), coalesce(f.description, ''),
                 printf('%.2f', f.boost))
FROM fs f JOIN fb ON f.branch_id = fb.branch_id
UNION ALL
SELECT 'card_data', 'card:' || card_key,
       concat_ws('|', service_id, service_name, branch_id, branch_name,
                 branch_city, organization, organization_name,
                 CAST(organization_branch_count AS VARCHAR),
                 CAST(national_service AS VARCHAR), response_ids, situation_ids)
FROM cards
UNION ALL
SELECT 'autocomplete', 'ac:' || query,
       concat_ws('|', qid, CAST(n AS VARCHAR), printf('%.6f', score),
                 CAST(importance AS VARCHAR), coalesce(response, ''),
                 coalesce(situation, ''), coalesce(org_name, ''),
                 coalesce(city_name, ''), CAST(low AS VARCHAR),
                 coalesce(bounds, ''))
FROM (""" + Q74_SQL + """) ac
"""

EXT21_REGISTRY["q158_derive_staged"] = QueryDef(
    q158_derive_staged, Q158_SQL,
    "§3.1 composed single-lineage derive DAG: staging→fb→fs→ft→cards→autocomplete, per-stage hash-gated",
)


# --------------------------------------------------------------------------
# q159 — publish fan-out: one persisted card surface → ES + sitemap + SQL
# --------------------------------------------------------------------------

# the reference's six single-column card indexes (to_sql.py:34-41:
# service_name, organization_id, organization_kind, branch_city,
# national_service, card_id), under the engine surface's column names
# (``organization`` IS the organization id — staging_fixtures). card_id's
# index is named here but the column itself stays out of the row payload
# (sha1 — pinned by unit tests, not oracle-expressible); organization_kind is
# carried onto the surface from flat_branches for exactly this index.
_CARD_INDEX_FIELDS = [
    "service_name", "organization", "organization_kind", "branch_city",
    "national_service", "card_id",
]


def q159_publish_fanout(spark, sf_dir):
    """The derive tail's fan-out (reference operators/derive/__init__.py:16-21)
    from ONE materialized surface: card_data projected once, session-persisted,
    then consumed by all three sinks —

    - ``es`` phase: to_es_actions bulk lines (key = action line, payload =
      document line, byte-exact like q122);
    - ``sitemap`` phase: ≤100-URL chunk documents (key = file index, payload
      = the exact XML + URL count, byte-exact like q105);
    - ``sql`` phase: one row per card as the JDBC writer would emit it, plus
      ``sql_ddl`` rows for the reference's six CREATE INDEX statements
      (sinks/jdbc.py:index_ddl vs to_sql.py:30-45).

    The persist is the point: at 100 TB the derive DAG runs once and three
    sinks stream from the cached surface — not three recomputations."""
    from ..operators.session_cache import keep_persisted  # noqa: PLC0415
    from ..pipelines.derive import card_data, run_derive  # noqa: PLC0415
    from ..sinks.es import to_es_actions  # noqa: PLC0415
    from ..sinks.files import sitemap_documents  # noqa: PLC0415
    from ..sinks.jdbc import index_ddl  # noqa: PLC0415

    stages = run_derive(spark, sf_dir)
    cards = card_data(stages["flat_table"])
    # organization_kind lives on flat_branches (branch_id is its PK); the
    # reference's card dump carries it (to_sql.py:37 indexes it), so the
    # publish surface joins it back — a broadcast of a 2-column dim slice.
    kind = stages["flat_branches"].select("branch_id", "organization_kind")
    surface = keep_persisted(
        cards.join(F.broadcast(kind), "branch_id").select(
            "card_key", "service_id", "service_name", "branch_id",
            "branch_city", "organization", "organization_kind",
            "organization_name", "national_service",
        ),
        "publish_surface",
    )

    es = to_es_actions(surface, "cards", "card_key", revision="r9").select(
        F.lit("es").alias("phase"),
        F.col("action_json").alias("key"),
        F.col("doc_json").alias("payload"),
    )
    urls = surface.select(
        F.concat(F.lit("https://example.org/c/"), F.col("card_key")).alias("url")
    )
    sm = sitemap_documents(urls, urls_per_file=100).select(
        F.lit("sitemap").alias("phase"),
        F.col("file_index").cast("string").alias("key"),
        F.concat_ws("|", F.col("xml"), F.col("n_urls").cast("string")).alias("payload"),
    )
    sql_rows = surface.select(
        F.lit("sql").alias("phase"),
        F.col("card_key").alias("key"),
        F.concat_ws(
            "|", _s("service_id"), _s("service_name"), _s("branch_id"),
            _s("branch_city"), _s("organization"), _s("organization_kind"),
            _s("organization_name"), _s("national_service"),
        ).alias("payload"),
    )
    ddl = spark.createDataFrame(
        [(f, stmt) for f, stmt in zip(_CARD_INDEX_FIELDS, index_ddl("cards", _CARD_INDEX_FIELDS))],
        "field string, stmt string",
    ).select(
        F.lit("sql_ddl").alias("phase"),
        F.concat(F.lit("ddl:"), F.col("field")).alias("key"),
        F.col("stmt").alias("payload"),
    )
    return es.unionByName(sm).unionByName(sql_rows).unionByName(ddl)


_Q159_DDL_SQL = "\nUNION ALL\n".join(
    "SELECT 'sql_ddl', 'ddl:%s', "
    "'CREATE INDEX IF NOT EXISTS \"idx_cards_%s\" ON \"cards\" (\"%s\")'" % (f, f, f)
    for f in _CARD_INDEX_FIELDS
)

Q159_SQL = _DERIVE_CTES + """
, surface AS (
  SELECT c.card_key, c.service_id, c.service_name, c.branch_id, c.branch_city,
         c.organization, f.organization_kind, c.organization_name,
         c.national_service
  FROM cards c JOIN fb f ON c.branch_id = f.branch_id
),
sm_idx AS (
  SELECT 'https://example.org/c/' || card_key AS url,
         CAST(floor((row_number() OVER (ORDER BY ('https://example.org/c/' || card_key)) - 1)
              / 100.0) AS BIGINT) AS file_index
  FROM surface
)
SELECT 'es' AS phase,
       '{"index":{"_index":"cards","_id":"' || card_key || '"}}' AS key,
       '{"card_key":"' || card_key
         || '","service_id":"' || service_id
         || '","service_name":"' || service_name
         || '","branch_id":"' || branch_id
         || '","branch_city":"' || branch_city
         || '","organization":"' || organization
         || '","organization_kind":"' || organization_kind
         || '","organization_name":"' || organization_name
         || '","national_service":' || CAST(national_service AS VARCHAR)
         || ',"revision":"r9"}' AS payload
FROM surface
UNION ALL
SELECT 'sitemap', CAST(file_index AS VARCHAR),
       '<?xml version="1.0" encoding="UTF-8"?>' || chr(10)
       || '<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">' || chr(10)
       || string_agg('<url><loc>' || url || '</loc></url>', chr(10) ORDER BY url) || chr(10)
       || '</urlset>' || '|' || CAST(count(*) AS VARCHAR)
FROM sm_idx GROUP BY file_index
UNION ALL
SELECT 'sql', card_key,
       concat_ws('|', service_id, service_name, branch_id, branch_city,
                 organization, organization_kind, organization_name,
                 CAST(national_service AS VARCHAR))
FROM surface
UNION ALL
""" + _Q159_DDL_SQL

EXT21_REGISTRY["q159_publish_fanout"] = QueryDef(
    q159_publish_fanout, Q159_SQL,
    "derive publish fan-out: one persisted card surface -> ES bulk + sitemap + SQL/DDL (K2 K3 K8)",
)
