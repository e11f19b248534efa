"""Round-5 extension queries, part 2: the `meser` ingestion vertical
(SURVEY §3.3) — the reference's cleanest pandas pipeline, composed
end-to-end and hash-gated.

q131 — sanitize_for_airtable parity (numeric coercion, day-first dates,
       magic missing values; reference operators/meser/__init__.py:151-170).
q132 — transform_meser_dataframe parity (derived fields, 4-key groupby-dedup
       with the ORDER-PRESERVING tag merge, group-first pluscode,
       tag→responses/situations mapping, org-length filter; :65-146,215).
q133 — the three staged merges with trigger_status_check soft-delete sweeps
       and both FK remaps (update_organization/update_branch/update_service
       + utilities/trigger_status_check.py:61-130,
       utilities/get_foreign_key_by_field.py:7-110).

The oracle mirrors pipelines/meser.py's deterministic feed fixture 1:1; the
tag mapping VALUES clause is generated from the same MESER_TAG_ROWS literal.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..pipelines import meser as MES
from ._scalar import scalarized_sql, stringify_arrays
from .queries import QueryDef
from .queries_ext import _olc_sql


def _el_sql(values: list[str], idx: str) -> str:
    lst = "[" + ", ".join("'" + v.replace("'", "''") + "'" for v in values) + "]"
    return f"({lst})[({idx}) + 1]"


_MISSING_SQL = ", ".join(f"'{v}'" for v in MES.MISSING_VALUES)

RAW_CTE = f"""
raw AS (
  SELECT o_orderkey AS k, o_orderkey // 2 AS g FROM orders
),
meser_raw AS (
  SELECT k AS _feed_order,
         CAST(k AS VARCHAR) AS misgeret_id,
         '  מסגרת ' || CAST(g AS VARCHAR) || ' ' AS name,
         {_el_sql(MES.TYPES, "k % 4")} AS type_descr,
         CASE WHEN g % 3 = 0 THEN '5001' || lpad(CAST(g % 1000 AS VARCHAR), 5, '0')
              WHEN g % 21 = 1 THEN '12' ELSE 'NULL' END AS biz_num,
         CASE WHEN g % 6 = 1 THEN '52' || lpad(CAST(g % 10000 AS VARCHAR), 7, '0')
              ELSE 'NULL' END AS reg_id,
         CASE WHEN g % 5 = 0 THEN 'רחוב999 הדקל'
              WHEN g % 5 = 1 THEN {_el_sql(MES.CITIES, "g % 6")}
              WHEN g % 5 = 2 THEN 'NULL'
              WHEN g % 5 = 3 THEN 'שדרות הנשיא ' || CAST(g % 50 AS VARCHAR)
              ELSE '-1' END AS adrees,
         {_el_sql(MES.CITIES, "g % 6")} AS city_name,
         CASE WHEN g % 7 = 0 THEN 'NULL'
              WHEN g % 7 = 1 THEN '0'
              WHEN g % 7 = 2 THEN '54123' || lpad(CAST(g % 10000 AS VARCHAR), 4, '0')
              WHEN g % 7 = 3 THEN '025551234'
              ELSE '' END AS telephone,
         {_el_sql(MES.TARGETS, "k % 5")} AS target_descr,
         CASE WHEN k % 4 = 0 THEN 'שיקום' ELSE 'NULL' END AS second_classific,
         {_el_sql(MES.GENDERS, "k % 3")} AS gender_descr,
         CASE WHEN k % 2 = 0 THEN 'רווחה' ELSE 'NULL' END AS head_department,
         CASE WHEN g % 3 != 0 THEN CAST(34 + (g % 3) AS VARCHAR) ELSE 'NULL' END AS gisx,
         CASE WHEN g % 3 != 0 THEN CAST(29 + (g % 5) AS VARCHAR) ELSE 'NULL' END AS gisy,
         CASE WHEN k % 9 = 0 THEN 'לא ידוע' ELSE CAST(k % 200 AS VARCHAR) END AS actual_capacity,
         CAST(k % 18 AS VARCHAR) AS from_age,
         CAST(k % 18 + 3 AS VARCHAR) AS to_age,
         CASE WHEN k % 4 = 0 THEN '15/03/2019'
              WHEN k % 4 = 1 THEN '02/11/2021'
              WHEN k % 4 = 2 THEN 'NULL'
              ELSE '31/12/2020' END AS startd,
         {_el_sql(MES.OWNERS, "g % 3")} AS owner_descr
  FROM raw
)"""


def _null_missing(col: str) -> str:
    return f"CASE WHEN {col} IN ({_MISSING_SQL}) THEN NULL ELSE {col} END"


def _int_sql(col: str) -> str:
    return f"CAST(floor(coalesce(try_cast({col} AS DOUBLE), 0)) AS INT)"


SAN_CTE = f"""
san AS (
  SELECT _feed_order,
         {_null_missing("misgeret_id")} AS misgeret_id,
         {_null_missing("name")} AS name,
         {_null_missing("type_descr")} AS type_descr,
         {_null_missing("biz_num")} AS biz_num,
         {_null_missing("reg_id")} AS reg_id,
         {_null_missing("adrees")} AS adrees,
         {_null_missing("city_name")} AS city_name,
         {_null_missing("telephone")} AS telephone,
         {_null_missing("target_descr")} AS target_descr,
         {_null_missing("second_classific")} AS second_classific,
         {_null_missing("gender_descr")} AS gender_descr,
         {_null_missing("head_department")} AS head_department,
         {_int_sql("gisx")} AS gisx,
         {_int_sql("gisy")} AS gisy,
         {_int_sql("actual_capacity")} AS actual_capacity,
         {_int_sql("from_age")} AS from_age,
         {_int_sql("to_age")} AS to_age,
         strftime(try_strptime(startd, '%d/%m/%Y'), '%Y-%m-%d') AS startd,
         {_null_missing("owner_descr")} AS owner_descr
  FROM meser_raw
)"""


def q131_meser_sanitize(spark, sf_dir):
    """sanitize_for_airtable (reference meser/__init__.py:151-170): numeric
    fields to int with 0 for the unparseable, STARTD day-first to ISO or
    null, magic missing values ('NULL', '-1', 'לא ידוע', 'לא משויך',
    'רב תכליתי') nulled everywhere else. Pure projection — no Python."""
    s = MES.sanitize_meser(MES.meser_raw(spark, sf_dir))
    return s.select(
        F.col("Misgeret_Id").alias("misgeret_id"),
        F.col("Actual_Capacity").alias("actual_capacity"),
        F.col("From_Age").alias("from_age"),
        F.col("To_Age").alias("to_age"),
        F.col("GisX").alias("gisx"),
        F.col("GisY").alias("gisy"),
        F.col("STARTD").alias("startd"),
        F.col("Adrees").alias("adrees"),
        F.col("Telephone").alias("telephone"),
        F.col("Target_Population_Descr").alias("target_descr"),
    )


Q131_SQL = f"""
WITH {RAW_CTE.strip()},
{SAN_CTE.strip()}
SELECT misgeret_id, actual_capacity, from_age, to_age, gisx, gisy, startd,
       adrees, telephone, target_descr
FROM san
"""

EXT14_REGISTRY = {
    "q131_meser_sanitize": QueryDef(
        q131_meser_sanitize, Q131_SQL,
        "meser vertical: sanitize_for_airtable (coercions + magic missing values)",
    ),
}


# ---------------------------------------------------------------------------
# q132 — transform_meser_dataframe parity
# ---------------------------------------------------------------------------


def _meser_tags_sql() -> str:
    """VALUES clause generated from pipelines.meser.MESER_TAG_ROWS."""
    vals = []
    for tag, resp, sits in MES.MESER_TAG_ROWS:
        r = (
            "CAST(NULL AS VARCHAR[])"
            if resp is None
            else "CAST([" + ", ".join(f"'{x}'" for x in resp) + "] AS VARCHAR[])"
        )
        s = (
            "CAST(NULL AS VARCHAR[])"
            if sits is None
            else "CAST([" + ", ".join(f"'{x}'" for x in sits) + "] AS VARCHAR[])"
        )
        vals.append(f"('{tag}', {r}, {s})")
    return (
        "meser_tags(tag, response_ids, situation_ids) AS (SELECT * FROM (VALUES "
        + ", ".join(vals)
        + "))"
    )


TRANSFORM_CTES = f"""
base AS (
  SELECT _feed_order,
         trim(name) AS service_name,
         trim(type_descr) AS branch_name,
         misgeret_id AS meser_id,
         coalesce(biz_num, reg_id, '{MES.FALLBACK_ORG}') AS organization_id,
         trim(concat_ws(' ',
           CASE WHEN lower(a2.a) = lower(a2.city) THEN NULL ELSE a2.a END,
           a2.city)) AS address,
         CASE WHEN telephone IS NULL OR trim(telephone) IN ('', '0') THEN ''
              WHEN substr(telephone, 1, 1) <> '0' THEN '0' || telephone
              ELSE telephone END AS phone_numbers,
         list_filter([type_descr, target_descr, second_classific, gender_descr, head_department],
                     x -> x IS NOT NULL AND x <> 'None' AND x <> '') AS tagging_row,
         owner_descr, city_name, gisx, gisy,
         'meser-b-' || misgeret_id AS branch_id,
         'meser-s-' || misgeret_id AS service_id
  FROM san,
  LATERAL (SELECT
    CASE WHEN t.a0 IS NOT NULL AND lower(trim(t.a0)) NOT IN ('none', 'nan', '') THEN trim(t.a0) END AS a,
    CASE WHEN city_name IS NOT NULL AND lower(trim(city_name)) NOT IN ('none', 'nan', '') THEN trim(city_name) END AS city
    FROM (SELECT CASE WHEN trim(replace(adrees, '999', '')) = city_name THEN NULL
                      ELSE trim(replace(adrees, '999', '')) END AS a0) t
  ) a2
),
grouped AS (
  SELECT service_name, phone_numbers, address, organization_id,
         min(_feed_order) AS _gid,
         arg_min(service_id, _feed_order) AS service_id,
         arg_min(branch_id, _feed_order) AS branch_id,
         arg_min(branch_name, _feed_order) AS branch_name,
         arg_min(meser_id, _feed_order) AS meser_id,
         arg_min(owner_descr, _feed_order) AS owner,
         arg_min(city_name, _feed_order) AS city,
         arg_min(gisx, _feed_order) AS gisx,
         arg_min(gisy, _feed_order) AS gisy
  FROM base
  GROUP BY 1, 2, 3, 4
),
tag_occ AS (
  SELECT g._gid, b._feed_order, u.tag, list_position(b.tagging_row, u.tag) AS tpos
  FROM base b
  JOIN grouped g USING (service_name, phone_numbers, address, organization_id),
  LATERAL (SELECT unnest(b.tagging_row) AS tag) u
),
tag_first AS (
  SELECT _gid, tag, min(_feed_order * 10 + tpos) AS k
  FROM tag_occ GROUP BY _gid, tag
),
tagging_m AS (
  SELECT _gid, list(tag ORDER BY k) AS tagging FROM tag_first GROUP BY _gid
),
rtag AS (
  SELECT t._gid, list_position(tm.tagging, t.tag) AS tagpos, m.response_ids, m.situation_ids
  FROM (SELECT DISTINCT _gid, tag FROM tag_first) t
  JOIN tagging_m tm USING (_gid)
  LEFT JOIN meser_tags m ON t.tag = m.tag
),
rid AS (
  SELECT _gid, tagpos, response_ids AS lst, unnest(response_ids) AS xid
  FROM rtag WHERE response_ids IS NOT NULL
),
rid2 AS (
  SELECT _gid, xid, min(tagpos * 1000000 + list_position(lst, xid)) AS k
  FROM rid GROUP BY _gid, xid
),
resp AS (SELECT _gid, list(xid ORDER BY k) AS responses FROM rid2 GROUP BY _gid),
sid AS (
  SELECT _gid, tagpos, situation_ids AS lst, unnest(situation_ids) AS xid
  FROM rtag WHERE situation_ids IS NOT NULL
),
sid2 AS (
  SELECT _gid, xid, min(tagpos * 1000000 + list_position(lst, xid)) AS k
  FROM sid GROUP BY _gid, xid
),
sits AS (SELECT _gid, list(xid ORDER BY k) AS situations FROM sid2 GROUP BY _gid),
transformed AS (
  SELECT g.service_name, g.phone_numbers, g.address, g.organization_id,
         g.service_id, g.branch_id, g.branch_name, g.meser_id, g.owner, g.city,
         coalesce(tm.tagging, CAST([] AS VARCHAR[])) AS tagging,
         coalesce(r.responses, CAST([] AS VARCHAR[])) AS responses,
         coalesce(s.situations, CAST([] AS VARCHAR[])) AS situations,
         {_olc_sql("CAST(g.gisy AS DOUBLE)", "CAST(g.gisx AS DOUBLE)", 10)} AS pluscode
  FROM grouped g
  LEFT JOIN tagging_m tm USING (_gid)
  LEFT JOIN resp r USING (_gid)
  LEFT JOIN sits s USING (_gid)
  WHERE length(g.organization_id) BETWEEN 5 AND 15
)"""


def q132_meser_transform(spark, sf_dir):
    """transform_meser_dataframe (reference meser/__init__.py:65-146,215):
    derived fields, the 4-key groupby-dedup whose pandas 'first' becomes
    min_by(feed order), the ORDER-PRESERVING flatten+dedup tag merge
    (posexplode -> per-element min position -> ordered re-collect), the
    group-first pluscode (10-digit OLC, like the reference's default-length
    encode), tag->responses/situations with the same (tag position, id
    position) ordering, and the org-id length filter."""
    from ..operators.session_cache import keep_checkpointed_pooled  # noqa: PLC0415

    # SAME pool + plan as run_meser_staging's transform pin (meser.py) — a
    # session running q132 and q133 computes the transform once and holds
    # one pin (a keep_persisted under a different name silently broke the
    # documented q132/q133 shared materialization).
    t = keep_checkpointed_pooled(
        MES.transform_meser(
            MES.sanitize_meser(MES.meser_raw(spark, sf_dir)), MES.meser_tag_mapping(spark)
        ),
        "meser_transform_ckpt",
        eager=False,
    )
    return stringify_arrays(
        t.select(
            "service_name", "phone_numbers", "address", "organization_id",
            "service_id", "branch_id", "branch_name", "meser_id",
            F.col("Owner_Code_Descr").alias("owner"),
            F.col("City_Name").alias("city"),
            "tagging", "responses", "situations", "pluscode",
        )
    )


Q132_SQL = scalarized_sql(
    f"""
WITH {RAW_CTE.strip()},
{SAN_CTE.strip()},
{_meser_tags_sql()},
{TRANSFORM_CTES.strip()}
SELECT * FROM transformed
""",
    ["tagging", "responses", "situations"],
)

EXT14_REGISTRY["q132_meser_transform"] = QueryDef(
    q132_meser_transform, Q132_SQL,
    "meser vertical: transform (groupby-dedup + ordered tag merge + pluscode)",
)


# ---------------------------------------------------------------------------
# q133 — the three staged merges + soft-delete sweeps + FK remaps
# ---------------------------------------------------------------------------

_DS_SQL = MES.DATA_SOURCES_TEXT.replace("'", "''")

STAGING_CTES = f"""
cur_orgs AS (
  SELECT '5001' || lpad(CAST((s_suppkey * 7) % 1000 AS VARCHAR), 5, '0') AS id,
         CASE WHEN s_suppkey % 4 = 0 THEN 'INACTIVE' ELSE 'ACTIVE' END AS status,
         CASE WHEN s_suppkey % 9 = 0 THEN 'entities' ELSE 'meser' END AS source
  FROM supplier
),
cur_br AS (
  SELECT 'meser-b-' || CAST(s_suppkey * 4 AS VARCHAR) AS id,
         CASE WHEN s_suppkey % 3 = 0 THEN ['rec-500106406'] ELSE CAST([] AS VARCHAR[]) END AS organization,
         'כתובת ישנה ' || CAST(s_suppkey AS VARCHAR) AS address,
         'כתובת ישנה ' || CAST(s_suppkey AS VARCHAR) AS location,
         '02-000' || CAST(s_suppkey AS VARCHAR) AS phone_numbers,
         'meser' AS source,
         CASE WHEN s_suppkey % 5 = 0 THEN 'INACTIVE' ELSE 'ACTIVE' END AS status
  FROM supplier
),
cur_svc AS (
  SELECT 'meser-s-' || CAST(s_suppkey * 4 + 2 AS VARCHAR) AS id,
         'ישן ' || CAST(s_suppkey AS VARCHAR) AS name,
         CAST(NULL AS VARCHAR) AS data_sources,
         CAST([] AS VARCHAR[]) AS situations,
         CAST([] AS VARCHAR[]) AS responses,
         CASE WHEN s_suppkey % 2 = 0 THEN ['rec-meser-b-old' || CAST(s_suppkey AS VARCHAR)]
              ELSE CAST([] AS VARCHAR[]) END AS branches,
         CAST(NULL AS VARCHAR) AS id_in_source,
         'meser' AS source, 'ACTIVE' AS status
  FROM supplier
)"""

MERGE_CTES = f"""
fetched_orgs AS (SELECT DISTINCT organization_id AS id FROM transformed),
m_org AS (
  SELECT coalesce(f.id, c.id) AS id,
         CASE WHEN f.id IS NOT NULL THEN 'ACTIVE' ELSE 'INACTIVE' END AS status,
         CASE WHEN f.id IS NULL THEN c.status <> 'INACTIVE'
              WHEN c.id IS NULL THEN TRUE
              ELSE c.status <> 'ACTIVE' END AS changed
  FROM fetched_orgs f
  FULL OUTER JOIN (SELECT * FROM cur_orgs WHERE source = 'meser') c ON f.id = c.id
),
org_after AS (SELECT id FROM cur_orgs UNION SELECT id FROM fetched_orgs),
remapped AS (
  SELECT t.*,
         CASE WHEN o.id IS NOT NULL THEN ['rec-' || t.organization_id]
              ELSE CAST([] AS VARCHAR[]) END AS org_links
  FROM transformed t LEFT JOIN org_after o ON t.organization_id = o.id
),
fetched_br AS (
  SELECT branch_id AS id,
         list_sort(list_distinct(flatten(list(org_links)))) AS organization,
         arg_min(address, try_cast(meser_id AS BIGINT)) AS address,
         arg_min(address, try_cast(meser_id AS BIGINT)) AS location,
         coalesce(array_to_string(
           list(phone_numbers ORDER BY try_cast(meser_id AS BIGINT))
             FILTER (WHERE phone_numbers IS NOT NULL AND trim(phone_numbers) NOT IN ('', '0')),
           ', '), '') AS phone_numbers
  FROM remapped GROUP BY branch_id
),
m_branch AS (
  SELECT coalesce(f.id, c.id) AS id,
         CASE WHEN f.id IS NOT NULL THEN 'ACTIVE' ELSE 'INACTIVE' END AS status,
         CASE WHEN f.id IS NULL THEN c.status <> 'INACTIVE'
              WHEN c.id IS NULL THEN TRUE
              ELSE c.status <> 'ACTIVE'
                   OR f.organization IS DISTINCT FROM c.organization
                   OR f.address IS DISTINCT FROM c.address
                   OR f.location IS DISTINCT FROM c.location
                   OR f.phone_numbers IS DISTINCT FROM c.phone_numbers END AS changed,
         CASE WHEN f.id IS NOT NULL THEN f.organization ELSE c.organization END AS links
  FROM fetched_br f
  FULL OUTER JOIN (SELECT * FROM cur_br WHERE source = 'meser') c ON f.id = c.id
),
br_after AS (SELECT id FROM cur_br UNION SELECT id FROM fetched_br),
svc_rem AS (
  SELECT t.*,
         CASE WHEN b.id IS NOT NULL THEN ['rec-' || t.branch_id]
              ELSE CAST([] AS VARCHAR[]) END AS new_links
  FROM transformed t LEFT JOIN br_after b ON t.branch_id = b.id
),
svc_merged AS (
  SELECT s.service_id AS id, s.service_name AS name,
         '{_DS_SQL}' AS data_sources,
         s.situations, s.responses,
         list_sort(list_distinct(coalesce(c.branches, CAST([] AS VARCHAR[])) || s.new_links)) AS branches,
         s.meser_id AS id_in_source
  FROM svc_rem s LEFT JOIN cur_svc c ON s.service_id = c.id
),
m_svc AS (
  SELECT coalesce(f.id, c.id) AS id,
         CASE WHEN f.id IS NOT NULL THEN 'ACTIVE' ELSE 'INACTIVE' END AS status,
         CASE WHEN f.id IS NULL THEN c.status <> 'INACTIVE'
              WHEN c.id IS NULL THEN TRUE
              ELSE c.status <> 'ACTIVE'
                   OR f.name IS DISTINCT FROM c.name
                   OR f.data_sources IS DISTINCT FROM c.data_sources
                   OR f.situations IS DISTINCT FROM c.situations
                   OR f.responses IS DISTINCT FROM c.responses
                   OR f.branches IS DISTINCT FROM c.branches
                   OR f.id_in_source IS DISTINCT FROM c.id_in_source END AS changed,
         CASE WHEN f.id IS NOT NULL THEN f.branches ELSE c.branches END AS links
  FROM svc_merged f
  FULL OUTER JOIN (SELECT * FROM cur_svc WHERE source = 'meser') c ON f.id = c.id
)"""


def q133_meser_staged(spark, sf_dir):
    """SURVEY §3.3 composed: the three meser upserts with the
    trigger_status_check soft-delete sweeps folded into
    staging_upsert(manage_status=True) — incl. the already-INACTIVE skip the
    reference's sweep has (trigger_status_check.py:51-56) — and both FK
    remaps (org record-keys on branches; branch record-keys UNIONED with
    existing links on services). One (merge, id, status, changed, links) row
    per written record."""
    staged = MES.run_meser(spark, sf_dir)
    null_links = F.lit(None).cast("array<string>")
    o = staged["organizations"].select(
        F.lit("organizations").alias("merge"), "id", "status",
        F.col("_changed").alias("changed"), null_links.alias("links"),
    )
    b = staged["branches"].select(
        F.lit("branches").alias("merge"), "id", "status",
        F.col("_changed").alias("changed"), F.col("organization").alias("links"),
    )
    s = staged["services"].select(
        F.lit("services").alias("merge"), "id", "status",
        F.col("_changed").alias("changed"), F.col("branches").alias("links"),
    )
    return stringify_arrays(o.unionByName(b).unionByName(s))


Q133_SQL = f"""
WITH {RAW_CTE.strip()},
{SAN_CTE.strip()},
{_meser_tags_sql()},
{TRANSFORM_CTES.strip()},
{STAGING_CTES.strip()},
{MERGE_CTES.strip()}
SELECT 'organizations' AS merge, id, status, changed, CAST(NULL AS VARCHAR[]) AS links
FROM m_org WHERE changed
UNION ALL
SELECT 'branches' AS merge, id, status, changed, links FROM m_branch WHERE changed
UNION ALL
SELECT 'services' AS merge, id, status, changed, links FROM m_svc WHERE changed
"""

Q133_SQL = scalarized_sql(Q133_SQL, ["links"])

EXT14_REGISTRY["q133_meser_staged"] = QueryDef(
    q133_meser_staged, Q133_SQL,
    "meser vertical: 3-way staged upserts + soft-delete sweeps + FK remaps",
)


# ---------------------------------------------------------------------------
# q137 — streaming ingestion twin: micro-batched org feed -> versioned staging
# ---------------------------------------------------------------------------


def q137_meser_streaming_staging(spark, sf_dir):
    """The meser org merge as a STREAMING deployment: the fetched org ids
    arrive as three partial micro-batches plus a reconciliation snapshot
    (file source, mtime-ordered, maxFilesPerTrigger=1, availableNow); each
    batch runs the same staging_upsert through foreachBatch and publishes a
    new version (streaming/events.py:stream_upsert_to_staging —
    write-new-then-repoint, never overwriting a version being read). The
    final version must equal the closed-form batch merge: ACTIVE iff the org
    is in the fetch, soft-deleted meser rows INACTIVE, rows of OTHER staging
    sources preserved untouched across every version — one upsert
    implementation, two drivers (SURVEY §2.10)."""
    import os  # noqa: PLC0415

    from ..pipelines.meser import current_meser_staging  # noqa: PLC0415
    from ..session import scratch_dir  # noqa: PLC0415
    from ..streaming.events import (  # noqa: PLC0415
        _staged_runs,
        latest_staging_version,
        recovery_axis,
        stream_upsert_to_staging,
    )

    t = MES.transform_meser(
        MES.sanitize_meser(MES.meser_raw(spark, sf_dir)), MES.meser_tag_mapping(spark)
    )
    fetched = t.select(F.col("organization_id").alias("id")).distinct()
    base = scratch_dir("srm_q137")
    # Execute the transform lineage ONCE: all four batch files are
    # projections of `fetched`, so materialize it and carve the batches out
    # of the (org-registry-sized) re-read — previously every batch write
    # re-ran sanitize+transform+groupBy+distinct, 4 full executions for one
    # result (guide §1.2: don't compute things you throw away).
    fdir = os.path.join(base, "fetched")
    fetched.coalesce(1).write.parquet(fdir)
    fetched = spark.read.parquet(fdir)
    last = F.substring(F.col("id"), -1, 1)
    batches = [
        fetched.filter(last.isin("0", "1", "2", "3")),
        fetched.filter(last.isin("4", "5", "6")),
        fetched.filter(last.isin("7", "8", "9")),
        fetched,  # reconciliation snapshot — restores partial-feed statuses
    ]
    root = os.path.join(base, "staging")
    # bootstrap: the current staging table is version -1
    current_meser_staging(spark, sf_dir)["organizations"].write.parquet(
        os.path.join(root, "v=-1")
    )

    def run_merge(stream, source_bytes):
        stream_upsert_to_staging(
            stream, root, key="id", source_id="meser",
            checkpoint=os.path.join(base, "ckpt"), source_bytes=source_bytes,
        )

    # recovery axis: the first run commits two partial-feed versions and
    # "crashes"; the resumed run's file log skips them and continues at the
    # NEXT batch_id, so the version chain (and the final reconciled table)
    # is identical to the uninterrupted run's.
    _staged_runs(
        spark, batches, base, run_merge, stop_after=2 if recovery_axis() else None
    )
    final = latest_staging_version(root)
    if final is None or final.endswith("v=-1"):
        raise RuntimeError(
            f"q137: streaming merge published no new staging version under {root}"
        )
    return spark.read.parquet(final).select("id", "source", "status")


Q137_SQL = f"""
WITH {RAW_CTE.strip()},
{SAN_CTE.strip()},
{_meser_tags_sql()},
{TRANSFORM_CTES.strip()},
cur_orgs AS (
  SELECT '5001' || lpad(CAST((s_suppkey * 7) % 1000 AS VARCHAR), 5, '0') AS id,
         CASE WHEN s_suppkey % 4 = 0 THEN 'INACTIVE' ELSE 'ACTIVE' END AS status,
         CASE WHEN s_suppkey % 9 = 0 THEN 'entities' ELSE 'meser' END AS source
  FROM supplier
),
fetched AS (SELECT DISTINCT organization_id AS id FROM transformed)
SELECT coalesce(f.id, c.id) AS id,
       'meser' AS source,
       CASE WHEN f.id IS NOT NULL THEN 'ACTIVE' ELSE 'INACTIVE' END AS status
FROM fetched f
FULL OUTER JOIN (SELECT id FROM cur_orgs WHERE source = 'meser') c ON f.id = c.id
UNION ALL
-- rows of OTHER sources ride through every version untouched
SELECT id, source, status FROM cur_orgs WHERE source <> 'meser'
"""

EXT14_REGISTRY["q137_meser_streaming_staging"] = QueryDef(
    q137_meser_streaming_staging, Q137_SQL,
    "meser vertical: streaming micro-batched staging merge (versioned swap)",
)
