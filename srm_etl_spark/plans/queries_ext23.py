"""Round-10 extension queries: the remaining composed reference surfaces.

q161 — the five-index ES publish composition (reference
       ``operators/derive/to_es.py:340-350``): ONE derive output feeding the
       cards / places / responses / situations / organizations / autocomplete
       index surfaces, every surface's FULL ROW-SET phase-labeled and
       hash-gated in one result — the q158/q159 composition pattern applied
       to the last uncomposed reference entry point. The ES wire shape
       itself (bulk action lines, mapping, revision swap) is certified
       separately (q122/q153/q159); this certifies the five DOCUMENT
       surfaces and their shared-lineage handoff.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .queries import _DERIVE_CTES, QueryDef, _parents_sql
from .queries_ext6 import _Q75_CARD_SCORE_SQL, Q74_SQL
from .queries_ext21 import _s

EXT23_REGISTRY: dict[str, QueryDef] = {}


def q161_es_publish_surfaces(spark, sf_dir):
    """All five ES index surfaces from one persisted card projection
    (pipelines/es_publish.py; reference flows cited per leg there). The card
    surface — card_data_full plus the airtable_last_modified enrichment — is
    session-persisted once; the cards leg projects it, the three count legs
    each run one hash aggregate over it, places is dimension-sized, and the
    autocomplete leg reuses run_derive's persisted flat_table. The union is
    per-leg maps — no recomputation across legs. The card surface pins as a
    lineage-truncating checkpoint, not a persist: five legs plus the union
    each nested the full card_data_full subtree under a persist (q161 carried
    172 runtime exchanges in the r12 PLAN_AUDIT); every dimension join below
    the pin carries an explicit broadcast hint, so the stats-free LogicalRDD
    scan cannot demote a broadcast."""
    from ..operators.session_cache import keep_checkpointed_pooled  # noqa: PLC0415
    from ..pipelines import staging_fixtures as FIX  # noqa: PLC0415
    from ..pipelines.autocomplete import (  # noqa: PLC0415
        autocomplete_corpus,
        autocomplete_input,
        city_bounds,
    )
    from ..pipelines.derive import card_data_full, run_derive  # noqa: PLC0415
    from ..pipelines.es_publish import (  # noqa: PLC0415
        autocomplete_publish,
        cards_api_surface,
        organizations_surface,
        places_surface,
        taxonomy_count_surface,
    )

    st = run_derive(spark, sf_dir)
    surface = keep_checkpointed_pooled(
        cards_api_surface(card_data_full(st["flat_table"])).select(
            "card_key", "card_score", "airtable_last_modified", "service_name",
            "branch_city", "organization", "response_ids", "situation_ids",
        ),
        "es_five_surface",
        eager=False,
    )
    locs = FIX.locations(spark, sf_dir)
    places = places_surface(spark, locs)
    resp = taxonomy_count_surface(
        surface, FIX.responses_dim(spark, sf_dir), "response_ids"
    )
    sit = taxonomy_count_surface(
        surface, FIX.situations_dim(spark, sf_dir), "situation_ids"
    )
    orgs = organizations_surface(surface, FIX.organizations(spark, sf_dir))
    ac = autocomplete_publish(
        autocomplete_corpus(autocomplete_input(st["flat_table"]), city_bounds(locs))
    )

    legs = [
        surface.select(
            F.lit("10_cards").alias("phase"),
            F.concat(F.lit("card:"), F.col("card_key")).alias("key"),
            F.concat_ws(
                "|",
                F.format_string("%.6f", F.col("card_score")),
                _s("airtable_last_modified"), _s("service_name"),
                _s("branch_city"), _s("organization"),
            ).alias("sig"),
        ),
        places.select(
            F.lit("20_places").alias("phase"),
            F.concat(F.lit("pl:"), F.col("key")).alias("key"),
            F.concat_ws(
                "|",
                _s("query"), _s("place"),
                F.format_string("%.4f", F.col("score")),
                F.format_string(
                    "[%.5f,%.5f,%.5f,%.5f]",
                    F.element_at("bounds", 1), F.element_at("bounds", 2),
                    F.element_at("bounds", 3), F.element_at("bounds", 4),
                ),
            ).alias("sig"),
        ),
        resp.select(
            F.lit("30_responses").alias("phase"),
            F.concat(F.lit("r:"), F.col("id")).alias("key"),
            F.concat_ws(
                "|", _s("name"), _s("synonyms"), _s("breadcrumbs"), _s("count")
            ).alias("sig"),
        ),
        sit.select(
            F.lit("40_situations").alias("phase"),
            F.concat(F.lit("s:"), F.col("id")).alias("key"),
            F.concat_ws(
                "|", _s("name"), _s("synonyms"), _s("breadcrumbs"), _s("count")
            ).alias("sig"),
        ),
        orgs.select(
            F.lit("50_orgs").alias("phase"),
            F.concat(F.lit("o:"), F.col("id")).alias("key"),
            F.concat_ws(
                "|", _s("name"), _s("description"), _s("kind"), _s("count"),
                _s(F.col("count") * 10),
            ).alias("sig"),
        ),
        ac.select(
            F.lit("60_autocomplete").alias("phase"),
            F.concat(F.lit("ac:"), F.col("qid")).alias("key"),
            F.concat_ws(
                "|", _s("query"), _s("n"),
                F.format_string("%.6f", F.col("score")),
                _s("low"),
            ).alias("sig"),
        ),
    ]
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionByName(leg)
    return out


_PLACE_SCORE_SQL = """CASE place WHEN 'region' THEN 200 WHEN 'city' THEN 100
       WHEN 'town' THEN 50 WHEN 'village' THEN 10 WHEN 'hamlet' THEN 5
       ELSE 1 END"""

_LM_SQL = """CASE WHEN f.service_last_modified IS NULL AND f.branch_last_modified IS NULL
       THEN NULL
       ELSE greatest(coalesce(f.service_last_modified, f.branch_last_modified),
                     coalesce(f.branch_last_modified, f.service_last_modified)) END"""

Q161_SQL = _DERIVE_CTES + f"""
, cardsf AS (
  SELECT f.branch_id || f.service_id AS card_key,
         f.service_id, f.service_name, f.description AS service_description,
         f.boost AS service_boost, f.service_last_modified,
         fb.branch_last_modified, fb.branch_city,
         f.organization, fb.organization_kind, fb.organization_phone,
         fb.organization_branch_count, fb.national_service,
         [f.response0, f.response1] AS response_ids,
         [f.situation0, f.situation1] AS situation_ids
  FROM fs f JOIN fb ON f.branch_id = fb.branch_id
  WHERE (fb.lon > 33.0 AND fb.lon < 37.0 AND fb.lat > 29.3 AND fb.lat < 33.3)
     OR coalesce(fb.national_service, false)
), placesrc AS (
  SELECT 'place-' || CAST(nk AS VARCHAR) AS key,
         [city, 'איזור ' || city] AS name,
         [lon - 0.1, lat - 0.1, lon + 0.1, lat + 0.1] AS bounds,
         (['region','city','town','village','hamlet','suburb'])[nk % 6 + 1] AS place
  FROM (SELECT CAST(substr(location, 5) AS INT) AS nk, city, lat, lon FROM locs)
  UNION ALL
  SELECT * FROM (VALUES
    ('גוש_דן', ['גוש דן'], [34.6, 31.8, 35.1, 32.181], 'region'),
    ('איזור_ירושלים', ['איזור ירושלים'], [34.9, 31.7, 35.3, 31.9], 'region'),
    ('איזור_הצפון', ['איזור הצפון'], [34.5, 32.5, 35.8, 33.3], 'region'),
    ('איזור_באר_שבע', ['איזור באר-שבע'], [34.5, 30.8, 35.5, 31.5], 'region')
  ) p(key, name, bounds, place)
), placeq AS (
  -- stable-sort parity: longest name, ties by ARRAY POSITION (the
  -- reference's sorted(key=len, reverse=True) stability)
  SELECT key, nm AS query FROM (
    SELECT key, nm,
           row_number() OVER (PARTITION BY key ORDER BY length(nm) DESC, pos ASC) AS rn
    FROM (SELECT key, unnest(name) AS nm,
                 generate_subscripts(name, 1) AS pos
          FROM placesrc)
  ) WHERE rn = 1
), rparents AS (
  SELECT DISTINCT unnest(list_distinct(list_concat(
    {_parents_sql('response0')}, {_parents_sql('response1')}))) AS id
  FROM svcs
), sparents AS (
  SELECT DISTINCT unnest(list_distinct(list_concat(
    {_parents_sql('situation0')}, {_parents_sql('situation1')}))) AS id
  FROM svcs
), rcounts AS (
  SELECT id, count(*) AS cnt FROM (
    SELECT unnest(list_distinct(list_concat(
      {_parents_sql('response_ids[1]')}, {_parents_sql('response_ids[2]')}))) AS id
    FROM cardsf
  ) GROUP BY id
), scounts AS (
  SELECT id, count(*) AS cnt FROM (
    SELECT unnest(list_distinct(list_concat(
      {_parents_sql('situation_ids[1]')}, {_parents_sql('situation_ids[2]')}))) AS id
    FROM cardsf
  ) GROUP BY id
), ocounts AS (
  SELECT organization AS id, count(*) AS cnt FROM cardsf GROUP BY organization
), ac_pub AS (
  SELECT qid, query, n, score, low FROM (
    SELECT qid, query, n, score, low,
           row_number() OVER (PARTITION BY qid ORDER BY query ASC) AS rn
    FROM (""" + Q74_SQL + f""")
  ) WHERE rn = 1
)
SELECT '10_cards' AS phase, 'card:' || f.card_key AS key,
       concat_ws('|', printf('%.6f', {_Q75_CARD_SCORE_SQL}),
                 coalesce({_LM_SQL}, ''), f.service_name,
                 coalesce(f.branch_city, ''), f.organization) AS sig
FROM cardsf f
CROSS JOIN LATERAL (SELECT CASE WHEN coalesce(f.organization_branch_count, 1) <= 0 THEN 1.0
                                ELSE CAST(coalesce(f.organization_branch_count, 1) AS DOUBLE) END AS bc) AS bc
UNION ALL
SELECT '20_places', 'pl:' || p.key,
       concat_ws('|', q.query, p.place,
                 printf('%.4f', (p.bounds[3] - p.bounds[1]) * (p.bounds[4] - p.bounds[2])
                                * 100000.0 * ({_PLACE_SCORE_SQL})),
                 printf('[%.5f,%.5f,%.5f,%.5f]',
                        p.bounds[1], p.bounds[2], p.bounds[3], p.bounds[4]))
FROM placesrc p JOIN placeq q ON p.key = q.key
UNION ALL
SELECT '30_responses', 'r:' || d.id,
       concat_ws('|', 'מענה ' || string_split(d.id, ':')[-1],
                 replace(d.id, ':', ' '),
                 array_to_string(string_split(d.id, ':')[1:len(string_split(d.id, ':')) - 1], ' / '),
                 CAST(c.cnt AS VARCHAR))
FROM rparents d JOIN rcounts c ON d.id = c.id
WHERE length(d.id) % 7 != 0
UNION ALL
SELECT '40_situations', 's:' || d.id,
       concat_ws('|', 'מצב ' || string_split(d.id, ':')[-1],
                 replace(d.id, ':', ' '),
                 array_to_string(string_split(d.id, ':')[1:len(string_split(d.id, ':')) - 1], ' / '),
                 CAST(c.cnt AS VARCHAR))
FROM sparents d JOIN scounts c ON d.id = c.id
WHERE length(d.id) % 7 != 0
UNION ALL
SELECT '50_orgs', 'o:' || oc.id,
       concat_ws('|', coalesce(o.organization_name, ''),
                 coalesce(o.organization_description, ''),
                 coalesce(o.organization_kind, ''),
                 CAST(oc.cnt AS VARCHAR), CAST(oc.cnt * 10 AS VARCHAR))
FROM ocounts oc LEFT JOIN orgs o ON oc.id = o.organization
UNION ALL
SELECT '60_autocomplete', 'ac:' || qid,
       concat_ws('|', query, CAST(n AS VARCHAR), printf('%.6f', score),
                 CAST(low AS VARCHAR))
FROM ac_pub
"""

EXT23_REGISTRY["q161_es_publish_surfaces"] = QueryDef(
    q161_es_publish_surfaces, Q161_SQL,
    "five-index ES publish composed: cards + places + responses + situations "
    "+ organizations + autocomplete from one persisted derive output (K3 U1 "
    "A1 U4 J6 to_es.py:340-350)",
)


# --------------------------------------------------------------------------
# q162 — mapbox geo_data + points flows composed (to_mapbox.py:97-249)
# --------------------------------------------------------------------------

def q162_mapbox_geo_flow(spark, sf_dir):
    """The mapbox derive composition (pipelines/mapbox.py): one persisted
    per-card records frame feeds the per-point geo_data surface (mode title
    with truncation/+N/* rules, mode response category, service/branch
    counts, single-card card id), its accurate/inaccurate duplicate split
    (U2), the per-card ES points projection and the 4-column clusters
    subset — all four phase-labeled full row-sets in one result."""
    from ..operators.session_cache import keep_persisted  # noqa: PLC0415
    from ..pipelines.derive import card_data_full, run_derive  # noqa: PLC0415
    from ..pipelines.mapbox import (  # noqa: PLC0415
        geo_data_surface,
        geo_point_records,
        points_surface,
    )

    recs = keep_persisted(
        geo_point_records(card_data_full(run_derive(spark, sf_dir)["flat_table"])),
        "mapbox_records",
    )
    pts = points_surface(recs)
    geo = geo_data_surface(recs)

    def pt_leg(phase, *sig_cols):
        return pts.select(
            F.lit(phase).alias("phase"),
            F.concat(F.lit("pt:"), F.col("card_key")).alias("key"),
            F.concat_ws("|", *[_s(c) for c in sig_cols]).alias("sig"),
        )

    def geo_leg(phase, flag):
        half = geo.filter(F.col("branch_location_accurate") == flag)
        return half.select(
            F.lit(phase).alias("phase"),
            F.concat(F.lit("g:"), F.col("point_id")).alias("key"),
            F.concat_ws(
                "|", _s("title"), _s("full_title"), _s("response_category"),
                _s("service_count"), _s("branch_count"), _s("card_id"),
                _s("branch_geometry"),
            ).alias("sig"),
        )

    legs = [
        pt_leg(
            "10_points", "point_id", "response_category", "response_categories",
            "response_ids", "situation_ids", "organization", "branch_geometry",
        ),
        pts.select(
            F.lit("20_clusters").alias("phase"),
            F.concat(F.lit("cl:"), F.col("card_key")).alias("key"),
            F.concat_ws(
                "|", _s("branch_geometry"), _s("response_categories"), _s("point_id")
            ).alias("sig"),
        ),
        geo_leg("30_geo_accurate", True),  # noqa: FBT003
        geo_leg("40_geo_inaccurate", False),  # noqa: FBT003
    ]
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionByName(leg)
    return out


Q162_SQL = _DERIVE_CTES + f"""
, cardsg AS (
  SELECT f.branch_id || f.service_id AS card_key,
         fb.lat, fb.lon,
         coalesce(fb.branch_operating_unit, fb.organization_short_name,
                  fb.organization_name) AS bname,
         fb.branch_location_accurate,
         f.organization,
         CASE WHEN coalesce(fb.national_service, false) THEN 'national_service'
              ELSE replace(printf('%08.5f%08.5f', fb.lon, fb.lat), '.', '') END AS point_id,
         [f.response0, f.response1] AS response_ids,
         [f.situation0, f.situation1] AS situation_ids
  FROM fs f JOIN fb ON f.branch_id = fb.branch_id
  WHERE ((fb.lon > 33.0 AND fb.lon < 37.0 AND fb.lat > 29.3 AND fb.lat < 33.3)
     OR coalesce(fb.national_service, false))
    AND fb.lat IS NOT NULL AND fb.lon IS NOT NULL
), gcat AS (
  SELECT c.card_key, string_split(r.r, ':')[2] AS category,
         list_position(c.response_ids, r.r) AS r_pos
  FROM cardsg c CROSS JOIN unnest(c.response_ids) AS r(r)
), gcatc AS (
  SELECT card_key, category, count(*) AS n, min(r_pos) AS first_pos
  FROM gcat GROUP BY 1, 2
), gmode AS (
  SELECT card_key, category AS response_category FROM gcatc
  QUALIFY row_number() OVER (PARTITION BY card_key
                             ORDER BY n DESC, first_pos ASC, category ASC) = 1
), gcards AS (
  SELECT c.*, m.response_category,
         printf('[%.5f,%.5f]', c.lon, c.lat) AS geo,
         array_to_string(list_transform(c.response_ids,
                                        r -> string_split(r, ':')[2]), ',') AS cats
  FROM cardsg c JOIN gmode m USING (card_key)
), gpts AS (
  SELECT point_id, count(*) AS service_count,
         bool_or(branch_location_accurate) AS accurate,
         min(card_key) AS first_ck,
         count(DISTINCT bname) AS branch_count,
         arg_min(struct_pack(lon := lon, lat := lat), card_key) AS g
  FROM gcards GROUP BY point_id
), gname AS (
  SELECT point_id, bname AS bn FROM (
    SELECT point_id, bname, count(*) AS n, min(card_key) AS fck
    FROM gcards GROUP BY 1, 2
  ) QUALIFY row_number() OVER (PARTITION BY point_id ORDER BY n DESC, fck ASC) = 1
), gpcat AS (
  SELECT point_id, category FROM (
    SELECT point_id, response_category AS category, count(*) AS n,
           min(card_key) AS fck
    FROM gcards GROUP BY 1, 2
  ) QUALIFY row_number() OVER (PARTITION BY point_id ORDER BY n DESC, fck ASC) = 1
), gsurf AS (
  SELECT p.point_id,
         printf('[%.5f,%.5f]', p.g.lon, p.g.lat) AS geo,
         p.accurate, c.category AS response_category,
         CASE WHEN length(n.bn) > 20 THEN substr(n.bn, 1, 20) || '…' ELSE n.bn END AS tbn,
         n.bn, p.service_count, p.branch_count,
         CASE WHEN p.service_count = 1 THEN p.first_ck END AS card_id
  FROM gpts p JOIN gname n USING (point_id) JOIN gpcat c USING (point_id)
), gtitled AS (
  SELECT *,
         CASE WHEN branch_count > 1 THEN tbn || '  +' || CAST(branch_count - 1 AS VARCHAR)
              WHEN NOT accurate THEN tbn || '*' ELSE tbn END AS title,
         CASE WHEN branch_count > 1 THEN bn || '  +' || CAST(branch_count - 1 AS VARCHAR)
              WHEN NOT accurate THEN bn || '*' ELSE bn END AS full_title
  FROM gsurf
)
SELECT '10_points' AS phase, 'pt:' || card_key AS key,
       concat_ws('|', point_id, response_category, cats,
                 array_to_string(response_ids, ','),
                 array_to_string(situation_ids, ','), organization, geo) AS sig
FROM gcards
UNION ALL
SELECT '20_clusters', 'cl:' || card_key,
       concat_ws('|', geo, cats, point_id)
FROM gcards
UNION ALL
SELECT '30_geo_accurate', 'g:' || point_id,
       concat_ws('|', title, full_title, response_category,
                 CAST(service_count AS VARCHAR), CAST(branch_count AS VARCHAR),
                 coalesce(card_id, ''), geo)
FROM gtitled WHERE accurate
UNION ALL
SELECT '40_geo_inaccurate', 'g:' || point_id,
       concat_ws('|', title, full_title, response_category,
                 CAST(service_count AS VARCHAR), CAST(branch_count AS VARCHAR),
                 coalesce(card_id, ''), geo)
FROM gtitled WHERE NOT accurate
"""

EXT23_REGISTRY["q162_mapbox_geo_flow"] = QueryDef(
    q162_mapbox_geo_flow, Q162_SQL,
    "mapbox derive composed: per-point geo_data (mode title/category, "
    "accurate split) + ES points + clusters from one persisted records frame "
    "(W3 A2 A5 U2 F21 to_mapbox.py:97-249)",
)


# --------------------------------------------------------------------------
# q163 — OSM place-bounds generator twin (data-analysis/osm/generate_places.py)
# --------------------------------------------------------------------------

def q163_place_bounds(spark, sf_dir):
    """The place-bounds generator end-to-end (pipelines/places_osm.py):
    hstore parse → Hebrew-name harvest + fix chain → rank/landuse/population
    gate → per-key merge → official fuzzy handshake → include_anyways filter
    → union bbox. Two phases: the merged per-key surface and the final
    package rows. The oracle derives the EXPECTED fixed names as literals,
    so the hash gates the whole normalization chain as a golden test (the
    engine parses and fixes; the oracle knows the answers)."""
    from ..pipelines.places_osm import (  # noqa: PLC0415
        generate_place_bounds,
        official_places,
        osm_features,
    )

    st = generate_place_bounds(
        osm_features(spark, sf_dir), official_places(spark, sf_dir)
    )
    bounds_fmt = F.format_string(
        "[%.5f,%.5f,%.5f,%.5f]",
        F.col("minlon"), F.col("minlat"), F.col("maxlon"), F.col("maxlat"),
    )
    merged_leg = st["merged"].select(
        F.lit("10_merged").alias("phase"),
        F.concat(F.lit("m:"), F.col("key")).alias("key"),
        F.concat_ws(
            "|", _s("place"), _s("landuse"), _s("population"),
            F.array_join("name", ","), _s("n_features"), bounds_fmt,
        ).alias("sig"),
    )
    places_leg = st["places"].select(
        F.lit("20_bounds").alias("phase"),
        F.concat(F.lit("p:"), F.col("key")).alias("key"),
        F.concat_ws(
            "|", _s("place"), F.array_join("name", ","), _s("population"),
            _s("official"),
            F.format_string(
                "[%.5f,%.5f,%.5f,%.5f]",
                F.element_at("bounds", 1), F.element_at("bounds", 2),
                F.element_at("bounds", 3), F.element_at("bounds", 4),
            ),
        ).alias("sig"),
    )
    return merged_leg.unionByName(places_leg)


_OSM_FIXED_BASE = """CASE idx
  WHEN 0 THEN 'חיפה' WHEN 1 THEN 'קריית גת' WHEN 2 THEN 'נווה צדק'
  WHEN 3 THEN 'הרצליה' WHEN 4 THEN 'תל אביב-יפו' WHEN 5 THEN 'עין ״גדי״'
  WHEN 7 THEN 'אום אל-פחם' WHEN 8 THEN 'מועצה אזורית גלבוע'
  WHEN 9 THEN 'שוהם' WHEN 11 THEN 'אבו גוש' WHEN 12 THEN 'גבעת שמואל' END"""

# the alias runs through the SAME chain but lands differently: no שהם
# special (exact match only), no ייה suffix rewrite mid-string, and the
# 'מועצה אזורית גלבוע עילית' variant trips the >20-char rejection
_OSM_FIXED_ALIAS = """CASE WHEN NOT has_alias THEN NULL ELSE CASE idx
  WHEN 0 THEN 'חיפה עילית' WHEN 1 THEN 'קריית גת עילית'
  WHEN 2 THEN 'נווה צדק עילית' WHEN 3 THEN 'הרצלייה עילית'
  WHEN 4 THEN 'תל אביב-יפו עילית' WHEN 5 THEN 'עין ״גדי״ עילית'
  WHEN 7 THEN 'אום אל-פחם עילית' WHEN 9 THEN 'שהם עילית'
  WHEN 11 THEN 'אבו גוש עילית' WHEN 12 THEN 'גבעת שמואל עילית' END END"""

# DuckDB's levenshtein counts BYTES while Spark's counts characters — on
# Hebrew (2-byte UTF-8) the distances diverge. Character levenshtein is
# invariant under any per-character bijection, so the oracle maps the Hebrew
# alphabet (+finals, geresh/gershayim) onto single-byte ASCII before scoring;
# the engine scores the originals. Lengths are character counts on both sides.
_HEB_CHARS = "אבגדהוזחטיכךלמםנןסעפףצץקרשת׳״"
_HEB_ASCII = "abcdefghijklmnopqrstuvwxyz123"


def _ascii_sql(col: str) -> str:
    out = col
    for h, a in zip(_HEB_CHARS, _HEB_ASCII):
        out = f"replace({out}, '{h}', '{a}')"
    return out


_OSM_ANYWAYS = (
    "len(list_filter(name, n -> starts_with(n, 'מועצה אזורית') "
    "OR starts_with(n, 'א-') OR starts_with(n, 'אבו ') OR starts_with(n, 'אום ') "
    "OR starts_with(n, 'אל ') OR starts_with(n, 'אל-') OR starts_with(n, 'גבעת '))) > 0"
)

Q163_SQL = f"""
WITH feats AS (
  SELECT c_custkey AS fid, c_custkey AS ck, n_nationkey AS nk,
         CAST(c_custkey % 13 AS INT) AS idx, c_custkey % 2 = 0 AS has_alias
  FROM customer JOIN nation ON c_nationkey = n_nationkey
), named AS (
  SELECT fid, ck, nk,
         list_sort(list_distinct(list_filter(
           [{_OSM_FIXED_BASE}, {_OSM_FIXED_ALIAS}], x -> x IS NOT NULL))) AS name,
         CASE WHEN ck % 7 < 5
              THEN (['city','town','village','hamlet','suburb'])[CAST(ck % 7 AS INT) + 1]
         END AS place,
         CASE WHEN ck % 5 = 3 THEN 'residential' END AS landuse,
         CASE WHEN ck % 11 = 4 THEN CAST((ck * 7) % 9000 + 100 AS VARCHAR) END AS population,
         33.2 + (nk % 12) * 0.3 + (ck % 10) * 0.01 AS lon0,
         29.5 + (nk % 10) * 0.35 AS lat0,
         ck % 6 = 0 AS multi
  FROM feats
), rows_f AS (
  SELECT *, array_to_string(regexp_extract_all(array_to_string(name, ' '), '[א-ת]+'), '_') AS key,
         lon0 AS minlon, lat0 AS minlat,
         CASE WHEN multi THEN lon0 + 0.5 + 0.02 ELSE lon0 + 0.02 END AS maxlon,
         CASE WHEN multi THEN lat0 + 0.25 + 0.03 ELSE lat0 + 0.03 END AS maxlat
  FROM named
  WHERE (place IN ('city','town','village','hamlet') OR landuse = 'residential'
         OR population IS NOT NULL)
    AND len(name) > 0
), merged0 AS (
  -- keeper as ONE struct: per-column arg_min would skip a NULL field on the
  -- min-fid row and frankenrow the keeper from several group members
  SELECT key,
         arg_min(struct_pack(place := place, landuse := landuse,
                             population := population, name := name),
                 fid) AS f,
         count(*) AS n_features,
         min(minlon) AS minlon, min(minlat) AS minlat,
         max(maxlon) AS maxlon, max(maxlat) AS maxlat
  FROM rows_f GROUP BY key
), merged AS (
  SELECT key, f.place AS place, f.landuse AS landuse,
         f.population AS population, f.name AS name,
         n_features, minlon, minlat, maxlon, maxlat
  FROM merged0
), officials AS (
  SELECT DISTINCT CASE n_nationkey % 10
    WHEN 0 THEN 'חיפה' WHEN 1 THEN 'קריית גת' WHEN 2 THEN 'נווה צדק'
    WHEN 3 THEN 'הרצליה' WHEN 4 THEN 'תל אביב-יפו' WHEN 5 THEN 'אום אל-פחם'
    WHEN 6 THEN 'שוהם' WHEN 7 THEN 'אבו גוש' WHEN 8 THEN 'חיפא'
    WHEN 9 THEN 'גבעת שמואלל' END AS official
  FROM nation WHERE n_nationkey % 9 != 8
), cand0 AS (
  SELECT m.key, o.official, CAST(floor(
           100.0 * (greatest(length(u.nm), length(o.official))
                    - levenshtein({_ascii_sql('u.nm')}, {_ascii_sql('o.official')}))
           / greatest(length(u.nm), length(o.official))) AS INT) AS score
  FROM merged m, unnest(m.name) AS u(nm), officials o
), cand AS (
  SELECT key, official, max(score) AS score FROM cand0
  WHERE score >= 86 GROUP BY key, official
), top AS (
  SELECT official, max(struct_pack(s := score, k := key)) AS t
  FROM cand GROUP BY official
), chosen AS (
  SELECT key, official FROM (
    SELECT c.key, c.official, c.score,
           row_number() OVER (PARTITION BY c.key ORDER BY c.score DESC, c.official ASC) AS rn
    FROM cand c JOIN top t ON c.official = t.official
    WHERE c.score >= 87 AND t.t.s >= 87 AND c.key = t.t.k
  ) WHERE rn = 1
), places AS (
  SELECT m.*, ch.official
  FROM merged m LEFT JOIN chosen ch ON m.key = ch.key
  WHERE ch.official IS NOT NULL
     OR m.place IN ('city','town','village','hamlet')
     OR {_OSM_ANYWAYS}
)
SELECT '10_merged' AS phase, 'm:' || key AS key,
       concat_ws('|', coalesce(place, ''), coalesce(landuse, ''),
                 coalesce(population, ''), array_to_string(name, ','),
                 CAST(n_features AS VARCHAR),
                 printf('[%.5f,%.5f,%.5f,%.5f]', minlon, minlat, maxlon, maxlat)) AS sig
FROM merged
UNION ALL
SELECT '20_bounds', 'p:' || key,
       concat_ws('|', coalesce(place, ''), array_to_string(name, ','),
                 coalesce(population, ''), coalesce(official, ''),
                 printf('[%.5f,%.5f,%.5f,%.5f]', minlon, minlat, maxlon, maxlat))
FROM places
"""

EXT23_REGISTRY["q163_place_bounds"] = QueryDef(
    q163_place_bounds, Q163_SQL,
    "OSM place-bounds generator twin: hstore parse + Hebrew name-fix chain + "
    "per-key union bbox + official fuzzy handshake + include_anyways "
    "(generate_places.py, golden-name oracle)",
)


# --------------------------------------------------------------------------
# q164 — DSIR importance resampling (Xie et al. 2023, arXiv:2302.03169)
# --------------------------------------------------------------------------

def q164_dsir_selection(spark, sf_dir):
    """DSIR over the documents corpus (operators/dsir.py): target = the
    held-out %37 slice (q160's eval split), raw = the rest; hashed
    uni+bigram features over 256 buckets, add-one-smoothed target/source
    multinomials, per-doc importance log-weights via a b-ascending sorted
    fold, Gumbel top-k=200 with hash-derived (deterministic) draws. The
    emitted logw AND sampling key certify both the evidence and the draw."""
    from ..operators.dsir import dsir_select  # noqa: PLC0415
    from .queries import _t  # noqa: PLC0415

    d = _t(spark, sf_dir, "documents")
    target = d.filter(F.col("doc_id") % 37 == 0)
    raw = d.filter(F.col("doc_id") % 37 != 0)
    out = dsir_select(raw, target, "text", "doc_id", k=200, num_buckets=256)
    return out.select(
        F.col("id").alias("doc_id"),
        F.format_string("%.6f", F.col("logw")).alias("logw"),
        F.format_string("%.6f", F.col("key")).alias("key"),
    )


from .queries import _NORM  # noqa: E402

_DSIR_B = 256

# DSIR scoring chain as a spliceable fragment: __DSRC__/__DTGT__ are
# sentinel CTE names providing (doc_id, norm) — q164 binds the raw/target
# document splits, q166 binds the curated corpus and the same eval target.
_DSIR_SCORED_T = f"""rtoks AS (
  SELECT doc_id, list_filter(string_split(norm, ' '), t -> t != '') AS t FROM __DSRC__
), ttoks AS (
  SELECT doc_id, list_filter(string_split(norm, ' '), t -> t != '') AS t FROM __DTGT__
), rgrams AS (
  SELECT doc_id, unnest(list_concat(t,
    CASE WHEN len(t) < 2 THEN CAST([] AS VARCHAR[])
         ELSE list_transform(generate_series(1, len(t) - 1),
                             i -> t[i] || ' ' || t[i + 1]) END)) AS gram
  FROM rtoks
), tgrams AS (
  SELECT doc_id, unnest(list_concat(t,
    CASE WHEN len(t) < 2 THEN CAST([] AS VARCHAR[])
         ELSE list_transform(generate_series(1, len(t) - 1),
                             i -> t[i] || ' ' || t[i + 1]) END)) AS gram
  FROM ttoks
), rbuckets AS (
  SELECT doc_id, CAST('0x' || substr(md5(gram), 1, 15) AS BIGINT) % {_DSIR_B} AS bucket,
         count(*) AS n
  FROM rgrams GROUP BY 1, 2
), tbuckets AS (
  SELECT CAST('0x' || substr(md5(gram), 1, 15) AS BIGINT) % {_DSIR_B} AS bucket,
         count(*) AS n
  FROM tgrams GROUP BY 1
), totals AS (
  SELECT (SELECT coalesce(sum(n), 0) FROM tbuckets) AS tot_t,
         (SELECT coalesce(sum(n), 0) FROM rbuckets) AS tot_s
), ratio AS (
  SELECT s.bucket,
         ln((CAST(coalesce(t.n, 0) AS DOUBLE) + 1.0)
            / CAST(x.tot_t + {_DSIR_B} AS DOUBLE))
         - ln((CAST(s.n AS DOUBLE) + 1.0)
              / CAST(x.tot_s + {_DSIR_B} AS DOUBLE)) AS logr
  FROM (SELECT bucket, sum(n) AS n FROM rbuckets GROUP BY bucket) s
  LEFT JOIN tbuckets t ON s.bucket = t.bucket
  CROSS JOIN totals x
), perdoc AS (
  -- b-ascending left fold with a 0.0 seed: the engine's deterministic
  -- summation order reproduced exactly (list_reduce folds left)
  SELECT b.doc_id,
         list_reduce(
           list_prepend(CAST(0.0 AS DOUBLE),
             list_transform(
               list(struct_pack(b := b.bucket, v := CAST(b.n AS DOUBLE) * r.logr)
                    ORDER BY b.bucket),
               x -> x.v)),
           (a, v) -> a + v) AS logw
  FROM rbuckets b JOIN ratio r ON b.bucket = r.bucket
  GROUP BY b.doc_id
), scored AS (
  SELECT r.doc_id, coalesce(p.logw, 0.0) AS logw,
         coalesce(p.logw, 0.0)
         + (-ln(-ln(CAST(CAST('0x' || substr(md5(CAST(r.doc_id AS VARCHAR)), 1, 13) AS BIGINT) AS DOUBLE)
                    / {float(1 << 52)}))) AS key
  FROM __DSRC__ r LEFT JOIN perdoc p ON r.doc_id = p.doc_id
)"""

Q164_SQL = (
    f"""
WITH raw AS (
  SELECT doc_id, {_NORM.format(c='text')} AS norm FROM documents WHERE doc_id % 37 != 0
), tgt AS (
  SELECT doc_id, {_NORM.format(c='text')} AS norm FROM documents WHERE doc_id % 37 = 0
), """
    + _DSIR_SCORED_T.replace("__DSRC__", "raw").replace("__DTGT__", "tgt")
    + """
SELECT doc_id, printf('%.6f', logw) AS logw, printf('%.6f', key) AS key
FROM (SELECT doc_id, logw, key FROM scored ORDER BY key DESC LIMIT 200)
"""
)

EXT23_REGISTRY["q164_dsir_selection"] = QueryDef(
    q164_dsir_selection, Q164_SQL,
    "LLM-pipeline: DSIR importance resampling — hashed n-gram multinomials, "
    "importance log-weights, deterministic Gumbel top-k (arXiv:2302.03169)",
)
