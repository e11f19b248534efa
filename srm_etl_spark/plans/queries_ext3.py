"""Operator-inventory queries, round-2 extension set #3 (q57-q59).

Covers the last §2.9/§2.5 stragglers with oracle-checked entries:

- F7/F8/F24: HTML sanitize, base64-or-passthrough, Hebrew text walk → q57
- F5/F6: fuzzy address/org-name splitting (bounded-error substring)  → q58
- A7: implements-merge (order-free join reformulation)               → q59

The oracles never re-implement the kernels — they compute the expected
output in closed form from the synthesized inputs, so a hash match proves
the Spark kernel end-to-end (same pattern as q54's binary round-trip).
"""

from __future__ import annotations

import itertools

from pyspark.sql import functions as F

from ..functions.fuzzy import address_parts
from ..functions.html import base64_or_passthrough, sanitize_html, select_text_fields
from ..operators.relational import implements_merge
from ._scalar import scalarized_sql, stringify_arrays
from .queries import QueryDef, _t

# --------------------------------------------------------------------------
# q57 — HTML sanitize + base64 fallback + Hebrew token walk
# --------------------------------------------------------------------------

_HEB = ["שלום", "מרכז", "עזרה"]


def q57_html_text_clean(spark, sf_dir):
    """F7 sanitize_html (regexp chain, fully codegen), F8 base64 fallback
    decode, F24 recursive Hebrew-token walk — on synthesized HTML wrapping
    each document's source tag. The oracle reproduces the *expected cleaned
    text* in closed form, not the regex chain."""
    d = _t(spark, sf_dir, "documents")
    heb = (
        F.when(F.col("doc_id") % 3 == 0, F.lit(_HEB[0]))
        .when(F.col("doc_id") % 3 == 1, F.lit(_HEB[1]))
        .otherwise(F.lit(_HEB[2]))
    )
    html = F.concat(
        F.lit("<p>Hello &amp; "), heb, F.lit("</p><li>"), F.col("source"), F.lit("</li>")
    )
    b64raw = F.when(
        F.col("doc_id") % 2 == 0, F.base64(F.encode(F.col("source"), "UTF-8"))
    ).otherwise(F.lit("!!notb64"))
    cleaned = d.select(
        "doc_id",
        sanitize_html(html).alias("clean_text"),
        base64_or_passthrough(b64raw).alias("decoded"),
    )
    return stringify_arrays(
        cleaned.select(
            "doc_id",
            "clean_text",
            "decoded",
            select_text_fields(cleaned, ["clean_text"]).alias("heb_tokens"),
        )
    )


Q57_SQL = """
SELECT doc_id,
       'Hello & ' ||
         CASE WHEN doc_id % 3 = 0 THEN 'שלום'
              WHEN doc_id % 3 = 1 THEN 'מרכז'
              ELSE 'עזרה' END || chr(10) || source AS clean_text,
       CASE WHEN doc_id % 2 = 0 THEN source ELSE '!!notb64' END AS decoded,
       [CASE WHEN doc_id % 3 = 0 THEN 'שלום'
             WHEN doc_id % 3 = 1 THEN 'מרכז'
             ELSE 'עזרה' END] AS heb_tokens
FROM documents
"""

Q57_SQL = scalarized_sql(Q57_SQL, ["heb_tokens"])


# --------------------------------------------------------------------------
# q58 — fuzzy address split (F5/F6)
# --------------------------------------------------------------------------

_CITIES = ["תל אביב", "ירושלים", "חיפה", "באר שבע"]


def q58_address_parts(spark, sf_dir):
    """F5/F6 fuzzy substring split: the city is embedded exactly in 4 of 5
    rows and with one substituted character in the 5th — both paths of the
    bounded-error scan (functions/fuzzy.py) produce a split the oracle can
    state in closed form. Arrow-batched map, no shuffle."""
    c = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    city = (
        F.when(k % 4 == 0, F.lit(_CITIES[0]))
        .when(k % 4 == 1, F.lit(_CITIES[1]))
        .when(k % 4 == 2, F.lit(_CITIES[2]))
        .otherwise(F.lit(_CITIES[3]))
    )
    # every 5th row embeds the city with its 2nd character substituted
    addr_city = F.when(
        k % 5 == 0,
        F.concat(F.substring(city, 1, 1), F.lit("X"), F.substring(city, 3, 100)),
    ).otherwise(city)
    base = c.select(
        k.alias("key"),
        city.alias("city"),
        F.concat(
            F.lit("הרצל "), (k % 90 + 1).cast("string"), F.lit(" "), addr_city
        ).alias("address"),
    )
    parts = base.withColumn("p", address_parts(F.col("address"), F.col("city")))
    return parts.select(
        "key",
        F.col("p.primary").alias("street"),
        F.col("p.secondary").alias("city_part"),
        F.col("p.match_start").cast("long").alias("match_start"),
    )


Q58_SQL = """
WITH base AS (
  SELECT c_custkey AS key,
         CASE WHEN c_custkey % 4 = 0 THEN 'תל אביב'
              WHEN c_custkey % 4 = 1 THEN 'ירושלים'
              WHEN c_custkey % 4 = 2 THEN 'חיפה'
              ELSE 'באר שבע' END AS city,
         'הרצל ' || CAST(c_custkey % 90 + 1 AS VARCHAR) AS street
  FROM customer
)
SELECT key, street,
       CASE WHEN key % 5 = 0
            THEN substr(city, 1, 1) || 'X' || substr(city, 3)
            ELSE city END AS city_part,
       CAST(length(street) + 1 AS BIGINT) AS match_start
FROM base
"""


# --------------------------------------------------------------------------
# q59 — implements-merge (A7)
# --------------------------------------------------------------------------

def q59_implements_merge(spark, sf_dir):
    """A7 as an order-free plan (operators/relational.py:implements_merge):
    services whose id is implemented by another service of the same org are
    dropped — left-anti join against the (implemented id, org) set, replacing
    the reference's sort-then-seen-set streaming scan (to_dp.py:409-447)."""
    p = _t(spark, sf_dir, "part")
    k = F.col("p_partkey")
    svc = p.select(
        F.concat(F.lit("svc-"), k.cast("string")).alias("id"),
        F.concat(F.lit("org-"), (k % 50).cast("string")).alias("organization"),
        F.when(
            (k % 10 == 7) & (k >= 50),
            F.concat(F.lit("svc-"), (k - 50).cast("string")),
        ).alias("implements"),
    )
    return implements_merge(svc)


Q59_SQL = """
WITH svc AS (
  SELECT 'svc-' || CAST(p_partkey AS VARCHAR) AS id,
         'org-' || CAST(p_partkey % 50 AS VARCHAR) AS organization,
         CASE WHEN p_partkey % 10 = 7 AND p_partkey >= 50
              THEN 'svc-' || CAST(p_partkey - 50 AS VARCHAR) END AS implements
  FROM part
)
SELECT s.id, s.organization, s.implements
FROM svc s
WHERE NOT EXISTS (
  SELECT 1 FROM svc i
  WHERE i.implements = s.id AND i.organization = s.organization
)
"""


# --------------------------------------------------------------------------
# q60 — custom stateful streaming operator, oracle-checked
# --------------------------------------------------------------------------

_Q60_SINK_IDS = itertools.count()


def q60_stream_running_totals(spark, sf_dir):
    """Custom stateful streaming op (streaming/events.py:running_user_totals,
    applyInPandasWithState): replay events, carry per-user (count, total) in
    the state store across micro-batches, then reduce the update-mode sink to
    final state — n_events is monotone per key, so max_by picks the last
    update. Values are scaled to integer micros BEFORE the stream so the
    Python-side accumulation is exact and order-independent (float sums in
    state would drift from any SQL oracle)."""
    from ..streaming.events import (  # noqa: PLC0415
        recovery_axis,
        replay,
        run_to_memory,
        running_user_totals,
        source_bytes_of,
        stream_events,
        ts_ordered_halves,
    )

    name = f"q60_sink_{next(_Q60_SINK_IDS)}"

    def build(s):
        return running_user_totals(
            s.withColumn("value", F.round(F.col("value") * 1000000))
        )

    # recovery axis, for the CUSTOM stateful operator
    # (applyInPandasWithState): post-crash emissions must carry the
    # pre-crash accumulated (n, total) from the recovered state store; the
    # update-mode replay returns both runs' emissions and the
    # max_by(n_events) reduction below picks each user's latest update.
    if recovery_axis():
        ev = _t(spark, sf_dir, "events").withColumn("ts", F.col("ts").cast("timestamp"))
        sink, _progress = replay(
            spark, ts_ordered_halves(ev), build, name, mode="update",
            stop_after=1, python_stateful=True,
        )
    else:
        src = f"{sf_dir}/events.parquet"
        run_to_memory(
            build(stream_events(spark, src)), name, mode="update",
            source_bytes=source_bytes_of(src), python_stateful=True,
        )
        sink = spark.table(name)
    return (
        sink.groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max_by("total_value", "n_events").alias("scaled_total"),
        )
        .select(
            "user_id",
            "n_events",
            (F.col("scaled_total") / 1000000).alias("total_value"),
        )
    )


Q60_SQL = """
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_events,
       sum(CAST(round(value * 1000000) AS BIGINT)) / 1000000.0 AS total_value
FROM events GROUP BY user_id
"""


# --------------------------------------------------------------------------
# q61 — IVF approximate nearest neighbors, fully oracle-checked
# --------------------------------------------------------------------------

def q61_ivf_topk(spark, sf_dir):
    """IVF ANN (operators/similarity.py:ivf_topk): per-label centroids form
    the coarse quantizer, every vector is re-assigned to its nearest centroid
    (argmax over a broadcast quantizer, map-side-combined), each query probes
    its 2 nearest cells and ranks only those cells' vectors. Unlike the LSH
    variant (q30, rows-only), every step here is deterministic and
    SQL-expressible, so the whole approximate index is value-hash-checked.
    Centroid components are pinned to a 1e-6 grid so argmax decisions match
    across engines with different float-summation orders. (The synthetic
    embeddings are isotropic, so recall ≈ the probed fraction — the check is
    about the index plumbing being exactly right, not clustered-data recall.)"""
    from ..operators import similarity as SIM  # noqa: PLC0415

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    out = SIM.ivf_topk(emb, queries, k=5, nprobe=2)
    return out.select(
        "query_id",
        "neighbor_id",
        F.round("cosine", 4).alias("cosine"),
        F.col("rank").cast("long").alias("rank"),
    )


Q61_SQL = """
WITH dims AS (
  SELECT label, generate_subscripts(embedding, 1) - 1 AS pos,
         unnest(CAST(embedding AS DOUBLE[])) AS v
  FROM embeddings
), cdim AS (
  SELECT label, pos, round(CAST(list_reduce(list_sort(list(CAST(v AS DOUBLE))), (a, b) -> a + b) AS DOUBLE) / count(v), 6) AS value FROM dims GROUP BY label, pos
), cent AS (
  SELECT label, list(value ORDER BY pos) AS centroid FROM cdim GROUP BY label
), assigned AS (
  SELECT e.vec_id, e.embedding, c.label,
         row_number() OVER (
           PARTITION BY e.vec_id
           ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.centroid) DESC,
                    c.label ASC
         ) AS rn
  FROM embeddings e CROSS JOIN cent c
), cells AS (
  SELECT vec_id, embedding, label FROM assigned WHERE rn = 1
), probes AS (
  SELECT q.vec_id AS query_id, q.embedding AS qvec, c.label,
         row_number() OVER (
           PARTITION BY q.vec_id
           ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), c.centroid) DESC,
                    c.label ASC
         ) AS prn
  FROM embeddings q CROSS JOIN cent c
  WHERE q.vec_id < 5
), scored AS (
  SELECT p.query_id, m.vec_id AS neighbor_id,
         list_cosine_similarity(CAST(m.embedding AS DOUBLE[]), CAST(p.qvec AS DOUBLE[])) AS cos_raw
  FROM (SELECT query_id, qvec, label FROM probes WHERE prn <= 2) p
  JOIN cells m ON m.label = p.label
  WHERE m.vec_id != p.query_id
), ranked AS (
  SELECT query_id, neighbor_id, cos_raw,
         row_number() OVER (PARTITION BY query_id ORDER BY cos_raw DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, round(cos_raw, 4) AS cosine, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 5
"""


EXT3_REGISTRY = {
    "q57_html_text_clean": QueryDef(q57_html_text_clean, Q57_SQL, "F7 F8 F24"),
    "q58_address_parts": QueryDef(q58_address_parts, Q58_SQL, "F5 F6"),
    "q59_implements_merge": QueryDef(q59_implements_merge, Q59_SQL, "A7 W4"),
    "q60_stream_running_totals": QueryDef(
        q60_stream_running_totals, Q60_SQL, "§2.12 stateful applyInPandasWithState"
    ),
    "q61_ivf_topk": QueryDef(q61_ivf_topk, Q61_SQL, "IVF ANN (similarity ext)"),
}
