"""Round-4 extension queries, part 3: storage/serving-efficiency ops.

q85 — int8 scalar quantization of the embedding corpus with reconstruction
      error — the 4x memory lever for ANN serving at 100 TB.
q86 — count-min-sketch heavy hitters (operators/cms.py) beside their exact
      counts — frequency sketching with a portable universal-hash family,
      so the oracle reproduces the sketch bit-for-bit.
q87 — temperature-based source mixing weights (Pile/LLaMA-style sampling:
      weight ∝ tokens^0.7) — the data-mixing table a training run consumes.
q88 — Structured Streaming session-window replay, oracle-checked against a
      batch gap-islands computation (the streaming twin of q17's batch
      sessionize, closing §2.12's session-window coverage with a driver-
      checkable query).
"""

from __future__ import annotations

import itertools

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..functions.text import token_count
from ..operators.cms import build_cms, cms_estimate
from ..operators.similarity import quantize_embeddings
from ._scalar import scalarized_sql, stringify_arrays
from .queries import QueryDef, _t

_SINK_IDS = itertools.count()


# --------------------------------------------------------------------------
# q85 — int8 scalar quantization + reconstruction error
# --------------------------------------------------------------------------

def q85_quantize(spark, sf_dir):
    """Per-vector symmetric int8 quantization with reconstruction MSE
    (operators/similarity.py:quantize_embeddings) — no shuffle; at serving
    scale this is the 4x memory cut that lets an IVF cell list stay in
    RAM. Property-tested error bound |x - q/s| <= 0.5/s per component."""
    emb = _t(spark, sf_dir, "embeddings")
    out = quantize_embeddings(emb, "embedding", "vec_id")
    return stringify_arrays(
        out.select(
            F.col("vec_id").cast("long").alias("vec_id"),
            F.round(F.col("scale"), 6).alias("scale"),
            "qvec",
            F.round(F.col("mse"), 10).alias("mse"),
        )
    )


Q85_SQL = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
s AS (SELECT vec_id, v,
             CASE WHEN list_max(list_transform(v, x -> abs(x))) = 0 THEN CAST(0.0 AS DOUBLE)
                  ELSE CAST(127.0 AS DOUBLE) / list_max(list_transform(v, x -> abs(x))) END AS scale
      FROM e),
q AS (SELECT vec_id, v, scale,
             list_transform(v, x -> CAST(round(x * scale) AS INT)) AS qvec
      FROM s)
SELECT CAST(vec_id AS BIGINT) AS vec_id,
       round(scale, 6) AS scale,
       qvec,
       round(list_sum(list_transform(list_zip(v, qvec),
               p -> (p[1] - CASE WHEN scale = 0 THEN CAST(0.0 AS DOUBLE) ELSE p[2] / scale END)
                  * (p[1] - CASE WHEN scale = 0 THEN CAST(0.0 AS DOUBLE) ELSE p[2] / scale END)))
             / len(v), 10) AS mse
FROM q
"""

Q85_SQL = scalarized_sql(Q85_SQL, ["qvec"])


# --------------------------------------------------------------------------
# q86 — count-min heavy hitters vs exact counts
# --------------------------------------------------------------------------

def q86_cms_heavy_hitters(spark, sf_dir):
    """Top-20 parts by exact lineitem frequency, each with its count-min
    estimate (operators/cms.py; 3x512 sketch). The estimate uses the same
    universal-hash family the SQL twin computes, so the comparison is exact —
    and the overestimate property (estimate >= exact) is visible in the
    output."""
    li = _t(spark, sf_dir, "lineitem").select(F.col("l_partkey").alias("k"))
    sketch = build_cms(li, "k", width=512, depth=3)
    exact = li.groupBy("k").agg(F.count(F.lit(1)).alias("exact_n"))
    top = exact.orderBy(F.col("exact_n").desc(), F.col("k").asc()).limit(20)
    est = cms_estimate(top, sketch, "k", width=512, depth=3)
    return est.select(
        F.col("k").cast("long").alias("k"),
        F.col("exact_n").cast("long").alias("exact_n"),
        F.col("cms_estimate").cast("long").alias("cms_estimate"),
    )


Q86_SQL = """
WITH seeds(i, a, b) AS (VALUES (0, 1000003, 12345), (1, 1000033, 54321), (2, 1000087, 98765)),
base AS (SELECT l_partkey AS k FROM lineitem),
cells AS (
  SELECT s.i, ((b2.k * s.a + s.b) % 2147483647) % 512 AS bkt, count(*) AS c
  FROM base b2 CROSS JOIN seeds s GROUP BY 1, 2
),
exact AS (
  SELECT k, count(*) AS exact_n FROM base GROUP BY k
  ORDER BY exact_n DESC, k LIMIT 20
)
SELECT CAST(e.k AS BIGINT) AS k, CAST(e.exact_n AS BIGINT) AS exact_n,
       CAST(min(c.c) AS BIGINT) AS cms_estimate
FROM exact e CROSS JOIN seeds s
JOIN cells c ON c.i = s.i AND c.bkt = ((e.k * s.a + s.b) % 2147483647) % 512
GROUP BY e.k, e.exact_n
"""


# --------------------------------------------------------------------------
# q87 — temperature-based source mixing weights
# --------------------------------------------------------------------------

def q87_source_mixing(spark, sf_dir):
    """Data-mixing table: per source its doc/token counts, its natural share
    and its temperature-smoothed share (w ∝ tokens^0.7 — upsamples small
    high-quality sources, the Pile/LLaMA recipe). One groupBy over the
    corpus; the normalization runs over the tiny per-source aggregate."""
    d = _t(spark, sf_dir, "documents")
    per = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count(F.col("text"))).alias("tokens"),
    )
    w = Window.partitionBy()
    tot = F.sum("tokens").over(w)
    pw = F.pow(F.col("tokens").cast("double"), F.lit(0.7))
    tot7 = F.sum(pw).over(w)
    return per.select(
        "source",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("tokens").cast("long").alias("tokens"),
        F.round(F.col("tokens").cast("double") / tot, 6).alias("share"),
        F.round(pw / tot7, 6).alias("temp_share"),
    )


Q87_SQL = """
WITH per AS (
  SELECT source, count(*) AS n_docs,
         sum(CASE WHEN text IS NULL OR trim(text) = '' THEN 0
                  ELSE len(list_filter(string_split_regex(trim(text), '\\s+'), t -> t != '')) END) AS tokens
  FROM documents GROUP BY source
)
SELECT source, CAST(n_docs AS BIGINT) AS n_docs, CAST(tokens AS BIGINT) AS tokens,
       round(CAST(tokens AS DOUBLE) / sum(CAST(tokens AS DOUBLE)) OVER (), 6) AS share,
       round(pow(CAST(tokens AS DOUBLE), 0.7) / sum(pow(CAST(tokens AS DOUBLE), 0.7)) OVER (), 6) AS temp_share
FROM per
"""


# --------------------------------------------------------------------------
# q88 — streaming session-window replay
# --------------------------------------------------------------------------

def q88_stream_sessions(spark, sf_dir):
    """Replay the events parquet through a file-source stream into gap-based
    session windows (30 min) per user — the streaming twin of the batch
    sessionize operator (q17), proving the stateful session merge computes
    exactly the batch gap-islands answer. Decimal-cast sum for cross-engine
    exactness (the q53 discipline)."""
    from ..streaming.events import (  # noqa: PLC0415
        recovery_axis,
        replay,
        run_to_memory,
        source_bytes_of,
        stream_events,
        ts_ordered_halves,
    )

    name = f"q88_sink_{next(_SINK_IDS)}"

    def build(s):
        return (
            s.withWatermark("ts", "4 hours")
            .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
            )
            .select(
                F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
                F.date_format(F.col("w.end"), "yyyy-MM-dd HH:mm:ss").alias("session_end"),
                F.col("user_id").cast("long").alias("user_id"),
                F.col("n_events").cast("long").alias("n_events"),
                "sum_value",
            )
        )

    # recovery axis, for SESSION-WINDOW state: open sessions spanning the
    # crash point must merge correctly from the recovered state store (run
    # 2 only sees the later half).
    if recovery_axis():
        ev = _t(spark, sf_dir, "events").withColumn("ts", F.col("ts").cast("timestamp"))
        out, _progress = replay(
            spark, ts_ordered_halves(ev), build, name, mode="complete", stop_after=1
        )
        return out
    src = f"{sf_dir}/events.parquet"
    run_to_memory(
        build(stream_events(spark, src)), name, mode="complete",
        source_bytes=source_bytes_of(src),
    )
    return spark.table(name)


Q88_SQL = """
WITH o AS (
  SELECT user_id, ts, value,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
  FROM events
), m AS (
  SELECT *, CASE WHEN prev IS NULL OR ts - prev >= INTERVAL '30 minutes' THEN 1 ELSE 0 END AS new_s
  FROM o
), s AS (
  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
  FROM m
)
SELECT strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       strftime(max(ts) + INTERVAL '30 minutes', '%Y-%m-%d %H:%M:%S') AS session_end,
       CAST(user_id AS BIGINT) AS user_id, CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM s GROUP BY user_id, sid
"""


EXT8_REGISTRY = {
    "q85_quantize": QueryDef(
        q85_quantize, Q85_SQL, "LLM-pipeline: int8 embedding quantization"
    ),
    "q86_cms_heavy_hitters": QueryDef(
        q86_cms_heavy_hitters, Q86_SQL, "LLM-pipeline: count-min heavy hitters"
    ),
    "q87_source_mixing": QueryDef(
        q87_source_mixing, Q87_SQL, "LLM-pipeline: temperature source mixing"
    ),
    "q88_stream_sessions": QueryDef(
        q88_stream_sessions, Q88_SQL, "§2.12-ext streaming session windows"
    ),
}
