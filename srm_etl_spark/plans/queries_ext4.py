"""Round-2 extension queries: duplicate clustering (connected components),
sketch aggregates, and a stream-stream interval join.

Same contract as plans/queries.py: each Spark callable takes
``(spark, sf_dir)`` and returns a DataFrame whose columns are aliased
identically to its DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators.graph import duplicate_clusters
from .queries import Q28_SQL, QueryDef, _t
from .queries import q28_jaccard_pairs as _q28_pairs

# --------------------------------------------------------------------------
# q62 — duplicate clusters: near-dup pairs -> connected components
# --------------------------------------------------------------------------


def q62_dup_clusters(spark, sf_dir):
    """Pairs → clusters: the token-Jaccard near-dup pairs (q28's exact pair
    set) resolved into connected components by distributed min-label
    propagation (operators/graph.py), labeling every clustered document with
    the min doc_id of its component plus the cluster size. This is the step
    that turns pairwise dedup output into 'keep one canonical doc per
    cluster' at corpus scale — the reference does it inside a single-process
    pandas groupby (operators/derive/to_dp.py:237-286)."""
    pairs = _q28_pairs(spark, sf_dir)
    return duplicate_clusters(pairs, "left_id", "right_id").select(
        F.col("node").alias("doc_id"), "component", "cluster_size"
    )


# The oracle replays the same pair set (q28's SQL, verbatim) and computes each
# node's component as min reachable node via a recursive CTE — transitive
# closure collapsed by UNION-distinct.
Q62_SQL = f"""
WITH RECURSIVE pairs AS ({Q28_SQL}),
edges AS (
  SELECT left_id AS a, right_id AS b FROM pairs
  UNION ALL
  SELECT right_id AS a, left_id AS b FROM pairs
),
reach(node, lbl) AS (
  SELECT a, a FROM edges
  UNION
  SELECT e.a, r.lbl FROM edges e JOIN reach r ON r.node = e.b
),
comp AS (SELECT node, min(lbl) AS component FROM reach GROUP BY node)
SELECT node AS doc_id, component,
       CAST(count(*) OVER (PARTITION BY component) AS BIGINT) AS cluster_size
FROM comp
"""


# --------------------------------------------------------------------------
# q63 — sketch aggregates: HLL distinct + KLL-ish percentile vs exact twins
# --------------------------------------------------------------------------


def q63_sketch_agg(spark, sf_dir):
    """Sketch aggregates next to their exact twins: per order priority, HLL++
    approx distinct customers (rsd 2%) and approx median price (accuracy
    10000) are computed alongside the exact values; the query emits the exact
    values plus booleans asserting the sketches landed inside their error
    envelopes. The oracle pins the exact columns and the envelope booleans —
    if a sketch drifts out of tolerance the hash check fails, so the sketches
    are gate-verified without demanding cross-engine sketch-identical
    output (DuckDB's HLL is a different implementation).

    The median envelope is RANK-based — the quantile sketch's actual
    contract (rank error ≤ n/accuracy), checked as |rank(_am) - n/2| within
    a 0.2%-of-n slack via one broadcast-join counting pass. A VALUE envelope
    against the interpolated exact median is wrong for even-count groups:
    the sketch returns a real element, and the gap between the two middle
    elements can exceed any fixed value tolerance on a small group (caught
    by the r8 sf0.001 sweep: a 316-row group's middle gap was 1.1%)."""
    o = _t(spark, sf_dir, "orders")
    agg = o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("_n"),
        F.countDistinct("o_custkey").alias("exact_distinct"),
        F.approx_count_distinct("o_custkey", 0.02).alias("_ad"),
        F.expr("percentile(o_totalprice, 0.5D)").alias("_em"),
        F.percentile_approx("o_totalprice", 0.5, 10000).alias("_am"),
    )
    rank = (
        o.select("o_orderpriority", "o_totalprice")
        .join(F.broadcast(agg.select("o_orderpriority", "_am")), "o_orderpriority")
        .groupBy("o_orderpriority")
        .agg(F.sum(F.when(F.col("o_totalprice") <= F.col("_am"), 1).otherwise(0)).alias("_rank"))
    )
    return agg.join(rank, "o_orderpriority").select(
        "o_orderpriority",
        "exact_distinct",
        F.round("_em", 2).alias("exact_median"),
        (F.abs(F.col("_ad") - F.col("exact_distinct")) / F.col("exact_distinct") <= 0.05).alias(
            "distinct_sketch_ok"
        ),
        (
            F.abs(F.col("_rank") - F.col("_n") / 2.0)
            <= F.greatest(F.lit(2.0), F.col("_n") * 0.002)
        ).alias("median_sketch_ok"),
    )


Q63_SQL = """
SELECT o_orderpriority,
       count(DISTINCT o_custkey) AS exact_distinct,
       round(median(o_totalprice), 2) AS exact_median,
       TRUE AS distinct_sketch_ok,
       TRUE AS median_sketch_ok
FROM orders GROUP BY o_orderpriority
"""


# --------------------------------------------------------------------------
# q64 — stream-stream interval join (click -> purchase within 30 minutes)
# --------------------------------------------------------------------------

def q64_stream_join(spark, sf_dir):
    """Stream-stream inner join with a time-range predicate
    (streaming/events.py:interval_join): purchases landing within 30 minutes
    of a click by the same user, replayed through two file-source streams and
    an append-mode memory sink, then reduced to per-user pair counts. The
    watermark exceeds the replayed span so no pair is dropped and the result
    equals the batch join the oracle runs — the per-microbatch state pruning
    (right watermark past click_ts + delay) is exactly what bounds join state
    on an unbounded cluster deployment.

    The replay pins a smaller shuffle-partition count for the stream: the
    state-store count is fixed at query start from spark.sql.shuffle.partitions,
    and a one-file local replay doesn't need 32 HDFS-backed stores (a real
    deployment sizes this to the cluster, not the default). The memory sink is
    reduced to the tiny per-user aggregate and dropped before returning, so
    repeated invocations in one session hold no sink state."""
    from ..streaming.events import (  # noqa: PLC0415
        interval_join,
        recovery_axis,
        replay,
        run_to_memory,
        source_bytes_of,
        stream_events,
        ts_ordered_halves,
    )

    name = "q64_sink"

    def build(s):
        clicks = s.filter(F.col("event_type") == "click").select(
            "user_id", F.col("ts").alias("click_ts")
        )
        purchases = s.filter(F.col("event_type") == "purchase").select(
            "user_id",
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
        return interval_join(
            clicks, purchases, "user_id", "click_ts", "purchase_ts",
            max_delay="30 minutes", watermark="60 days",
        )

    recovery = recovery_axis()
    prior_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        if recovery:
            # STREAM-STREAM JOIN state: the buffered rows of both sides must
            # come back from the state store for cross-half (click in run 1,
            # purchase in run 2) pairs to emit.
            ev = _t(spark, sf_dir, "events").withColumn(
                "ts", F.col("ts").cast("timestamp")
            )
            sink, _progress = replay(
                spark, ts_ordered_halves(ev), build, name, stop_after=1
            )
        else:
            src = f"{sf_dir}/events.parquet"
            run_to_memory(
                build(stream_events(spark, src)), name, mode="append",
                source_bytes=source_bytes_of(src),
            )
            sink = spark.table(name)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prior_parts)
    agg = sink.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.countDistinct("purchase_ts").alias("n_purchases"),
        F.round(F.sum(F.col("purchase_value").cast("decimal(18,6)")).cast("double"), 6).alias(
            "sum_purchase_value"
        ),
    )
    # detach the result from the memory-sink view without driver-resident
    # rows: write the (already small, per-user) aggregate to a scratch
    # parquet and hand back the lazy read — driver memory stays O(1) however
    # many distinct users the stream carries
    from ..session import scratch_dir  # noqa: PLC0415

    out_path = scratch_dir("srm_q64_agg") + "/agg"
    agg.write.mode("overwrite").parquet(out_path)
    if not recovery:  # the replay has no memory-sink view to drop
        spark.catalog.dropTempView(name)
    return spark.read.parquet(out_path)


Q64_SQL = """
SELECT c.user_id,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(count(DISTINCT p.ts) AS BIGINT) AS n_purchases,
       round(CAST(sum(CAST(p.value AS DECIMAL(18,6))) AS DOUBLE), 6) AS sum_purchase_value
FROM events c
JOIN events p
  ON p.user_id = c.user_id
 AND c.event_type = 'click' AND p.event_type = 'purchase'
 AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
GROUP BY c.user_id
"""


# --------------------------------------------------------------------------
# q65 — PII redaction (pre-training scrub pass)
# --------------------------------------------------------------------------


def q65_redact_pii(spark, sf_dir):
    """PII scrub (functions/text.py:redact_pii): every document gets a
    deterministic synthetic PII suffix (email, URL, IPv4, phone, long account
    number — derived from doc_id so both engines build the identical input),
    then the native regexp_replace chain redacts it. The oracle applies the
    same RE2-safe patterns in DuckDB; a hash match proves the redaction is
    engine-exact, not just similar."""
    from ..functions.text import redact_pii  # noqa: PLC0415

    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    pii_text = F.concat(
        F.col("text"),
        F.lit(" Contact user"), did.cast("string"),
        F.lit("@example.com or https://site"), (did % 10).cast("string"),
        F.lit(".example.com/p ip "), (did % 223 + 1).cast("string"),
        F.lit(".0.2."), (did % 250).cast("string"),
        F.lit(" phone 054-"), F.lpad((did % 1000).cast("string"), 3, "0"),
        F.lit("-"), F.lpad((did % 10000).cast("string"), 4, "0"),
        F.lit(" acct "), (did * 1000003 + 123456789).cast("string"),
    )
    return d.select("doc_id", redact_pii(pii_text).alias("redacted"))


Q65_SQL = """
WITH pii AS (
  SELECT doc_id,
         text || ' Contact user' || CAST(doc_id AS VARCHAR)
              || '@example.com or https://site' || CAST(doc_id % 10 AS VARCHAR)
              || '.example.com/p ip ' || CAST(doc_id % 223 + 1 AS VARCHAR)
              || '.0.2.' || CAST(doc_id % 250 AS VARCHAR)
              || ' phone 054-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
              || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
              || ' acct ' || CAST(doc_id * 1000003 + 123456789 AS VARCHAR) AS t
  FROM documents
)
SELECT doc_id,
       regexp_replace(
         regexp_replace(
           regexp_replace(
             regexp_replace(
               regexp_replace(t, 'https?://\\S+', '<URL>', 'g'),
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '<IP>', 'g'),
           '\\b0\\d{1,2}-\\d{3}-\\d{4}\\b', '<PHONE>', 'g'),
         '\\b\\d{9,}\\b', '<NUM>', 'g') AS redacted
FROM pii
"""


# --------------------------------------------------------------------------
# q66 — C4/Gopher quality flags (integer-exact keep/drop signals)
# --------------------------------------------------------------------------


def q66_quality_flags(spark, sf_dir):
    """C4/Gopher-shaped document filter flags
    (functions/text.py:with_quality_flags): every keep/drop signal is an
    integer comparison over counts, so the filter decision is bit-identical
    across engines — the property an audited training-data pipeline needs."""
    from ..functions.text import with_quality_flags  # noqa: PLC0415

    d = _t(spark, sf_dir, "documents")
    return with_quality_flags(d, "text").select(
        "doc_id", "n_tokens", "total_word_chars", "n_punct", "n_stopwords",
        "length_ok", "word_len_ok", "symbol_ok", "stop_ok", "keep",
    )


Q66_SQL = """
WITH base AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(text), '\\s+'), t -> t != '') AS toks,
         length(regexp_replace(text, '\\s', '', 'g')) AS nonspace,
         length(regexp_replace(text, '[\\p{L}\\p{N}\\s]', '', 'g')) AS n_punct
  FROM documents
), counted AS (
  SELECT doc_id, nonspace, n_punct,
         CAST(len(toks) AS INT) AS n_tokens,
         CAST(coalesce(list_sum(list_transform(toks, t -> length(t))), 0) AS INT) AS total_word_chars,
         CAST(len(list_filter(list_transform(toks, t -> lower(t)), t -> list_contains(
           ['the','a','an','and','or','of','to','in','is','it','that','for','on','with','as','was','at','by','be','this'], t
         ))) AS INT) AS n_stopwords
  FROM base
)
SELECT doc_id, n_tokens, total_word_chars, n_punct, n_stopwords,
       n_tokens >= 50 AS length_ok,
       3 * n_tokens <= total_word_chars AND total_word_chars <= 10 * n_tokens AS word_len_ok,
       n_punct * 10 <= nonspace AS symbol_ok,
       n_stopwords >= 2 AS stop_ok,
       (n_tokens >= 50) AND (3 * n_tokens <= total_word_chars AND total_word_chars <= 10 * n_tokens)
         AND (n_punct * 10 <= nonspace) AND (n_stopwords >= 2) AS keep
FROM counted
"""


# --------------------------------------------------------------------------
# q67 — within-document repetition stats (Gopher repetition rules)
# --------------------------------------------------------------------------


def q67_repetition_stats(spark, sf_dir):
    """Gopher-style repetition signals: per document, total vs distinct token
    occurrences and the dominant token with its count (ties broken by token
    string). The explode → two-level aggregate is the distributed shape —
    the per-(doc, token) count is a map-side-combined hash aggregate, and
    the per-doc reduction rides a struct-min argmax, not a window over the
    fanned-out token stream."""
    from ..functions.text import normalized_text, tokens  # noqa: PLC0415

    d = _t(spark, sf_dir, "documents")
    ex = d.select("doc_id", F.explode(tokens(normalized_text(F.col("text")))).alias("tok"))
    cnt = ex.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("c"))
    top = cnt.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.min(F.struct((-F.col("c")).alias("nc"), F.col("tok"))).alias("_top"),
    )
    return top.select(
        "doc_id",
        "n_tokens",
        "n_distinct",
        (F.col("n_tokens") - F.col("n_distinct")).alias("n_repeated"),
        F.col("_top.tok").alias("top_token"),
        (-F.col("_top.nc")).alias("top_token_count"),
    )


_Q67_NORM = (
    "trim(regexp_replace(regexp_replace(lower(coalesce(text, '')), "
    "'[^\\p{L}\\p{N}\\s]', ' ', 'g'), '\\s+', ' ', 'g'))"
)

Q67_SQL = f"""
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(string_split({_Q67_NORM}, ' '), t -> t != '')) AS tok
  FROM documents
), cnt AS (
  SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY doc_id, tok
), ranked AS (
  SELECT doc_id, tok, c,
         row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, tok ASC) AS rn
  FROM cnt
), totals AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
         CAST(count(*) AS BIGINT) AS n_distinct
  FROM cnt GROUP BY doc_id
)
SELECT t.doc_id, t.n_tokens, t.n_distinct,
       t.n_tokens - t.n_distinct AS n_repeated,
       r.tok AS top_token, r.c AS top_token_count
FROM totals t JOIN ranked r ON r.doc_id = t.doc_id AND r.rn = 1
"""


EXT4_REGISTRY = {
    "q62_dup_clusters": QueryDef(q62_dup_clusters, Q62_SQL, "dedup clustering (connected components)"),
    "q63_sketch_agg": QueryDef(q63_sketch_agg, Q63_SQL, "sketch aggregates (HLL++ / approx percentile)"),
    "q64_stream_join": QueryDef(q64_stream_join, Q64_SQL, "§2.12 stream-stream interval join"),
    "q65_redact_pii": QueryDef(q65_redact_pii, Q65_SQL, "text-pii-redaction"),
    "q66_quality_flags": QueryDef(q66_quality_flags, Q66_SQL, "text-quality C4/Gopher flags"),
    "q67_repetition_stats": QueryDef(q67_repetition_stats, Q67_SQL, "text-repetition Gopher rules"),
}
