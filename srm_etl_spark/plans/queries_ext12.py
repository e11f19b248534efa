"""Round-4 extension queries, part 7: curation-grade dedup policies.

q111 — near-dup clusters collapsed to their BEST-QUALITY member: the q28
       Jaccard pair set resolved into connected components, each component
       keeping its highest-quality document (ties -> min doc_id) instead of
       the min-id survivor. The keep-best policy is what an LLM curation
       pipeline actually wants from fuzzy dedup.
q112 — SemDeDup (Abbas et al. 2023): k-means the embedding corpus, prune
       cosine-duplicates within each cluster. The clustering bounds the
       quadratic — the scale story for semantic dedup at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions.text import with_text_features
from ..operators.dedup import semantic_dedup
from ..operators.graph import duplicate_clusters, keep_best_representative
from .queries import Q28_SQL, QueryDef, _t
from .queries import q28_jaccard_pairs as _q28_pairs
from .queries_ext7 import Q83_CORE

# --------------------------------------------------------------------------
# q111 — fuzzy-dedup keep-best: pairs -> components -> quality-ranked keeper
# --------------------------------------------------------------------------


def q111_dedup_keep_best(spark, sf_dir):
    """Near-dup clusters with the keep-best-quality policy: q28's exact
    Jaccard pairs -> min-label connected components (operators/graph.py) ->
    per-component quality ranking (keep_best_representative), flagging the
    highest-quality member kept (ties by min doc_id). One join on the node id
    + one window per component — shuffle tracks the duplicate set, not the
    corpus."""
    d = _t(spark, sf_dir, "documents")
    pairs = _q28_pairs(spark, sf_dir)
    clusters = duplicate_clusters(pairs, "left_id", "right_id")
    qual = with_text_features(d, "text").select("doc_id", "quality")
    out = keep_best_representative(clusters, qual, "doc_id", "quality")
    return out.select(
        F.col("node").alias("doc_id"),
        "component",
        F.col("cluster_size").cast("long").alias("cluster_size"),
        "quality",
        "kept",
    )


# The oracle replays q28's pair set verbatim, resolves components via the
# recursive min-reachable-label CTE (q62's form), recomputes the q23 quality
# score, and ranks within each component.
Q111_SQL = (
    "WITH RECURSIVE pairs AS ("
    + Q28_SQL
    + """),
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
comp AS (SELECT node, min(lbl) AS component FROM reach GROUP BY node),
sized AS (
  SELECT node, component,
         CAST(count(*) OVER (PARTITION BY component) AS BIGINT) AS cluster_size
  FROM comp
),
qbase AS (
  SELECT doc_id, text, regexp_split_to_array(trim(text), '\\s+') AS toks
  FROM documents
),
qfeat AS (
  SELECT doc_id,
         len(toks) AS n_tokens,
         CASE WHEN length(regexp_replace(text, '\\s', '', 'g')) = 0 THEN 0.0
              ELSE CAST(length(regexp_replace(text, '[\\p{L}\\p{N}\\s]', '', 'g')) AS DOUBLE)
                   / length(regexp_replace(text, '\\s', '', 'g')) END AS punct_raw,
         CASE WHEN len(toks) = 0 THEN 0.0
              ELSE CAST(list_aggregate(list_transform(toks, t -> length(t)), 'sum') AS DOUBLE)
                   / len(toks) END AS mwl_raw
  FROM qbase
),
qual AS (
  SELECT doc_id,
         round((least(CAST(n_tokens AS DOUBLE) / 50.0, 1.0)
                + (1.0 - least(punct_raw * 4.0, 1.0))
                + CASE WHEN mwl_raw >= 2.0 AND mwl_raw <= 12.0 THEN 1.0 ELSE 0.0 END
               ) / 3.0, 4) AS quality
  FROM qfeat
)
SELECT s.node AS doc_id, s.component, s.cluster_size, q.quality,
       (row_number() OVER (PARTITION BY s.component
                           ORDER BY q.quality DESC, s.node ASC) = 1) AS kept
FROM sized s JOIN qual q ON q.doc_id = s.node
"""
)


# --------------------------------------------------------------------------
# q112 — SemDeDup: k-means clusters -> within-cluster cosine prune
# --------------------------------------------------------------------------


def q112_semantic_dedup(spark, sf_dir):
    """SemDeDup over the embedding corpus (operators/dedup.py:semantic_dedup):
    q83's deterministic k-means (k=8, 2 Lloyd iterations) assigns clusters,
    then the per-cluster BLAS kernel drops every vector with a smaller-id
    cluster-mate at cosine >= 0.3. Every row is emitted with its cluster and
    kept flag so the removal is auditable.

    This query prices the PRODUCTION path: the cap is the task-memory
    budget (4096 rows × 64 dims × 8 B ≈ 2 MiB of resident block matrix per
    task), which no test-SF cluster reaches — the salted plan machinery is
    present (bounded tasks under any skew) but S = 1 everywhere, so the
    query costs what a deployment would pay. The S > 1 sub-block pair grid
    is oracle-gated separately by q171 (lazy 'half-avg' cap — splits at
    every SF) plus a salted-plan assertion test, the r13 re-pricing ask:
    gating the split at toy scale here charged q112 5.7× its r12 cost."""
    emb = _t(spark, sf_dir, "embeddings")
    out = semantic_dedup(
        emb, "embedding", "vec_id", k=8, iterations=2, threshold=0.3,
        max_block_size=4096,
    )
    return out.select("vec_id", "cluster", "kept")


# The oracle reuses q83's unrolled k-means CTE chain (same deterministic
# assignment, pinned-grid centroids) and prunes within the final clusters.
Q112_SQL = Q83_CORE + """,
simpairs AS (
  SELECT l.vec_id AS lid, r.vec_id AS rid
  FROM a2 l JOIN a2 r ON l.cid = r.cid AND l.vec_id < r.vec_id
  WHERE list_cosine_similarity(l.v, r.v) >= 0.3
),
losers AS (SELECT DISTINCT rid FROM simpairs)
SELECT a.vec_id, CAST(a.cid AS BIGINT) AS cluster, (l.rid IS NULL) AS kept
FROM a2 a LEFT JOIN losers l ON a.vec_id = l.rid
"""


# --------------------------------------------------------------------------
# q113 — entity resolution: normalize -> block -> match -> cluster -> assign
# --------------------------------------------------------------------------


def fabricate_org_records(parts):
    """Noisy org-name records from a (pk, name) frame: per entity the
    original, an upper-cased ' LTD' legal-suffix variant, and a
    last-char-dropped typo — normalized (lower + suffix strip) into ``nm``
    with ``record_id = pk*4 + variant``. Shared by q113 and the scaling
    probe so the demo corruption model cannot desynchronize between the
    correctness gate and the measurement."""
    return (
        parts.select(
            F.explode(
                F.array(
                    F.struct((F.col("pk") * 4).alias("record_id"), F.col("name").alias("raw")),
                    F.struct(
                        (F.col("pk") * 4 + 1).alias("record_id"),
                        F.concat(F.upper("name"), F.lit(" LTD")).alias("raw"),
                    ),
                    F.struct(
                        (F.col("pk") * 4 + 2).alias("record_id"),
                        F.expr("substring(name, 1, length(name) - 1)").alias("raw"),
                    ),
                )
            ).alias("r")
        )
        .select("r.*")
        .withColumn("nm", F.regexp_replace(F.lower("raw"), r"\s+ltd$", ""))
    )


def q113_entity_resolution(spark, sf_dir):
    """Entity resolution over noisy org-name records
    (operators/relational.py:resolve_entities): each part spawns three
    records of a distinct org name ('org-<pk> <p_name>') — the original, an
    upper-cased variant with a ' LTD' legal suffix, and a last-char-dropped
    typo. Normalization (lower + suffix strip) plus a first-token blocking
    key plus thresholded Levenshtein (<= 2) recovers the variants; connected
    components close the matches transitively; every record gets its
    canonical entity_id + entity_size. (p_name alone is NOT usable as the
    identity: the synthetic vocabulary has only 64 distinct names, which
    collapses any name-derived blocking key and explodes the pair set — the
    org-<pk> discriminator models real org registries, where names are
    near-unique and the blocking key is selective. Block selectivity is THE
    scale knob of this operator; see resolve_entities.)"""
    from ..operators.relational import resolve_entities  # noqa: PLC0415

    p = _t(spark, sf_dir, "part").select(
        F.col("p_partkey").cast("long").alias("pk"),
        F.concat(F.lit("org-"), F.col("p_partkey").cast("string"), F.lit(" "), F.col("p_name")).alias("name"),
    )
    recs = fabricate_org_records(p)
    blk = F.split(F.col("nm"), " ").getItem(0)
    # max_block_size=2 < the 3-record blocks: every block salt-splits (S=2),
    # so the skew-bounded pair path is the one the oracle gates — the pair
    # set (and hence the hash) is identical to the unsalted join by
    # construction (left replicates over sub-blocks, right keeps one).
    out = resolve_entities(recs, "nm", "record_id", blk, max_edits=2, max_block_size=2)
    return out.select(
        "record_id", "entity_id", F.col("entity_size").cast("long").alias("entity_size")
    )


Q113_SQL = """
WITH RECURSIVE p AS (
  SELECT CAST(p_partkey AS BIGINT) AS pk,
         'org-' || CAST(p_partkey AS VARCHAR) || ' ' || p_name AS name
  FROM part
),
recs AS (
  SELECT pk * 4 AS record_id, name AS raw FROM p
  UNION ALL SELECT pk * 4 + 1, upper(name) || ' LTD' FROM p
  UNION ALL SELECT pk * 4 + 2, substr(name, 1, length(name) - 1) FROM p
),
normed AS (
  SELECT record_id, regexp_replace(lower(raw), '\\s+ltd$', '') AS nm FROM recs
),
blocked AS (
  SELECT record_id, nm, list_extract(string_split(nm, ' '), 1) AS blk
  FROM normed
),
edges0 AS (
  SELECT l.record_id AS a, r.record_id AS b
  FROM blocked l JOIN blocked r ON l.blk = r.blk AND l.record_id < r.record_id
  WHERE levenshtein(l.nm, r.nm) <= 2
),
edges AS (SELECT a, b FROM edges0 UNION ALL SELECT b, a FROM edges0),
reach(node, lbl) AS (
  SELECT a, a FROM edges
  UNION
  SELECT e.a, r.lbl FROM edges e JOIN reach r ON r.node = e.b
),
comp AS (SELECT node, min(lbl) AS component FROM reach GROUP BY node),
assigned AS (
  SELECT n.record_id, coalesce(c.component, n.record_id) AS entity_id
  FROM normed n LEFT JOIN comp c ON c.node = n.record_id
)
SELECT record_id, entity_id,
       CAST(count(*) OVER (PARTITION BY entity_id) AS BIGINT) AS entity_size
FROM assigned
"""


# --------------------------------------------------------------------------
# q114 — multi-format source parity: parquet == csv == json round-trip
# --------------------------------------------------------------------------


def q114_format_roundtrip(spark, sf_dir):
    """Format round-trip parity: a deterministic orders slice is written as
    CSV (header) and JSON lines, read back through spark.read with an
    explicit schema, and summarized per (format, priority) with
    decimal-pinned sums. All three format rows must agree with the parquet
    truth the oracle computes — any parse/print fidelity loss in either
    writer+reader pair breaks the hash. Scratch writes go to a mkdtemp dir
    (the q64 pattern); the lazy reads keep the data distributed."""
    from ..session import scratch_dir  # noqa: PLC0415

    cols = ["o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus", "o_orderpriority"]
    o = _t(spark, sf_dir, "orders").select(*cols).filter(F.col("o_orderkey") % 20 == 0)
    base = scratch_dir("srm_q114")
    o.write.mode("overwrite").option("header", True).csv(base + "/csv")
    o.write.mode("overwrite").json(base + "/json")
    schema = (
        "o_orderkey long, o_custkey long, o_totalprice double, "
        "o_orderstatus string, o_orderpriority string"
    )
    sources = {
        "parquet": o,
        "csv": spark.read.schema(schema).option("header", True).csv(base + "/csv"),
        "json": spark.read.schema(schema).json(base + "/json"),
    }

    def summarize(df, fmt):
        return df.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("o_orderkey").alias("sum_key"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double"), 2
            ).alias("sum_price"),
            F.max("o_orderstatus").alias("max_status"),
        ).withColumn("fmt", F.lit(fmt))

    out = None
    for fmt, df in sources.items():
        s = summarize(df, fmt)
        out = s if out is None else out.unionByName(s)
    return out


Q114_SQL = """
WITH s AS (
  SELECT o_orderpriority,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
         round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_price,
         max(o_orderstatus) AS max_status
  FROM orders WHERE o_orderkey % 20 = 0
  GROUP BY o_orderpriority
)
SELECT s.*, f.fmt
FROM s CROSS JOIN (VALUES ('parquet'), ('csv'), ('json')) f(fmt)
"""


# --------------------------------------------------------------------------
# q115 — model-based quality filter (classifier-gating shape)
# --------------------------------------------------------------------------


def q115_quality_classifier(spark, sf_dir):
    """Classifier-gated quality filter (functions/scoring.py:logistic_score):
    a fixed-weight logistic model over the q23 text features scores every
    document JVM-side (pure codegen — no Python in the scan), and the gate
    keeps prob >= 0.5. This is the FineWeb-edu-style model-filter stage with
    a linear scorer standing in for the network; swapping in an Arrow-batched
    model kernel changes only the scoring expression."""
    from ..functions.scoring import logistic_score  # noqa: PLC0415

    d = with_text_features(_t(spark, sf_dir, "documents"), "text")
    feats = d.select(
        "doc_id",
        F.least(F.col("n_tokens").cast("double") / 100.0, F.lit(1.0)).alias("f_len"),
        F.col("punct_ratio").alias("f_punct"),
        F.col("stopword_ratio").alias("f_stop"),
        (F.col("mean_word_len") / 10.0).alias("f_mwl"),
    )
    prob = logistic_score(
        {"f_len": 2.0, "f_punct": -3.0, "f_stop": 1.5, "f_mwl": 0.5}, bias=-1.0
    )
    return feats.select(
        "doc_id",
        F.round(prob, 4).alias("keep_prob"),
        (prob >= 0.5).alias("kept"),
    )


def _q115_sql() -> str:
    from .queries import _STOP_SQL  # noqa: PLC0415

    # feature terms in sorted(features) order so float addition order — and
    # with it every last bit of z — matches the Spark expression
    return f"""
WITH base AS (
  SELECT doc_id, text, regexp_split_to_array(trim(text), '\\s+') AS toks
  FROM documents
), feats AS (
  SELECT doc_id,
         least(CAST(len(toks) AS DOUBLE) / 100.0, 1.0) AS f_len,
         CASE WHEN length(regexp_replace(text, '\\s', '', 'g')) = 0 THEN 0.0
              ELSE CAST(length(regexp_replace(text, '[\\p{{L}}\\p{{N}}\\s]', '', 'g')) AS DOUBLE)
                   / length(regexp_replace(text, '\\s', '', 'g')) END AS f_punct,
         CASE WHEN len(toks) = 0 THEN 0.0
              ELSE CAST(len(list_filter(toks, t -> list_contains({_STOP_SQL}, lower(t)))) AS DOUBLE)
                   / len(toks) END AS f_stop,
         (CASE WHEN len(toks) = 0 THEN 0.0
               ELSE CAST(list_aggregate(list_transform(toks, t -> length(t)), 'sum') AS DOUBLE)
                    / len(toks) END) / 10.0 AS f_mwl
  FROM base
), scored AS (
  SELECT doc_id,
         1.0 / (1.0 + exp(-(((((-1.0) + 2.0 * f_len) + 0.5 * f_mwl) + (-3.0) * f_punct) + 1.5 * f_stop))) AS p
  FROM feats
)
SELECT doc_id, round(p, 4) AS keep_prob, (p >= 0.5) AS kept FROM scored
"""


EXT12_REGISTRY = {
    "q111_dedup_keep_best": QueryDef(
        q111_dedup_keep_best, Q111_SQL,
        "LLM-pipeline: near-dup clusters keep best-quality representative",
    ),
    "q112_semantic_dedup": QueryDef(
        q112_semantic_dedup, Q112_SQL,
        "LLM-pipeline: SemDeDup — k-means clusters, within-cluster cosine prune",
    ),
    "q113_entity_resolution": QueryDef(
        q113_entity_resolution, Q113_SQL,
        "entity resolution: normalize, block, fuzzy-match, cluster, assign",
    ),
    "q114_format_roundtrip": QueryDef(
        q114_format_roundtrip, Q114_SQL,
        "multi-format source parity: parquet == csv == json round-trip",
    ),
    "q115_quality_classifier": QueryDef(
        q115_quality_classifier, _q115_sql(),
        "LLM-pipeline: model-based (logistic) quality filter gate",
    ),
}


# --------------------------------------------------------------------------
# q116 — two-stage ANN serving: PQ/ADC shortlist -> exact-cosine rerank
# --------------------------------------------------------------------------


def q116_pq_rerank(spark, sf_dir):
    """The full two-stage ANN serving plan: q92's PQ pipeline shortlists the
    top-20 per query by asymmetric distance (1-byte-per-subspace codegen, no
    float vectors touched), then operators/similarity.py:exact_rerank
    re-scores only the shortlist with exact cosine and keeps the top-5. The
    oracle extends q92's unrolled train->encode->ADC chain with the same
    shortlist + rerank."""
    from ..operators.similarity import (  # noqa: PLC0415
        exact_rerank,
        pq_encode,
        pq_topk,
        pq_train_codebooks,
    )

    emb = _t(spark, sf_dir, "embeddings")
    books = pq_train_codebooks(emb, m=4, k=8, iterations=2, dim=64)
    codes = pq_encode(emb, books, dim=64)
    queries = emb.filter(F.col("vec_id") < 5)
    shortlist = pq_topk(codes, books, queries, k=20, dim=64)
    out = exact_rerank(shortlist, emb, queries, k=5)
    return out.select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("neighbor_id").cast("long").alias("neighbor_id"),
        F.round("cosine", 4).alias("cosine"),
        F.col("rank").cast("long").alias("rank"),
    )


def _q116_sql() -> str:
    from .queries_ext9 import Q92_CORE  # noqa: PLC0415

    return Q92_CORE + """,
short AS (SELECT query_id, neighbor_id FROM ranked WHERE rank <= 20),
ex AS (
  SELECT s.query_id, s.neighbor_id, list_cosine_similarity(q.v, n.v) AS cos
  FROM short s
  JOIN e q ON q.vec_id = s.query_id
  JOIN e n ON n.vec_id = s.neighbor_id
),
rr AS (SELECT query_id, neighbor_id, cos,
              row_number() OVER (PARTITION BY query_id
                                 ORDER BY cos DESC, neighbor_id ASC) AS rank
       FROM ex)
SELECT CAST(query_id AS BIGINT) AS query_id,
       CAST(neighbor_id AS BIGINT) AS neighbor_id,
       round(cos, 4) AS cosine, CAST(rank AS BIGINT) AS rank
FROM rr WHERE rank <= 5
"""


EXT12_REGISTRY["q116_pq_rerank"] = QueryDef(
    q116_pq_rerank, _q116_sql(),
    "LLM-pipeline: two-stage ANN serving (ADC shortlist + exact rerank)",
)


# --------------------------------------------------------------------------
# q117 — APPEND-mode watermark semantics: late stragglers dropped against
#         evicted state, emitted set = the deterministic finalization rule
# --------------------------------------------------------------------------

_Q117_ID = __import__("itertools").count()


def q117_late_data_drops(spark, sf_dir):
    """Watermark late-data semantics under a controlled 3-batch replay
    (streaming/events.py:replay): batch0 = on-time rows up to the
    70%-of-span cut (minus held-back stragglers), batch1 = the tail (advances
    the watermark to max(ts) - 30min, evicting every old window at its end),
    batch2 = the stragglers (event_id % 5 == 0 in the first 30% of the span)
    — they arrive after their windows were evicted and are DROPPED. The
    emitted APPEND output is exactly the deterministic rule the oracle
    states: every non-straggler row, in windows whose end <= max(ts) - 30min
    (later windows are never finalized). Measured on this data: Spark
    reports the drops in numRowsDroppedByWatermark (pytest pins > 0), and
    rows landing in still-live windows merge regardless of the watermark —
    eviction, not arrival time, is the drop boundary."""
    import datetime  # noqa: PLC0415

    from ..streaming.events import recovery_axis, replay  # noqa: PLC0415

    ev = _t(spark, sf_dir, "events").withColumn("ts", F.col("ts").cast("timestamp"))
    mm = ev.agg(F.min("ts").alias("lo"), F.max("ts").alias("hi")).collect()[0]
    lo, hi = mm["lo"], mm["hi"]
    span_s = int((hi - lo).total_seconds())
    # Data contract: stragglers live in the first 30% of the span and their
    # 1-hour windows are only guaranteed EVICTED before batch2 (and finalized,
    # matching the oracle's "window end <= hi - 30min" rule) when
    # 0.3*span + 1h <= span - 30min, i.e. span >= (1h + 30min) / 0.7 ≈ 2.15h.
    # On a smaller fixture span stragglers would merge into live windows and
    # break the hash gate in a hard-to-diagnose way — fail loudly instead.
    min_span_s = int((3600 + 1800) / 0.7) + 1
    if span_s < min_span_s:
        raise ValueError(
            f"q117 requires events to span >= {min_span_s}s (~2.15h) so that "
            f"straggler windows are evicted before the late batch; got {span_s}s"
        )
    cut_low = lo + datetime.timedelta(seconds=(span_s * 3) // 10)
    cut1 = lo + datetime.timedelta(seconds=(span_s * 7) // 10)
    strag = (F.col("event_id") % 5 == 0) & (F.col("ts") < F.lit(cut_low))
    batches = [
        ev.filter((F.col("ts") <= F.lit(cut1)) & ~strag),
        ev.filter(F.col("ts") > F.lit(cut1)),
        ev.filter(strag),
    ]

    def build(s):
        return (
            s.withWatermark("ts", "30 minutes")
            .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
            )
            .select(
                F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
                "event_type",
                "n",
                "sum_value",
            )
        )

    # recovery axis: stop after batch 2 of 3 and restart from the
    # checkpoint. The oracle is unchanged, so the hash gate proves the
    # recovered run emits exactly the uninterrupted run's set.
    out, _progress = replay(
        spark, batches, build, f"q117_sink_{next(_Q117_ID)}",
        stop_after=2 if recovery_axis() else None,
    )
    return out


Q117_SQL = """
WITH bounds AS (
  SELECT min(ts) AS lo, max(ts) AS hi,
         CAST(floor(epoch(max(ts)) - epoch(min(ts))) AS BIGINT) AS span_s
  FROM events
),
marked AS (
  SELECT e.*,
         (e.event_id % 5 = 0
          AND e.ts < b.lo + to_seconds((b.span_s * 3) // 10)) AS strag,
         b.hi - INTERVAL 30 MINUTE AS wm_final
  FROM events e CROSS JOIN bounds b
)
SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM marked
WHERE NOT strag
  AND time_bucket(INTERVAL '1 hour', ts) + INTERVAL 1 HOUR <= wm_final
GROUP BY 1, 2
"""


EXT12_REGISTRY["q117_late_data_drops"] = QueryDef(
    q117_late_data_drops, Q117_SQL,
    "streaming watermark semantics: append finalization + late-straggler drops",
)


# --------------------------------------------------------------------------
# q118 — lake schema evolution: mergeSchema over heterogeneous batches
# --------------------------------------------------------------------------


def q118_schema_evolution(spark, sf_dir):
    """Schema evolution on a growing lake table: an early batch lands with
    (c_custkey, c_name), a later batch adds a `segment` column; a
    mergeSchema read unifies them — old rows surface NULL for the added
    column, no rewrite of history. This is the everyday 100 TB lake concern
    (a producer adds a field mid-stream); the hash gate proves the merged
    read loses nothing and invents nothing."""
    from ..session import scratch_dir  # noqa: PLC0415

    c = _t(spark, sf_dir, "customer")
    old = c.filter(F.col("c_custkey") % 2 == 0).select("c_custkey", "c_name")
    new = c.filter(F.col("c_custkey") % 2 == 1).select(
        "c_custkey", "c_name", F.upper("c_mktsegment").alias("segment")
    )
    base = scratch_dir("srm_q118") + "/table"
    old.write.mode("overwrite").parquet(base)
    new.write.mode("append").parquet(base)
    merged = spark.read.option("mergeSchema", "true").parquet(base)
    return merged.select("c_custkey", "c_name", "segment")


Q118_SQL = """
SELECT c_custkey, c_name,
       CASE WHEN c_custkey % 2 = 1 THEN upper(c_mktsegment) END AS segment
FROM customer
"""


EXT12_REGISTRY["q118_schema_evolution"] = QueryDef(
    q118_schema_evolution, Q118_SQL,
    "lake schema evolution: mergeSchema read over heterogeneous batches",
)


# --------------------------------------------------------------------------
# q119 — bucketed co-located join: the exchange-free warehouse layout
# --------------------------------------------------------------------------

_Q119_ID = __import__("itertools").count()


def q119_bucketed_agg_plan(spark, sf_dir):
    """Build the bucketed layout + co-located join plan WITHOUT materializing
    — returns (agg_df, orders_table, customer_table). The plan test pins the
    zero-exchange join shape on agg_df directly; callers must drop the two
    catalog tables once done."""
    from ..session import scratch_dir  # noqa: PLC0415
    from ..sinks.warehouse import write_bucketed  # noqa: PLC0415

    i = next(_Q119_ID)
    base = scratch_dir("srm_q119")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    to, tc = f"q119_orders_{i}", f"q119_cust_{i}"
    write_bucketed(o, to, ["o_custkey"], num_buckets=8, sort_cols=["o_custkey"], path=base + "/o")
    write_bucketed(c, tc, ["c_custkey"], num_buckets=8, sort_cols=["c_custkey"], path=base + "/c")
    j = spark.table(to).hint("merge").join(
        spark.table(tc), F.col("o_custkey") == F.col("c_custkey")
    )
    agg = j.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double"), 2
        ).alias("sum_price"),
    )
    return agg, to, tc, base


def q119_bucketed_join(spark, sf_dir):
    """The warehouse layout paying off (sinks/warehouse.py:write_bucketed):
    orders and customer are written bucketed + bucket-sorted on the join key
    with the same bucket count, then sort-merge-joined — each bucket pair is
    a co-located merge, ZERO exchanges on the join (pinned in
    tests/test_plans.py; the merge hint keeps the small demo side from
    degenerating to broadcast, which would bypass the layout under test).
    At 100 TB this is the difference between re-shuffling the fact table on
    every join and never shuffling it at all. The oracle joins the raw
    tables — the layout must not change a single value."""
    agg, to, tc, base = q119_bucketed_agg_plan(spark, sf_dir)
    # materialize the tiny aggregate, then drop the per-run catalog tables so
    # repeated bench/correctness runs don't accumulate metastore entries
    out_path = base + "/agg"
    agg.write.mode("overwrite").parquet(out_path)
    spark.sql(f"DROP TABLE IF EXISTS {to}")
    spark.sql(f"DROP TABLE IF EXISTS {tc}")
    return spark.read.parquet(out_path)


Q119_SQL = """
SELECT c_mktsegment,
       CAST(count(*) AS BIGINT) AS n_orders,
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_price
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""


EXT12_REGISTRY["q119_bucketed_join"] = QueryDef(
    q119_bucketed_join, Q119_SQL,
    "bucketed co-located join: exchange-free fact-dimension merge",
)


# --------------------------------------------------------------------------
# q120 — datapackage IR round-trip: K1 write -> S2 typed load, lossless
# --------------------------------------------------------------------------


def q120_datapackage_roundtrip(spark, sf_dir):
    """The reference's inter-stage IR as a closed loop: a customer slice is
    dumped as a datapackage (sinks/files.py:write_datapackage — CSV resource
    + manifest with the field schema), then loaded back through the
    manifest-typed reader (sources/tables.py:load_datapackage). The oracle
    reads the original table — every value must survive the CSV+manifest
    round trip bit-for-bit."""
    from ..session import scratch_dir  # noqa: PLC0415

    from ..sinks.files import write_datapackage  # noqa: PLC0415
    from ..sources.tables import load_datapackage  # noqa: PLC0415

    c = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_mktsegment"
    )
    base = scratch_dir("srm_q120")
    write_datapackage(c, base, "customers", fmt="csv")
    return load_datapackage(spark, base)


Q120_SQL = """
SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM customer
"""


EXT12_REGISTRY["q120_datapackage_roundtrip"] = QueryDef(
    q120_datapackage_roundtrip, Q120_SQL,
    "datapackage IR round-trip: K1 dump -> S2 manifest-typed load",
)


# --------------------------------------------------------------------------
# q121 — GeoJSON sink round-trip: features parse back losslessly
# --------------------------------------------------------------------------


def q121_geojson_roundtrip(spark, sf_dir):
    """GeoJSON sink fidelity: deterministic supplier points written as
    newline-delimited Features (sinks/files.py:write_geojson — the
    GeoJSONSeq layout geo tooling ingests at scale), read back as text and
    parsed with from_json. The oracle recomputes the coordinates/properties
    relationally — a hash match proves the JSON print/parse cycle is
    lossless, which is what makes the sink a safe inter-system boundary."""
    from ..session import scratch_dir  # noqa: PLC0415

    from ..sinks.files import write_geojson  # noqa: PLC0415

    s = _t(spark, sf_dir, "supplier").select(
        "s_suppkey",
        "s_name",
        ((F.col("s_suppkey") % 360) - 180 + F.lit(0.5)).alias("lon"),
        ((F.col("s_suppkey") % 180) - 90 + F.lit(0.25)).alias("lat"),
    )
    path = scratch_dir("srm_q121") + "/features"
    write_geojson(s, path, props=["s_suppkey", "s_name"])
    schema = (
        "type string, geometry struct<type: string, coordinates: array<double>>, "
        "properties struct<s_suppkey: bigint, s_name: string>"
    )
    back = spark.read.text(path).select(F.from_json("value", schema).alias("f"))
    return back.select(
        F.col("f.properties.s_suppkey").alias("s_suppkey"),
        F.col("f.properties.s_name").alias("s_name"),
        F.col("f.geometry.type").alias("geom_type"),
        F.col("f.geometry.coordinates").getItem(0).alias("lon"),
        F.col("f.geometry.coordinates").getItem(1).alias("lat"),
    )


Q121_SQL = """
SELECT CAST(s_suppkey AS BIGINT) AS s_suppkey, s_name,
       'Point' AS geom_type,
       (s_suppkey % 360) - 180 + 0.5 AS lon,
       (s_suppkey % 180) - 90 + 0.25 AS lat
FROM supplier
"""


EXT12_REGISTRY["q121_geojson_roundtrip"] = QueryDef(
    q121_geojson_roundtrip, Q121_SQL,
    "GeoJSON sink round-trip: write features, parse back losslessly",
)


# --------------------------------------------------------------------------
# q122 — ES bulk payload lines, byte-exact (K3's wire format hash-gated)
# --------------------------------------------------------------------------


def q122_es_actions(spark, sf_dir):
    """K3's bulk-API wire format (sinks/es.py:to_es_actions): per-row
    (action_json, doc_json) built entirely JVM-side with to_json and a
    pinned revision stamp. The oracle REBUILDS both JSON lines by string
    construction — a hash match means the payload the publisher would send
    is byte-exact, not merely equivalent. Integer + string columns only:
    float JSON formatting is renderer-specific and the publisher contract
    (es.py) keeps floats out of id/action lines anyway."""
    from ..sinks.es import to_es_actions  # noqa: PLC0415

    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_mktsegment")
    return to_es_actions(c, "cards", "c_custkey", revision="r1")


Q122_SQL = """
SELECT '{"index":{"_index":"cards","_id":"' || CAST(c_custkey AS VARCHAR) || '"}}'
         AS action_json,
       '{"c_custkey":' || CAST(c_custkey AS VARCHAR)
         || ',"c_name":"' || c_name
         || '","c_mktsegment":"' || c_mktsegment
         || '","revision":"r1"}' AS doc_json
FROM customer
"""


EXT12_REGISTRY["q122_es_actions"] = QueryDef(
    q122_es_actions, Q122_SQL,
    "ES bulk payload lines byte-exact (K3 wire format)",
)


# --------------------------------------------------------------------------
# q123 — BPE tokenization (sequential-merge variant), vocab statistics
# --------------------------------------------------------------------------


def q123_bpe_vocab(spark, sf_dir):
    """BPE tokenization as pure codegen (functions/text.py:bpe_tokens): each
    word becomes its char sequence and the fixed merge table applies as a
    chain of string replaces (two passes per rule to close alternating
    chains) — the sequential-merge BPE variant, reproducible in any engine
    with replace(). Emits the corpus top-20 subword vocabulary by frequency
    (ties -> token asc), the statistic a data pipeline actually needs from
    a tokenizer (vocab coverage / token budgeting / mixing weights)."""
    from ..functions.text import bpe_tokens  # noqa: PLC0415

    d = _t(spark, sf_dir, "documents")
    toks = d.select(F.explode(bpe_tokens(F.lower(F.col("text")))).alias("token"))
    return (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("token").asc())
        .limit(20)
    )


def _q123_sql() -> str:
    from ..functions.text import DEFAULT_BPE_MERGES  # noqa: PLC0415

    expr = "' ' || regexp_replace(w, '(.)', '\\1 ', 'g')"
    for a, b in DEFAULT_BPE_MERGES:
        for _ in range(2):  # same two-pass closure as the Spark chain
            expr = f"replace({expr}, ' {a} {b} ', ' {a}{b} ')"
    return f"""
WITH words AS (
  SELECT unnest(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                            t -> t != '')) AS w
  FROM documents
), sub AS (
  SELECT unnest(list_filter(string_split(trim({expr}), ' '), t -> t != '')) AS token
  FROM words
)
SELECT token, CAST(count(*) AS BIGINT) AS n
FROM sub GROUP BY token
ORDER BY n DESC, token ASC LIMIT 20
"""


EXT12_REGISTRY["q123_bpe_vocab"] = QueryDef(
    q123_bpe_vocab, _q123_sql(),
    "LLM-pipeline: BPE tokenization (sequential-merge, codegen) + top-20 vocab",
)


# --------------------------------------------------------------------------
# q124 — per-source corpus scorecard (curation observability)
# --------------------------------------------------------------------------


def q124_source_scorecard(spark, sf_dir):
    """The per-source report card a curation run publishes: volume, exact
    duplicate rate (q22's normalized-text rule), quality and token budget
    (q23's features), language spread — one pass over the corpus plus the
    dedup window. Every ratio is a single double division over
    decimal-exact sums, so the numbers are engine-deterministic without
    tolerance bands."""
    from pyspark.sql import Window as W  # noqa: PLC0415

    from ..functions.text import normalized_text, with_text_features  # noqa: PLC0415

    d = with_text_features(_t(spark, sf_dir, "documents"), "text")
    w = W.partitionBy(normalized_text(F.col("text"))).orderBy("doc_id")
    flagged = d.withColumn("_dup", F.row_number().over(w) > 1)
    return (
        flagged.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("_dup").cast("long")).alias("_dups"),
            F.sum(F.col("quality").cast("decimal(10,4)")).cast("double").alias("_q"),
            F.sum("n_tokens").alias("total_tokens"),
            F.countDistinct("lang").alias("n_langs"),
        )
        .select(
            "source",
            "n_docs",
            F.round(F.col("_dups") / F.col("n_docs"), 4).alias("dup_rate"),
            F.round(F.col("_q") / F.col("n_docs"), 4).alias("avg_quality"),
            F.col("total_tokens").cast("long").alias("total_tokens"),
            F.col("n_langs").cast("long").alias("n_langs"),
        )
    )


def _q124_sql() -> str:
    from .queries import _NORM  # noqa: PLC0415

    return f"""
WITH qbase AS (
  SELECT doc_id, source, lang, text,
         regexp_split_to_array(trim(text), '\\s+') AS toks,
         {_NORM.format(c='text')} AS norm
  FROM documents
), qfeat AS (
  SELECT doc_id, source, lang, norm,
         len(toks) AS n_tokens,
         CASE WHEN length(regexp_replace(text, '\\s', '', 'g')) = 0 THEN 0.0
              ELSE CAST(length(regexp_replace(text, '[\\p{{L}}\\p{{N}}\\s]', '', 'g')) AS DOUBLE)
                   / length(regexp_replace(text, '\\s', '', 'g')) END AS punct_raw,
         CASE WHEN len(toks) = 0 THEN 0.0
              ELSE CAST(list_aggregate(list_transform(toks, t -> length(t)), 'sum') AS DOUBLE)
                   / len(toks) END AS mwl_raw
  FROM qbase
), scored AS (
  SELECT doc_id, source, lang, norm, n_tokens,
         round((least(CAST(n_tokens AS DOUBLE) / 50.0, 1.0)
                + (1.0 - least(punct_raw * 4.0, 1.0))
                + CASE WHEN mwl_raw >= 2.0 AND mwl_raw <= 12.0 THEN 1.0 ELSE 0.0 END
               ) / 3.0, 4) AS quality,
         (row_number() OVER (PARTITION BY norm ORDER BY doc_id) > 1) AS dup
  FROM qfeat
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       round(CAST(sum(CASE WHEN dup THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 4) AS dup_rate,
       round(CAST(sum(CAST(quality AS DECIMAL(10,4))) AS DOUBLE) / count(*), 4) AS avg_quality,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
FROM scored GROUP BY source
"""


EXT12_REGISTRY["q124_source_scorecard"] = QueryDef(
    q124_source_scorecard, _q124_sql(),
    "LLM-pipeline: per-source corpus scorecard (volume, dup rate, quality, tokens)",
)


# --------------------------------------------------------------------------
# q125 — bigram LM perplexity scoring (CCNet-shaped quality filter)
# --------------------------------------------------------------------------


def q125_lm_perplexity(spark, sf_dir):
    """Corpus-trained bigram LM score per document
    (functions/text.py:bigram_logprob_scores): add-one-smoothed
    P(b|a) from the corpus's own bigram/left-unigram counts, score = mean
    ln P over the document's bigrams — the CCNet/KenLM-shaped perplexity
    filter with the model held as count tables, not driver state. Each ln
    is decimal-pinned before the per-document sum so float summation order
    never reaches the rounded output."""
    from ..functions.text import bigram_logprob_scores  # noqa: PLC0415

    d = _t(spark, sf_dir, "documents")
    out = bigram_logprob_scores(d, "text", "doc_id")
    return out.select(
        "doc_id", F.col("n_bigrams").cast("long").alias("n_bigrams"), "avg_logprob"
    )


Q125_SQL = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x != '') AS t
  FROM documents
),
pairs AS (
  SELECT doc_id, t[i] AS a, t[i + 1] AS b
  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 1)) AS i
        FROM toks WHERE len(t) >= 2)
),
c2 AS (SELECT a, b, count(*) AS n2 FROM pairs GROUP BY a, b),
c1 AS (SELECT a, count(*) AS n1 FROM pairs GROUP BY a),
v AS (SELECT count(DISTINCT w) AS v
      FROM (SELECT unnest(t) AS w FROM toks)),
scored AS (
  SELECT p.doc_id,
         CAST(ln(CAST(c2.n2 + 1 AS DOUBLE) / (c1.n1 + v.v)) AS DECIMAL(20,12)) AS lp
  FROM pairs p
  JOIN c2 ON p.a = c2.a AND p.b = c2.b
  JOIN c1 ON p.a = c1.a
  CROSS JOIN v
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_bigrams,
       round(CAST(sum(lp) AS DOUBLE) / count(*), 4) AS avg_logprob
FROM scored GROUP BY doc_id
"""


EXT12_REGISTRY["q125_lm_perplexity"] = QueryDef(
    q125_lm_perplexity, Q125_SQL,
    "LLM-pipeline: corpus-trained bigram LM perplexity score (CCNet-shaped)",
)
