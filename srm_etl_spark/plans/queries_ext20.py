"""Round-8 extension queries: lifecycle/scale certifications the round-7
verdict called for.

q153 — the FULL ES revision-swap lifecycle (reference
       operators/derive/es_utils.py:46-70): two successive publishes through
       sinks/es.py:publish with injected transports — bulk upsert by _id,
       revision restamp, post-settle delete-by-query sweep — and the
       surviving-document set hash-gated at three phases (after publish 1,
       after publish 2's bulk but before its sweep, final). q122 certifies
       the wire format; this certifies the protocol's STATE semantics.
"""

from __future__ import annotations

import itertools

from pyspark.sql import functions as F

from .queries import QueryDef, _t
from .queries_ext3 import Q61_SQL


def _doc_sets(spark, sf_dir):
    """The two publish payloads, derived from ``documents``: publish 1 is
    two thirds of the corpus at body v1; publish 2 is the even half, a
    quarter of which changed to v2 (the rest re-publish unchanged — they
    must still be restamped to survive the sweep)."""
    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    v1 = F.concat(F.lit("v1-"), (F.col("n_chars") % 7).cast("string"))
    v2 = F.concat(F.lit("v2-"), (F.col("n_chars") % 7).cast("string"))
    pub1 = docs.filter(did % 3 != 0).select(did, F.col("source"), v1.alias("body"))
    pub2 = docs.filter(did % 2 == 0).select(
        did, F.col("source"), F.when(did % 4 == 0, v2).otherwise(v1).alias("body")
    )
    return pub1, pub2


def q153_es_revision_swap(spark, sf_dir):
    """K3 end-to-end: run :func:`sinks.es.publish` twice over spool
    transports, then reconstruct the index state DISTRIBUTED (read the
    spools back through Spark — the spool stands in for the cluster's
    storage, no driver-side index). The final phase applies the revision
    recorded by the SECOND publish's actual sweep call, so the emitted set
    proves the delete-by-query wiring, not just the intended constant."""
    import os  # noqa: PLC0415

    from ..session import scratch_dir  # noqa: PLC0415
    from ..sinks.es import publish, replay_index_state, recording_sweep, spool_ship, sweep_revision  # noqa: PLC0415

    pub1, pub2 = _doc_sets(spark, sf_dir)
    # scratch_dir (not raw mkdtemp): the lazy replay frames need the spools
    # alive until collected, and scratch_dir's atexit cleanup stops repeated
    # bench/correctness runs accumulating /tmp litter
    base = scratch_dir("srm_q153")
    spool1, spool2 = os.path.join(base, "pub1"), os.path.join(base, "pub2")
    os.makedirs(spool1, exist_ok=True)
    os.makedirs(spool2, exist_ok=True)
    sweeps: list = []
    publish(pub1, "cards", "doc_id", spool_ship(spool1), recording_sweep(sweeps), revision="rev1", settle_seconds=0)
    publish(pub2, "cards", "doc_id", spool_ship(spool2), recording_sweep(sweeps), revision="rev2", settle_seconds=0)
    keep = sweep_revision(sweeps[-1][1])

    schema = "doc_id long, source string, body string, revision string"
    after1 = replay_index_state(spark, [(1, spool1)], schema)
    presweep = replay_index_state(spark, [(1, spool1), (2, spool2)], schema)
    cols = ["doc_id", "source", "body", "revision"]
    return (
        after1.select(F.lit("after_pub1").alias("phase"), *cols)
        .unionByName(presweep.select(F.lit("presweep2").alias("phase"), *cols))
        .unionByName(
            presweep.filter(F.col("revision") == keep).select(F.lit("final").alias("phase"), *cols)
        )
    )


_Q153_SQL = """
WITH pub1 AS (
  SELECT doc_id, source, 'v1-' || CAST(n_chars % 7 AS VARCHAR) AS body
  FROM documents WHERE doc_id % 3 <> 0
),
pub2 AS (
  SELECT doc_id, source,
         CASE WHEN doc_id % 4 = 0 THEN 'v2-' || CAST(n_chars % 7 AS VARCHAR)
              ELSE 'v1-' || CAST(n_chars % 7 AS VARCHAR) END AS body
  FROM documents WHERE doc_id % 2 = 0
),
presweep AS (
  SELECT doc_id, source, body, 'rev2' AS revision FROM pub2
  UNION ALL
  SELECT doc_id, source, body, 'rev1' AS revision
  FROM pub1 WHERE doc_id NOT IN (SELECT doc_id FROM pub2)
)
SELECT 'after_pub1' AS phase, doc_id, source, body, 'rev1' AS revision FROM pub1
UNION ALL
SELECT 'presweep2' AS phase, doc_id, source, body, revision FROM presweep
UNION ALL
SELECT 'final' AS phase, doc_id, source, body, revision FROM presweep
WHERE revision = 'rev2'
"""


def q154_backup_package(spark, sf_dir):
    """The backup composition end-to-end (reference
    operators/backup/__init__.py:22-44): per-table K1 datapackage dump →
    S2 manifest-typed reload → one combined CKAN package payload
    (sinks/rest.py:ckan_backup_package, name='backup', title='Manual Input
    Backup'). Emits one row per resource: row count from the RELOADED frame
    (dump→load lossless) and the field signature from the payload's schema
    block — a hash match certifies both the round trip and the manifest."""
    import os  # noqa: PLC0415
    from functools import reduce  # noqa: PLC0415

    from pyspark.sql import DataFrame  # noqa: PLC0415

    from ..session import scratch_dir  # noqa: PLC0415
    from ..sinks.files import write_datapackage  # noqa: PLC0415
    from ..sinks.rest import ckan_backup_package  # noqa: PLC0415
    from ..sources.tables import load_datapackage  # noqa: PLC0415

    frames = {t: _t(spark, sf_dir, t) for t in ["region", "nation", "supplier", "customer", "part"]}
    frames["documents_meta"] = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    base = scratch_dir("srm_q154")
    reloaded = {}
    for t, df in frames.items():
        p = os.path.join(base, t)
        write_datapackage(df, p, t, fmt="csv")
        reloaded[t] = load_datapackage(spark, p)
    payload = ckan_backup_package(reloaded)
    meta = {r["name"]: r for r in payload["resources"]}
    outs = []
    for t, df in reloaded.items():
        sig = ",".join(f'{f["id"]}:{f["type"]}' for f in meta[t]["schema"]["fields"])
        outs.append(
            df.agg(F.count(F.lit(1)).alias("n_rows")).select(
                F.lit(payload["name"]).alias("package_name"),
                F.lit(payload["title"]).alias("package_title"),
                F.lit(t).alias("resource"),
                F.lit(meta[t]["format"]).alias("fmt"),
                F.col("n_rows"),
                F.lit(sig).alias("fields_sig"),
            )
        )
    return reduce(DataFrame.unionByName, outs)


_Q154_SIGS = {
    "region": ("region", "r_regionkey:int,r_name:string"),
    "nation": ("nation", "n_nationkey:int,n_name:string,n_regionkey:int"),
    "supplier": ("supplier", "s_suppkey:bigint,s_name:string,s_nationkey:int,s_acctbal:double"),
    "customer": (
        "customer",
        "c_custkey:bigint,c_name:string,c_nationkey:int,c_acctbal:double,c_mktsegment:string",
    ),
    "part": (
        "part",
        "p_partkey:bigint,p_name:string,p_brand:string,p_type:string,p_size:int,p_retailprice:double",
    ),
    "documents_meta": ("documents", "doc_id:bigint,source:string,n_chars:bigint"),
}

_Q154_SQL = "\nUNION ALL\n".join(
    f"SELECT 'backup' AS package_name, 'Manual Input Backup' AS package_title,\n"
    f"       '{res}' AS resource, 'CSV' AS fmt,\n"
    f"       (SELECT COUNT(*) FROM {src}) AS n_rows,\n"
    f"       '{sig}' AS fields_sig"
    for res, (src, sig) in _Q154_SIGS.items()
)


def q155_bpe_priority_vocab(spark, sf_dir):
    """Priority-loop BPE over a merge table the q123 replace chain REJECTS
    (same-pair rules ll/ee/oo + the stacked ll+l — functions/text.py:
    PRIORITY_BPE_MERGES). Scale shape: the corpus explodes to words and
    aggregates to the DISTINCT vocabulary first, so the Arrow kernel runs
    per distinct word, never per document; token counts re-weight by word
    frequency. Emits the top-20 subword vocabulary (ties -> token asc)."""
    from ..functions.text import PRIORITY_BPE_MERGES, bpe_tokens_priority, tokens  # noqa: PLC0415

    d = _t(spark, sf_dir, "documents")
    words = (
        d.select(F.explode(tokens(F.lower(F.col("text")))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("wn"))
    )
    toks = words.select(
        F.explode(bpe_tokens_priority(F.col("w"), PRIORITY_BPE_MERGES)).alias("token"), "wn"
    )
    return (
        toks.groupBy("token")
        .agg(F.sum("wn").alias("n"))
        .orderBy(F.col("n").desc(), F.col("token").asc())
        .limit(20)
    )


def _q155_sql() -> str:
    from ..functions.text import PRIORITY_BPE_MERGES  # noqa: PLC0415

    values = ", ".join(
        f"('{a}', '{b}', {i})" for i, (a, b) in enumerate(PRIORITY_BPE_MERGES)
    )
    return f"""
WITH RECURSIVE merges(a, b, rank) AS (
  SELECT * FROM (VALUES {values}) v(a, b, rank)
),
words AS (
  SELECT w, CAST(count(*) AS BIGINT) AS wn FROM (
    SELECT unnest(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                              t -> t != '')) AS w
    FROM documents
  ) GROUP BY w
),
-- one merge per level: leftmost occurrence of the lowest-ranked pair
-- (the kernel's pinned semantics); rows with no pair left stop recursing
steps AS (
  SELECT w, wn, ' ' || regexp_replace(w, '(.)', '\\1 ', 'g') AS s FROM words
  UNION ALL
  SELECT st.w, st.wn,
         substr(st.s, 1, instr(st.s, ' ' || m.a || ' ' || m.b || ' ') - 1)
           || ' ' || m.a || m.b || ' '
           || substr(st.s, instr(st.s, ' ' || m.a || ' ' || m.b || ' ')
                           + length(m.a) + length(m.b) + 3)
  FROM (
    SELECT w, wn, s,
           (SELECT min(rank) FROM merges
             WHERE instr(s, ' ' || a || ' ' || b || ' ') > 0) AS r
    FROM steps
  ) st JOIN merges m ON m.rank = st.r
),
final AS (
  SELECT w, wn, s FROM steps
  WHERE NOT EXISTS (SELECT 1 FROM merges
                     WHERE instr(s, ' ' || a || ' ' || b || ' ') > 0)
),
toks AS (
  SELECT unnest(list_filter(string_split(trim(s), ' '), t -> t != '')) AS token, wn
  FROM final
)
SELECT token, CAST(sum(wn) AS BIGINT) AS n
FROM toks GROUP BY token
ORDER BY n DESC, token ASC LIMIT 20
"""


def q156_ivf_partitioned(spark, sf_dir):
    """IVF with the assigned corpus written ``partitionBy(cell)`` and the
    probe answered off the PRUNED scan (operators/similarity.py:
    ivf_topk_partitioned): the q61 index semantics, but the storage layout
    does the cell selection — PartitionFilters carries the probed-cell IN
    list, so a probe reads nprobe/ncells of the data (plan pinned in
    tests/test_warehouse.py). Must hash-MATCH q61's oracle exactly."""
    import os  # noqa: PLC0415

    from ..operators import similarity as SIM  # noqa: PLC0415
    from ..session import scratch_dir  # noqa: PLC0415

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    out = SIM.ivf_topk_partitioned(
        spark, emb, queries, path=os.path.join(scratch_dir("srm_q156"), "ivf"), k=5, nprobe=2
    )
    return out.select(
        "query_id",
        "neighbor_id",
        F.round("cosine", 4).alias("cosine"),
        F.col("rank").cast("long").alias("rank"),
    )


_Q157_ID = itertools.count()


def q157_stream_dedup(spark, sf_dir):
    """Streaming deduplication (streaming/events.py:streaming_dedup →
    dropDuplicatesWithinWatermark) under a controlled 3-batch replay, both
    boundaries pinned:

    - batch0 = events up to the 70%-of-span cut; batch1 = the tail PLUS
      near-duplicates (same event_id, ts jittered +5 min) of late-batch0
      events — their keys are still in state (or the dup is already late),
      so they are SUPPRESSED either way;
    - batch2 = replayed duplicates of EARLY events (first 30% of span) with
      a FRESH timestamp (hi - 10 min): their keys were evicted when the
      watermark passed ts+delay, and the fresh ts is above the watermark,
      so they RE-EMIT — the operator's documented contract is dedup within
      the watermark delay, not forever.

    Emitted set = every original exactly once + the batch2 re-emits
    (measured: a same-ts duplicate of an evicted key is late-filtered and
    never re-emits; only fresh-ts replays do). Hash-gated against that rule.
    """
    import datetime  # noqa: PLC0415

    from ..streaming.events import recovery_axis, replay, streaming_dedup  # noqa: PLC0415

    ev = (
        _t(spark, sf_dir, "events")
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .select("event_id", "ts", "event_type", "value")
    )
    mm = ev.agg(F.min("ts").alias("lo"), F.max("ts").alias("hi")).collect()[0]
    lo, hi = mm["lo"], mm["hi"]
    span_s = int((hi - lo).total_seconds())
    # early keys must be EVICTED before batch2 (0.3·span + 30min delay <
    # span - 30min watermark) — the q117 span guard covers this with margin
    min_span_s = int((3600 + 1800) / 0.7) + 1
    if span_s < min_span_s:
        raise ValueError(
            f"q157 requires events to span >= {min_span_s}s so early keys "
            f"are evicted before the replay batch; got {span_s}s"
        )
    cut_low = lo + datetime.timedelta(seconds=(span_s * 3) // 10)
    cut1 = lo + datetime.timedelta(seconds=(span_s * 7) // 10)
    dup_a = ev.filter(
        (F.col("ts") > F.lit(cut1 - datetime.timedelta(minutes=50)))
        & (F.col("ts") <= F.lit(cut1))
        & (F.col("event_id") % 4 == 1)
    ).withColumn("ts", F.col("ts") + F.expr("INTERVAL 5 MINUTES"))
    dup_b = ev.filter(
        (F.col("ts") < F.lit(cut_low)) & (F.col("event_id") % 9 == 0)
    ).withColumn("ts", F.lit(hi - datetime.timedelta(minutes=10)))
    batches = [
        ev.filter(F.col("ts") <= F.lit(cut1)),
        ev.filter(F.col("ts") > F.lit(cut1)).unionByName(dup_a),
        dup_b,
    ]
    # recovery axis (see q117): dedup state resumes from the checkpointed
    # state store, so the suppress/re-emit decisions must be identical to
    # the uninterrupted run's.
    out, _progress = replay(
        spark, batches, lambda s: streaming_dedup(s, "30 minutes"),
        f"q157_sink_{next(_Q157_ID)}", stop_after=2 if recovery_axis() else None,
    )
    return out.select(
        "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
        "event_type",
        "value",
    )


_Q157_SQL = """
WITH bounds AS (
  SELECT min(ts) AS lo, max(ts) AS hi,
         CAST(floor(epoch(max(ts)) - epoch(min(ts))) AS BIGINT) AS span_s
  FROM events
)
SELECT event_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s, event_type, value
FROM events
UNION ALL
SELECT e.event_id, strftime(b.hi - INTERVAL 10 MINUTE, '%Y-%m-%d %H:%M:%S') AS ts_s,
       e.event_type, e.value
FROM events e CROSS JOIN bounds b
WHERE e.event_id % 9 = 0
  AND e.ts < b.lo + to_seconds((b.span_s * 3) // 10)
"""


EXT20_REGISTRY = {
    "q153_es_revision_swap": QueryDef(
        q153_es_revision_swap,
        _Q153_SQL,
        "ES publish lifecycle: bulk upsert + revision sweep state semantics (K3)",
    ),
    "q154_backup_package": QueryDef(
        q154_backup_package,
        _Q154_SQL,
        "backup composition: per-table datapackage dump -> reload -> CKAN package (S2 K1 K5)",
    ),
    "q155_bpe_priority_vocab": QueryDef(
        q155_bpe_priority_vocab,
        _q155_sql(),
        "priority-loop BPE (Arrow kernel) on a same-pair merge table the replace chain rejects",
    ),
    "q156_ivf_partitioned": QueryDef(
        q156_ivf_partitioned,
        Q61_SQL,
        "IVF over a partitionBy(cell) corpus: probe scan prunes to probed cells",
    ),
    "q157_stream_dedup": QueryDef(
        q157_stream_dedup,
        _Q157_SQL,
        "streaming dedup (dropDuplicatesWithinWatermark): in-state suppression + post-eviction re-emit",
    ),
}
