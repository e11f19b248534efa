"""Window-function operators emulated by the reference, made explicit.

The reference has no window API; it relies on stream order (SURVEY §2.6).
Spark gives no implicit order, so each pattern takes an explicit ordering —
this is a correctness requirement, not a style choice.

- W1 global row index            (``operators/presets/__init__.py:12-20``)
- W2 first-per-group + group agg (``operators/derive/autocomplete.py:185-193``)
- W3 per-group count attached    (``operators/derive/to_dp.py:275-281``)
- O3 latest-per-key              (``operators/benchmark/__init__.py:221-230``)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def enumerate_rows(
    df: DataFrame, order_by: list, out_col: str = "score", small: bool = False
) -> DataFrame:
    """Global 0-based row index in a deterministic order (W1).

    Default path is :func:`enumerate_rows_scalable` (ranged partitions +
    per-partition offsets — no single-partition sort), so a caller cannot
    accidentally grab the scale footgun. Pass ``small=True`` for frames known
    to be tiny (the reference's preset tables) to use a plain global window
    and skip the extra per-partition counting job.
    """
    if not small:
        return enumerate_rows_scalable(df, order_by, out_col)
    w = Window.orderBy(*order_by)
    return df.withColumn(out_col, F.row_number().over(w) - 1)


def enumerate_rows_scalable(
    df: DataFrame,
    order_by: list,
    out_col: str = "score",
    num_partitions: int | None = None,
    max_pinned_frames: int = 8,
) -> DataFrame:
    """W1 at scale: global 0-based index with NO single-partition sort.

    ``repartitionByRange`` over the ordering keys yields globally-ordered
    partitions (equal keys co-partitioned, deterministic sampling seed); a
    per-partition ``row_number`` plus per-partition count offsets gives the
    global index. The offsets are one count per partition collected to the
    driver — O(#partitions), the same bounded side-channel zipWithIndex uses
    — and re-enter the plan as a literal map, so the big table never leaves
    its partitions. Costs one extra counting job over the ranged exchange
    (which the main action then reuses).
    """
    cols = [F.col(c) if isinstance(c, str) else c for c in order_by]
    if num_partitions is None:
        num_partitions = int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
        )
    ranged = df.repartitionByRange(num_partitions, *cols).withColumn(
        "_pid", F.spark_partition_id()
    )
    # PIN the ranged exchange with a lineage-truncating CHECKPOINT before
    # counting: repartitionByRange picks its boundaries by SAMPLING, and the
    # counting job and the main action are two separate evaluations — if the
    # second evaluation recomputes (an upstream change, a cache-lookup miss),
    # it can re-sample different boundaries and desync every offset. A
    # persist pin was NOT enough: under AQE-off the composed q159 union plan
    # bypassed the CacheManager entry for this frame (the executed plan
    # carried a live rangepartitioning exchange) and re-sampled over a
    # differently-partitioned cached upstream — 205 of 211 sitemap pages
    # mis-chunked. The checkpoint stores the partitions PHYSICALLY (lazy —
    # materialized by the counting job below); recompute is impossible, so
    # both jobs read one frozen layout regardless of how plan matching goes.
    # The pool is keyed by the plan's semantic hash so warm repeats of the
    # same frame reuse the blocks; ``max_pinned_frames`` bounds how many
    # distinct enumerated frames stay pinned (an evicted entry's blocks
    # survive as long as the returned frame references them — eviction can
    # no longer desync a deferred action, unlike the old persist pool).
    from .session_cache import keep_checkpointed_pooled  # noqa: PLC0415

    ranged = keep_checkpointed_pooled(
        ranged, "enumerate_ranged", max_slots=max_pinned_frames, eager=False
    )
    counts = {
        r["_pid"]: r["n"]
        for r in ranged.groupBy("_pid").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    if not counts:
        # empty frame: zero rows to index, but the mapping below would be an
        # UNTYPED empty map literal (map()[_pid] fails analysis with a VOID
        # key type) — emit a typed null index column over the empty frame
        return ranged.withColumn(out_col, F.lit(None).cast("long")).drop("_pid")
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    mapping = F.create_map(
        *[F.lit(x) for pid in sorted(offsets) for x in (pid, offsets[pid])]
    )
    local_w = Window.partitionBy("_pid").orderBy(*cols)
    return (
        ranged.withColumn("_local", F.row_number().over(local_w))
        .withColumn(out_col, mapping[F.col("_pid")] + F.col("_local") - 1)
        .drop("_pid", "_local")
    )


def first_per_group(
    df: DataFrame, keys: list[str], order_by: list, aggs: dict[str, object] | None = None
) -> DataFrame:
    """Keep the first row per key in the given order, optionally attaching
    named group-level aggregates computed over the WHOLE group (W2), e.g.
    ``aggs={"n": F.count(F.lit(1)), "low": F.bool_and("low")}``."""
    w = Window.partitionBy(*keys)
    ranked = df.withColumn("_rn", F.row_number().over(w.orderBy(*order_by)))
    for name, agg in (aggs or {}).items():
        ranked = ranked.withColumn(name, agg.over(w))
    return ranked.filter(F.col("_rn") == 1).drop("_rn")


def _contains_unorderable(dt) -> bool:
    """True if the type can't participate in struct min/max ordering
    (MapType anywhere in the nesting)."""
    from pyspark.sql.types import ArrayType, MapType, StructType  # noqa: PLC0415

    if isinstance(dt, MapType):
        return True
    if isinstance(dt, ArrayType):
        return _contains_unorderable(dt.elementType)
    if isinstance(dt, StructType):
        return any(_contains_unorderable(f.dataType) for f in dt.fields)
    return False


def _inverted_ts(col, dt):
    """Order-inverted copy of the timestamp column (largest → smallest), with
    nulls mapped to +∞ so they lose — matching the window path's
    ``desc_nulls_last`` default. None when the type can't be inverted."""
    from pyspark.sql.types import (  # noqa: PLC0415
        DateType,
        FractionalType,
        IntegralType,
        TimestampNTZType,
        TimestampType,
    )

    if isinstance(dt, (TimestampType, TimestampNTZType, DateType)):
        # micros fit a double exactly (< 2^53 until year ~2255)
        inv = (-F.unix_micros(col.cast("timestamp"))).cast("double")
        return F.coalesce(inv, F.lit(float("inf")))
    if isinstance(dt, IntegralType):
        return F.coalesce((-col).cast("long"), F.lit(2**63 - 1))
    if isinstance(dt, FractionalType):
        return F.coalesce(-col.cast("double"), F.lit(float("inf")))
    return None


def latest_per_key(df: DataFrame, keys: list[str], ts_col: str, tiebreak: list | None = None) -> DataFrame:
    """Row with the max timestamp per key (O3), deterministic tie-break.

    Tiebreak columns given as plain names order ASCENDING (the plain
    ``orderBy`` default — same contract as the window plan). When the
    timestamp type is invertible (timestamp/date/numeric) and every column
    type is orderable, the keeper is one hash aggregate —
    ``min(struct(-ts, tiebreaks, full row))`` — whose map-side partial
    aggregation shuffles one row per key instead of sorting the whole table
    in partition windows. Column-object tiebreaks (explicit asc/desc),
    string-typed timestamps, and frames containing unorderable columns
    (MapType) keep the window plan.
    """
    tiebreak = tiebreak or []
    if all(isinstance(t, str) for t in tiebreak):
        inv = _inverted_ts(F.col(ts_col), df.schema[ts_col].dataType)
        if inv is not None and not any(
            _contains_unorderable(f.dataType) for f in df.schema.fields
        ):
            row = F.struct(*[F.col(c) for c in df.columns]).alias("_row")
            keeper = F.min(
                F.struct(inv.alias("_its"), *[F.col(t) for t in tiebreak], row)
            ).alias("_keep")
            return (
                df.groupBy(*[F.col(k) for k in keys]).agg(keeper).select("_keep._row.*")
            )
    order = [F.col(ts_col).desc()] + [
        F.col(t).asc() if isinstance(t, str) else t for t in tiebreak
    ]
    w = Window.partitionBy(*keys).orderBy(*order)
    return df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")


def top_k_per_group(df: DataFrame, keys: list[str], order_by: list, k: int, rank_col: str = "rank") -> DataFrame:
    """Classic top-k per group (O5 generalization)."""
    w = Window.partitionBy(*keys).orderBy(*order_by)
    return df.withColumn(rank_col, F.row_number().over(w)).filter(F.col(rank_col) <= k)


def sessionize(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_minutes: int = 30,
) -> DataFrame:
    """Batch sessionization: a new session starts when the gap from the
    previous event of the same user exceeds the threshold; session_id is the
    running count of session starts (lag + cumulative sum)."""
    w = Window.partitionBy(user_col).orderBy(ts_col)
    # cast via TIMESTAMP: TIMESTAMP_NTZ (how newer Spark reads the warehouse
    # parquet) has no direct → BIGINT cast; LTZ does, and under the engine's
    # UTC session timezone the NTZ→LTZ hop is value-preserving.
    epoch = F.col(ts_col).cast("timestamp").cast("long")
    gap = epoch - F.lag(epoch).over(w)
    new_session = F.when(gap.isNull() | (gap > gap_minutes * 60), 1).otherwise(0)
    return df.withColumn("_new", new_session).withColumn(
        "session_seq", F.sum("_new").over(w)
    ).drop("_new")
