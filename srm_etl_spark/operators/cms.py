"""Count-min sketch: sublinear heavy-hitter counting.

The frequency-sketch companion to the HLL/percentile sketches (q63): a
``depth x width`` grid of counters where every key increments one counter per
row of pairwise-independent hash functions, and a key's estimate is the MIN
of its counters — always an overestimate, within eps*N with probability
1-delta for width=e/eps, depth=ln(1/delta) (Cormode & Muthukrishnan 2005).

The hash family is universal integer hashing h_i(k) = ((a_i*k + b_i) mod P)
mod width with P = 2^31 - 1 — deliberately plain modular arithmetic, not a
platform hash builtin, so any engine (the DuckDB oracle, a Go/Rust sidecar)
reproduces the sketch bit-for-bit.

Scale shape (100 TB):
- build: one map-side explode (depth rows per input row) into a hash
  aggregate keyed by (row, bucket) — the shuffle output is at most
  depth*width cells regardless of input size, and partial aggregation
  collapses almost everything map-side;
- the finished sketch is depth*width rows (a 4x1024 sketch is 4 K rows) —
  broadcastable by construction, like the bloom filter's word array;
- estimate: candidates join the broadcast sketch on (row, bucket), then a
  map-side-combinable min per key.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_P = 2_147_483_647  # 2^31 - 1, prime
# fixed (a, b) per row — any odd a < P works; pinned for reproducibility
_SEEDS = ((1_000_003, 12_345), (1_000_033, 54_321), (1_000_087, 98_765), (1_000_093, 13_579))


def _bucket(key: Column, a: int, b: int, width: int) -> Column:
    return ((key * a + b) % _P) % width


def _check_dims(width: int, depth: int) -> None:
    if depth > len(_SEEDS) or depth <= 0 or width <= 0:
        raise ValueError(f"need 0 < depth <= {len(_SEEDS)} and width > 0")


def _cells(key: Column, width: int, depth: int) -> Column:
    """The shared depth x (row, bucket) probe/build cell expression — build
    and estimate MUST hash identically, so there is exactly one definition."""
    return F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(i).alias("r"),
                    _bucket(key, a, b, width).alias("b"),
                )
                for i, (a, b) in enumerate(_SEEDS[:depth])
            ]
        )
    ).alias("cell")


def build_cms(
    df: DataFrame, key_col: str, width: int = 512, depth: int = 3
) -> DataFrame:
    """Sketch of the multiset ``df[key_col]`` (integer keys):
    (_cms_row, _cms_bucket, _cms_c) with ``depth * width`` rows at most.
    Underscore-prefixed cell columns so probes never collide with caller
    columns."""
    _check_dims(width, depth)
    cells = _cells(F.col(key_col).cast("long"), width, depth)
    return (
        df.select(cells)
        .select(F.col("cell.r").alias("_cms_row"), F.col("cell.b").alias("_cms_bucket"))
        .groupBy("_cms_row", "_cms_bucket")
        .agg(F.count(F.lit(1)).alias("_cms_c"))
    )


def cms_estimate(
    candidates: DataFrame,
    sketch: DataFrame,
    key_col: str,
    width: int = 512,
    depth: int = 3,
    out_col: str = "cms_estimate",
) -> DataFrame:
    """Attach the count-min estimate (min over the key's ``depth`` counters)
    to every candidate row — row multiplicity preserved, and keys whose
    cells are absent from the sketch estimate 0 (an absent cell IS count 0
    in CMS semantics). The sketch side is broadcast — bounded at
    depth*width rows by construction."""
    _check_dims(width, depth)
    # a surrogate row id keeps duplicate candidate rows distinct through the
    # probe-and-regroup (internal only — never leaves this function)
    tagged = candidates.withColumn("_cms_rid", F.monotonically_increasing_id())
    probes = tagged.select(
        "*", _cells(F.col(key_col).cast("long"), width, depth)
    ).select(
        "*",
        F.col("cell.r").alias("_cms_row"),
        F.col("cell.b").alias("_cms_bucket"),
    ).drop("cell")
    joined = probes.join(F.broadcast(sketch), ["_cms_row", "_cms_bucket"], "left")
    others = [c for c in candidates.columns]
    return (
        joined.groupBy("_cms_rid", *others)
        .agg(F.min(F.coalesce(F.col("_cms_c"), F.lit(0))).alias(out_col))
        .drop("_cms_rid")
    )

