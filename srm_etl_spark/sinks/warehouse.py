"""Warehouse layout sinks: bucketed and partitioned parquet tables.

The reference's storage layer is flat CSV/JSON datapackages
(``operators/derive/to_dp.py:227-405``) — every downstream join re-shuffles.
At 100 TB the storage *layout* is the optimization: a fact table bucketed by
its join key joins dimension-bucketed tables with ZERO exchanges (each bucket
pair is a co-located merge), and a table partitioned by a coarse column lets
Catalyst prune whole directories before any IO (``PartitionFilters`` in the
scan node).

Rules of thumb encoded here:
- bucket count is fixed at write time and should be sized so one bucket of
  the LARGEST co-bucketed table fits an executor core's working memory at
  target scale (both sides must use the same count for a shuffle-free join);
- partition columns must be low-cardinality (10^0-10^4 directories) — dates,
  sources, regions. High-cardinality partitioning produces the
  million-tiny-files failure mode; that's what bucketing is for.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    num_buckets: int = 8,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
    path: str | None = None,
) -> None:
    """Persist as a bucketed (and bucket-sorted) parquet table.

    Joining two tables bucketed on the same keys with the same bucket count
    is exchange-free; sorting within buckets additionally removes the
    per-task sort from sort-merge joins. ``path`` makes it an external table
    (data at ``path``, bucketing metadata in the catalog — the catalog entry
    is what carries the bucket spec to the planner).
    """
    writer = df.write.format("parquet").mode(mode).bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    if path:
        writer = writer.option("path", path)
    writer.saveAsTable(table)


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    mode: str = "overwrite",
) -> None:
    """Directory-partitioned parquet: one dir per partition-column value, so
    equality/range predicates on those columns prune at planning time."""
    df.write.format("parquet").mode(mode).partitionBy(*partition_cols).save(path)

