"""Last-writer-wins dedup of a CDC change batch.

Re-expresses the reference's ``MergeQueries.getLatestRow`` (reference:
spark/src/main/scala/io/badal/databricks/delta/MergeQueries.scala:108-121):
``Window.partitionBy(pk*).orderBy(desc(orderByField)*)`` + ``row_number == 1``,
with composite source-specific ordering keys (reference: delta/
TableMetadata.scala:24-32 — MySQL ``(source_timestamp, log_file,
log_position)``, Oracle ``(source_timestamp, scn)``).

Two physical strategies, same logical result (callers must make the
ordering-key tuple unique per key — e.g. end it with a change-sequence
column — so the winner is deterministic):

- ``window``  — faithful port: hash-shuffle on keys, row_number = 1. On
  Spark ≥ 3.5 Catalyst inserts Partial+Final ``WindowGroupLimit`` for the
  rank-1 filter, so each map task keeps only its per-key top row BEFORE
  the shuffle — the classic "hot key serializes one sort task" pathology
  no longer exists on this engine version (measured in BENCH.md's skew
  stage; the plan shows ``WindowGroupLimit ... Partial/Final``).
- ``max_by``  — single hash aggregation with partial (map-side) combine:
  ``max_by(struct(<all>), struct(<order>))``. No sort, and the map-side
  combine already spreads a hot key over every map task, so a salted
  second phase only adds a shuffle (BENCH.md skew stage: window 0.42 s,
  max_by 0.49 s, salted two-phase 0.94 s). The default, and what every CDC
  merge uses.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["latest_by_keys"]


def _order_struct(order_cols: list[str]) -> Column:
    # Struct comparison in Spark is lexicographic over fields, which matches
    # the reference's multi-column descending orderBy when used inside max_by.
    return F.struct(*[F.col(c) for c in order_cols])


def latest_by_keys(
    df: DataFrame,
    keys: list[str],
    order_cols: list[str],
    strategy: str = "max_by",
) -> DataFrame:
    """Collapse ``df`` to the single latest row per ``keys``.

    ``order_cols`` are compared descending-lexicographically (latest wins),
    mirroring ``orderBy(desc(c1), desc(c2), ...)`` in the reference.
    """
    if strategy == "window":
        w = Window.partitionBy(*keys).orderBy(*[F.desc(c) for c in order_cols])
        return (
            df.withColumn("__row_num", F.row_number().over(w))
            .where(F.col("__row_num") == 1)
            .drop("__row_num")
        )

    if strategy != "max_by":
        raise ValueError(f"unknown dedup strategy: {strategy!r}")
    payload_cols = [c for c in df.columns if c not in keys]
    row_struct = F.struct(*[F.col(c) for c in payload_cols])
    winners = df.groupBy(*keys).agg(
        F.max_by(row_struct, _order_struct(order_cols)).alias("__row")
    )
    return winners.select(*keys, *[F.col(f"__row.{c}").alias(c) for c in payload_cols])
