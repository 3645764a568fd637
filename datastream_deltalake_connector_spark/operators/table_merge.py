"""MERGE INTO an icepack table: the reference's CDC upsert as three clauses
on the engine's one MERGE executor.

This is the engine's equivalent of the reference's per-micro-batch
``MergeQueries.upsertToDelta`` (reference: MergeQueries.scala:33-106) plus
the part Delta did for it under the hood (candidate-file finding + touched
file rewrite + transactional commit):

1. Empty-batch short-circuit (ST6, MergeQueries.scala:45-47): nothing is
   committed, schema included.
2. Schema evolution first (mergeSchema, DeltaSchemaMigration.scala:51-67).
3. LWW dedup of the batch (W1/W2, MergeQueries.scala:108-121) — one
   ``max_by`` hash aggregation with map-side combine (operators/dedup.py).
4. ``generic_merge.merge_into`` with the reference's fixed clause set
   (MergeQueries.scala:91-105): it prunes to the files that hold a winner
   key, rewrites only those (zero-shuffle split rewrite for small batches,
   a range-partitioned full-outer join for large ones), reads through
   pending merge-on-read deletes, and commits serializably.

``merge_cdc`` is that body; the merge-on-read CDC merge
(``operators/mor.py``) runs it with the positional-delete emitter.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame

from ..table.icepack import IcepackTable
from .dedup import latest_by_keys
from .generic_merge import merge_into
from .merge import ENVELOPE_COLS, SEQ_COL, TS_COL, TS_META, _source_projection

# the CDC merges' pruning step, under the name perfbench/tracing.py times
prune_candidates = IcepackTable.prune_by_keys


def merge_into_table(
    table: IcepackTable,
    batch: DataFrame,
    key: str | list[str] = "image_id",
    target_rows_per_file: int | None = None,
    schema_evolution: str = "merge",
) -> int | None:
    """Apply one CDC change batch; returns the committed version (None if
    the batch was empty or changed nothing).

    ``key`` may be a list for COMPOSITE primary keys (the reference's
    multi-PK equi-join, MergeQueries.scala:91-101 via TableMetadata
    primary_keys): LWW dedup, the merge join and file pruning all run on
    the full key tuple. ``target_rows_per_file`` sets how many
    range-partitioned files the merge writes (LWW winners over it)."""
    return merge_cdc(table, batch, key, target_rows_per_file, schema_evolution, "cow")


def merge_cdc(
    table: IcepackTable,
    batch: DataFrame,
    key: str | list[str],
    target_rows_per_file: int | None,
    schema_evolution: str,
    emitter: str,
) -> int | None:
    """The body both CDC merges share: LWW dedup, schema evolution and the
    reference's three clauses on ``merge_into`` with the given emitter."""
    keys = [key] if isinstance(key, str) else list(key)
    source = _source_projection(latest_by_keys(batch, keys, [TS_COL, SEQ_COL]), keys)
    source = source.cache()  # merge_into reads a cached source as is
    try:
        # ST6 empty-batch short-circuit: nothing is committed, schema
        # included. Only a batch that would change the schema pays a job to
        # learn it is empty; merge_into learns it from its key collect
        payload = batch.drop(*ENVELOPE_COLS).schema
        known = set(table.schema().fieldNames())
        if schema_evolution == "overwrite" or not known.issuperset(payload.fieldNames()):
            if source.isEmpty():
                return None
            table.evolve_schema(payload, strategy=schema_evolution)
        # UPDATE SET / INSERT: every target column from the winner, NULL
        # where the batch lacks it (a column the batch dropped is retained,
        # not kept)
        values = {
            c: f"s.`{c}`" if c in source.columns else "NULL"
            for c in table.schema().fieldNames()
        }
        # <= guard (not <): equal timestamps re-apply → idempotent replay
        newer = f"t.`{TS_META}` <= s.`{TS_META}`"
        report = merge_into(
            table,
            source,
            keys,
            matched=[
                {"action": "delete", "condition": f"{newer} AND s.__deleted"},
                {"action": "update", "condition": newer, "set": values},
            ],
            not_matched=[
                {"action": "insert", "condition": "NOT s.__deleted", "values": values}
            ],
            num_files=(
                max(1, math.ceil(source.count() / target_rows_per_file))
                if target_rows_per_file
                else None
            ),
            emitter=emitter,
        )
        return report["version"]
    finally:
        source.unpersist()
