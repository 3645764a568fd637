"""CDC MERGE INTO semantics as a pure-DataFrame operator.

Re-expresses the reference's Delta ``MERGE INTO`` (reference: spark/src/main/
scala/io/badal/databricks/delta/MergeQueries.scala:91-105; SQL shape in its
scaladoc :18-26) without Delta, as one declarative full-outer-join plan that
Catalyst/AQE is free to plan as broadcast or sort-merge:

    WHEN MATCHED  AND t.ts <= s.ts AND s.is_deleted THEN DELETE        (:99-100)
    WHEN MATCHED  AND t.ts <= s.ts                  THEN UPDATE SET *  (:101-102)
    WHEN NOT MATCHED AND NOT s.is_deleted           THEN INSERT *      (:103-104)

Load-bearing details pinned by the reference's tests:

- Guard is ``<=`` not ``<`` (MergeQueries.scala:124-129): an event with a
  timestamp *equal* to the target's re-applies (idempotent replay), an older
  event is silently discarded (MergeQueriesSpec.scala:66-97).
- Delete is driven by the ``is_deleted`` flag, NOT ``change_type``
  (MergeQueries.scala:77-81, README.md:164). A delete for an absent key is a
  no-op (insert clause requires ``is_deleted = false``).
- Delete-clause precedence over update (clause order, MergeQueries.scala:
  99-102): after LWW dedup each key has ONE winner row, so precedence reduces
  to "the winner's flag decides delete vs upsert".
- The merged table stores flattened ordering metadata columns
  ``datastream_metadata_*`` because Delta could not reference nested columns
  in MERGE (DatastreamMetadataColumn.scala:8-13); we keep the flat names for
  test parity (DeltaSchemaMigrationSpec.scala:34-52).

Scale notes: this is the pure-DataFrame reference of the CDC merge — one
full-outer join that AQE plans as sort-merge with skew splitting. The
icepack-backed copy-on-write merge (operators/table_merge.py) runs the same
three clauses on the engine's MERGE executor (operators/generic_merge.py),
which rewrites only the files holding a winner key; the merge-on-read one
(operators/mor.py) writes equality deletes instead. Both are checked against
this operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import latest_by_keys

# CDC envelope columns carried by change batches (FIXTURES.md §3), mirroring
# the reference envelope source_metadata fields (events/schema.json:47-100).
CHANGE_TYPE_COL = "change_type"
DELETED_COL = "is_deleted"
TS_COL = "source_timestamp"
SEQ_COL = "change_seq"
ENVELOPE_COLS = [CHANGE_TYPE_COL, DELETED_COL, TS_COL, SEQ_COL]

# Flattened metadata names in the merged table (DatastreamMetadataColumn.scala:8-13).
META_PREFIX = "datastream_metadata_"
TS_META = META_PREFIX + TS_COL
SEQ_META = META_PREFIX + SEQ_COL
META_COLS = [TS_META, SEQ_META]

__all__ = [
    "ENVELOPE_COLS",
    "META_COLS",
    "TS_META",
    "SEQ_META",
    "payload_columns",
    "winners_as_merged",
    "merge_batch",
    "apply_winners",
]


def payload_columns(batch_df: DataFrame, keys: list[str]) -> list[str]:
    """Source-table payload columns of a change batch (everything that is not
    a key and not CDC envelope). Mirrors TableMetadata.payloadFields
    (reference: delta/TableMetadata.scala:14-21)."""
    return [c for c in batch_df.columns if c not in keys and c not in ENVELOPE_COLS]


def winners_as_merged(winners: DataFrame, keys: list[str]) -> DataFrame:
    """Project deduped winner rows into merged-table shape: payload columns
    plus flattened ``datastream_metadata_*`` ordering columns (the
    INSERT/UPDATE assignment map, reference: MergeQueries.scala:138-150)."""
    payload = payload_columns(winners, keys)
    return winners.select(
        *keys,
        *payload,
        F.col(TS_COL).alias(TS_META),
        F.col(SEQ_COL).alias(SEQ_META),
    )


def merge_batch(
    target: DataFrame,
    batch: DataFrame,
    keys: list[str],
) -> DataFrame:
    """Apply a raw CDC change batch to a merged-table DataFrame.

    ``target`` must have merged-table shape (keys + payload + datastream
    metadata cols, see winners_as_merged). Returns the new merged table.
    Equivalent of MergeQueries.upsertToDelta (reference: MergeQueries.scala:
    33-106) minus the Delta-table IO.
    """
    winners = latest_by_keys(batch, keys, [TS_COL, SEQ_COL])
    return apply_winners(target, winners, keys)


def _source_projection(winners: DataFrame, keys: list[str]) -> DataFrame:
    """Merged-table projection of the winners, keeping the delete flag as a
    private resolution column ``__deleted`` (never written)."""
    return winners.select(
        *keys,
        *payload_columns(winners, keys),
        F.col(TS_COL).alias(TS_META),
        F.col(SEQ_COL).alias(SEQ_META),
        F.coalesce(F.col(DELETED_COL), F.lit(False)).alias("__deleted"),
    )


def apply_winners(
    target: DataFrame,
    winners: DataFrame,
    keys: list[str],
) -> DataFrame:
    """Resolve deduped winner rows against the target.

    Produces exactly the reference's three-clause MERGE result. Column set of
    the output = target columns ∪ new payload columns from the batch (schema
    evolution: new columns appended nullable, removed columns retained —
    DeltaSchemaMigrationSpec.scala:55-152).

    Physical strategy: ONE full-outer sort-merge join (AQE handles skew).
    Spark cannot broadcast a full-outer build side, so this always shuffles
    both sides — correct at any size ratio.
    """
    src = _source_projection(winners, keys)

    target_payload = [c for c in target.columns if c not in keys and c not in META_COLS]
    source_payload = [
        c for c in src.columns if c not in keys and c not in META_COLS and c != "__deleted"
    ]
    # Union preserving target order, new batch columns appended (mergeSchema).
    out_payload = target_payload + [c for c in source_payload if c not in target_payload]

    s = src.select([F.col(c).alias(f"__s_{c}") for c in src.columns])

    cond = None
    for k in keys:
        c = target[k] == s[f"__s_{k}"]
        cond = c if cond is None else (cond & c)
    joined = target.join(s, cond, "full_outer")

    s_key = F.col(f"__s_{keys[0]}")
    t_key = F.col(keys[0])
    # <= guard (not <): equal timestamps re-apply → idempotent replay (ST3).
    take_source = s_key.isNotNull() & (
        t_key.isNull() | (F.col(TS_META) <= F.col(f"__s_{TS_META}"))
    )
    # Winner-is-delete: matched-and-newer → DELETE; unmatched → insert
    # suppressed. Both are "drop the row" after the join.
    drop_row = take_source & F.col("__s___deleted")

    def pick(col: str) -> F.Column:
        s_col = (
            F.col(f"__s_{col}")
            if col in source_payload or col in META_COLS
            else F.lit(None)
        )
        t_col = F.col(col) if col in target.columns else F.lit(None)
        return F.when(take_source, s_col).otherwise(t_col).alias(col)

    out_cols = [F.coalesce(t_key, s_key).alias(keys[0])]
    out_cols += [F.coalesce(target[k], s[f"__s_{k}"]).alias(k) for k in keys[1:]]
    out_cols += [pick(c) for c in out_payload + META_COLS]

    return joined.where(~drop_row).select(*out_cols)
