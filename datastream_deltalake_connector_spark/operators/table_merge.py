"""MERGE INTO an icepack table: dedup → file pruning → join → rewrite → commit.

This is the engine's equivalent of the reference's per-micro-batch
``MergeQueries.upsertToDelta`` (reference: MergeQueries.scala:33-106) plus
the part Delta did for it under the hood (candidate-file finding + touched
file rewrite + transactional commit):

1. Empty-batch short-circuit (ST6, MergeQueries.scala:45-47).
2. Schema evolution first (mergeSchema, DeltaSchemaMigration.scala:51-67).
3. LWW dedup of the batch (W1/W2, MergeQueries.scala:108-121) — one
   ``max_by`` hash aggregation with map-side combine (operators/dedup.py).
4. **Manifest pruning**: broadcast the (small) per-file [min,max] key ranges
   and range-join the winner keys against them; only files whose range can
   contain a winner key are touched. Untouched files are carried into the
   new snapshot unchanged — at 100 TB this is the difference between
   rewriting a few hundred MB and rewriting the table.
5. Full-outer join of the touched subset with the winners (operators/merge.
   apply_winners) — broadcast-hash when the batch is small (decided from the
   deduped batch size), else AQE sort-merge with skew splitting.
6. Rewrite touched files + write inserts; lineage journal; CAS commit.

Anti-join soundness note: inserts are detected against the *touched subset*
only. That is sound because pruning is conservative — any key present in an
untouched file would have matched that file's [min,max] range and pulled the
file into the touched set.
"""

from __future__ import annotations

import math
import uuid

from pyspark.sql import functions as F

from ..session import empty_frame
from ..table.icepack import IcepackTable
from ..table.lineage import LineageJournal
from .dedup import latest_by_keys
from .merge import SEQ_COL, TS_COL, apply_winners, apply_winners_split
from .partitioning import rewrite_sized_splits
from pyspark.sql import DataFrame


def prune_candidates(
    entries, winners: DataFrame, key: str | list[str]
) -> tuple[list[str], int]:
    """Manifest pruning + LWW-winner count in ONE fused Spark job, shared by
    the CoW merge and the merge-on-read merge (operators/mor.py) so the two
    paths can never diverge on which files a batch touches.

    Winner keys are unique post-LWW, so count-distinct over the key struct
    recovers the winner count through the range join's row multiplication —
    the count job and the winners×file-ranges pruning job collapse into a
    single pass over the batch (each extra action costs whole-job overhead
    locally and a full scheduler round-trip on a real cluster). Files
    without key stats can never be proven untouched → always in the
    returned candidate list.

    Composite keys: pruning tests the FIRST key column's stats (sound —
    skipping requires proving no row matches on a single column; the other
    columns only ever shrink the true touched set further), while the
    winner count is exact over the full composite (distinct key STRUCTS —
    a struct with null fields is still a countable struct, so null keys
    need no special case).

    Returns (candidate_paths, n_winners); n_winners is -1 when NO file had
    usable key stats (no join ran — the caller counts winners itself).

    When any file carries a key Bloom filter (tables created with
    ``bloom_cols`` — see functions/bloom.py), pruning routes through the
    bloom path instead: min/max ranges cannot prune hash-distributed or
    ingest-ordered keys (every file's range spans the domain), while a
    bloom skips every file that provably contains none of the batch keys,
    independent of physical key order."""
    keys = [key] if isinstance(key, str) else list(key)
    k0 = keys[0]
    if any(e.stats.get(k0, {}).get("bloom") for e in entries):
        return _prune_with_blooms(entries, winners, keys)
    ranged = [
        e
        for e in entries
        if e.stats.get(k0, {}).get("min") is not None
        and e.stats.get(k0, {}).get("max") is not None
    ]
    ranged_paths = {e.path for e in ranged}
    touched: list[str] = [e.path for e in entries if e.path not in ranged_paths]
    if not ranged:
        return touched, -1
    spark = winners.sparkSession
    ranges_df = spark.createDataFrame(
        [(e.path, e.stats[k0]["min"], e.stats[k0]["max"]) for e in ranged],
        ["__path", "__min", "__max"],
    )
    row = (
        winners.select(
            F.col(k0).alias("__k"), F.struct(*[F.col(c) for c in keys]).alias("__s")
        )
        .join(
            F.broadcast(ranges_df),
            (F.col("__k") >= F.col("__min")) & (F.col("__k") <= F.col("__max")),
            "left",
        )
        .agg(
            F.count_distinct(F.col("__s")).alias("__n"),
            F.collect_set("__path").alias("__hits"),
        )
        .collect()[0]
    )
    touched.extend(row["__hits"])
    return touched, int(row["__n"] or 0)


def _prune_with_blooms(
    entries, winners: DataFrame, keys: list[str]
) -> tuple[list[str], int]:
    """Bloom + range pruning fused with the winner count, still ONE job.

    The per-file bitmaps live in the manifest (driver-side), so the range
    join becomes unnecessary: a mapInPandas pass over the winner keys tests
    every file's range AND bloom in vectorized numpy, emits the per-partition
    hit set + row count, and a final tiny groupBy folds partitions together.
    Shuffled rows are bounded by partitions × files-hit — never the batch.

    Soundness: a bloom has no false negatives, so a file is skipped only if
    it provably contains none of the batch keys; false positives merely keep
    a file in the candidate set. Winners are key-unique post-LWW, so the
    partition row-count sum IS the winner count (null keys included — they
    can match no file, like the range join's left side).
    """
    k0 = keys[0]  # composite keys: probe the first column (sound; see caller)
    testable: list[tuple] = []  # (path, min, max, (bits, m, k) | None)
    touched: list[str] = []
    for e in entries:
        st = e.stats.get(k0, {})
        mn, mx, bl = st.get("min"), st.get("max"), st.get("bloom")
        if bl is None and (mn is None or mx is None):
            touched.append(e.path)  # no usable stats → never provably untouched
            continue
        testable.append((e.path, mn, mx, bl))
    if not testable:
        return touched, -1
    spark = winners.sparkSession
    # bitmaps decode on the executor (decoded numpy arrays don't pickle any
    # smaller than their base64 source); ~1.2 bytes/row of bloom per file
    bc = spark.sparkContext.broadcast([(mn, mx, bl) for _, mn, mx, bl in testable])

    def probe(batches):
        import numpy as np
        import pandas as pd

        from ..functions.bloom import _hash_values, bloom_from_stats, bloom_might_contain

        meta = [
            (mn, mx, bloom_from_stats(bl) if bl else None) for mn, mx, bl in bc.value
        ]
        hits = np.zeros(len(meta), dtype=bool)
        n = 0
        for pdf in batches:
            n += len(pdf)
            nn = pdf["__s"].notna().to_numpy()
            if not nn.any():
                continue
            raw = pdf["__k"].to_numpy()[nn]
            h1 = _hash_values(pdf["__s"].to_numpy()[nn])
            for j, (mn, mx, bmk) in enumerate(meta):
                if hits[j]:
                    continue  # already a candidate — skip further probes
                sel = np.ones(len(raw), dtype=bool)
                if mn is not None and mx is not None:
                    try:
                        sel = (raw >= mn) & (raw <= mx)
                    except TypeError:
                        pass  # stats form not comparable to the Arrow dtype
                if not sel.any():
                    continue
                if bmk is None:
                    hits[j] = True
                else:
                    bits, m, k = bmk
                    if bool(bloom_might_contain(bits, m, k, None, h1=h1[sel]).any()):
                        hits[j] = True
        idx = np.flatnonzero(hits)
        yield pd.DataFrame(
            {
                "idx": np.append(idx, np.int64(-1)),
                "n": np.append(np.zeros(len(idx), dtype=np.int64), np.int64(n)),
            }
        )

    try:
        rows = (
            winners.select(
                F.col(k0).alias("__k"), F.col(k0).cast("string").alias("__s")
            )
            .mapInPandas(probe, "idx long, n long")
            .groupBy("idx")
            .agg(F.sum("n").alias("n"))
            .collect()
        )
    finally:
        # one merge per micro-batch in the streaming daemon: without this the
        # per-merge bitmap broadcasts accumulate for the session's lifetime
        bc.unpersist()
        bc.destroy()
    n_winners = 0
    for r in rows:
        if r["idx"] == -1:
            n_winners = int(r["n"])
        else:
            touched.append(testable[int(r["idx"])][0])
    return touched, n_winners


def _estimate_row_bytes(df: DataFrame) -> float:
    """Average serialized row size of a (cached) DataFrame: measured lengths
    of the variable-width columns plus a fixed per-column overhead. One cheap
    agg over the cache — no sampling bias, no collect of payload rows."""
    from pyspark.sql import types as T

    var_cols = [
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, (T.BinaryType, T.StringType))
    ]
    fixed = 16.0 * len(df.schema.fields)
    if not var_cols:
        return fixed
    total = None
    for c in var_cols:
        term = F.coalesce(F.length(F.col(c)).cast("double"), F.lit(0.0))
        total = term if total is None else total + term
    row = df.select(F.avg(total).alias("b")).collect()[0]
    return float(row["b"] or 0.0) + fixed


def _rewrite(
    table: IcepackTable,
    target: DataFrame,
    winners: DataFrame,
    *,
    inserts_key: str | list[str],
    rewrite_mode: str,
    small_batch: bool,
    n_winners: int,
    batch_bytes: float,
    touched_bytes: int,
    target_rows_per_file: int | None,
):
    """Stage the merged data files (split or range mode); returns entries."""
    keys = [inserts_key] if isinstance(inserts_key, str) else list(inserts_key)
    kcols = [F.col(c) for c in keys]
    if rewrite_mode == "split":
        # Zero-shuffle rewrite (the common CDC case: small batch, big table):
        # one job reads every touched file at its natural splits, resolves
        # updates/deletes against ONE broadcast of the winners, and writes
        # one output file per split — the pixel bytes NEVER cross an
        # exchange. Updates keep their key, so each output file's key range
        # is a subset of its input's and future pruning still works. Inserts
        # (small) get their own range-partitioned, sorted files. Output
        # splits track spark.sql.files.maxPartitionBytes; small outputs are
        # compaction's job (and the reference's own dominant failure mode —
        # which this engine compacts natively).
        resolved, inserts = apply_winners_split(target, winners, keys)
        added = table.write_data_files(resolved)  # zero-row splits dropped+unlinked
        if target_rows_per_file:
            n_ins_files = max(1, math.ceil(n_winners / target_rows_per_file))
        else:
            n_ins_files = max(1, round(batch_bytes / table.DEFAULT_TARGET_FILE_BYTES))
        ins_df = inserts.repartitionByRange(n_ins_files, *kcols).sortWithinPartitions(*keys)
        added += table.write_data_files(ins_df)
        return added
    merged = apply_winners(target, winners, keys, broadcast_source=small_batch)
    # Range-partition the rewrite on the key and sort within partitions:
    # each output file then covers a tight, disjoint [min,max] key range,
    # so the NEXT merge's manifest pruning touches only the files a
    # batch's keys actually land in. A plain hash write would give every
    # file the full key range and defeat pruning forever.
    if target_rows_per_file:
        num_files = max(1, math.ceil(n_winners / target_rows_per_file))
    else:
        num_files = max(1, round(touched_bytes / table.DEFAULT_TARGET_FILE_BYTES)) or 1
    merged = merged.repartitionByRange(num_files, *kcols).sortWithinPartitions(*keys)
    return table.write_data_files(merged)


def merge_into_table(
    table: IcepackTable,
    batch: DataFrame,
    key: str | list[str] = "image_id",
    broadcast_bytes_threshold: int = 256 * 1024 * 1024,
    target_rows_per_file: int | None = None,
    job_id: str | None = None,
    rewrite_mode: str = "auto",
    schema_evolution: str = "merge",
) -> int | None:
    """Apply one CDC change batch; returns the committed version (None if
    the batch was empty).

    The broadcast-vs-sort-merge decision is BYTE-based: deduped-winner count
    times the measured average row size against ``broadcast_bytes_threshold``
    (default 256 MB — what every executor must hold). A row-count threshold
    (round 1 used 2M rows) is wrong for wide payloads: 2M image rows at
    ~12 KB each would be a ~24 GB broadcast.

    ``key`` may be a list for COMPOSITE primary keys (the reference's
    multi-PK equi-join, MergeQueries.scala:91-101 via TableMetadata
    primary_keys): LWW dedup, the resolve join, and the range-partitioned
    rewrite all run on the full key tuple; manifest pruning tests the first
    key column (sound — see prune_candidates)."""
    keys = [key] if isinstance(key, str) else list(key)
    parent = table.head_version()
    # A CoW merge rewrites touched data files with a fresh data-sequence
    # stamp (un-shadowing rows a pending equality-delete file killed) and
    # re-files rows (stranding a positional delete's (file, pos) refs) —
    # apply pending deletes of either kind first, same guard as
    # compact()/cluster_table().
    if any(e.content != "data" for e in table.files(parent)):
        from .mor import apply_deletes

        apply_deletes(table)
        parent = table.head_version()
    journal = LineageJournal(table.root, job_id or f"merge-{uuid.uuid4().hex[:12]}")

    winners = latest_by_keys(batch, keys, [TS_COL, SEQ_COL]).cache()

    # ---- dedup count + manifest pruning, ONE fused job (prune_candidates,
    # shared with the merge-on-read path) ----------------------------------
    entries = table.files(parent)
    touched_paths, n_winners = prune_candidates(entries, winners, keys)
    if n_winners < 0:
        n_winners = winners.count()
    if n_winners == 0:
        return None  # ST6 empty-batch short-circuit

    # Schema evolution before resolution, so the rewrite carries new columns.
    payload_schema = batch.drop("change_type", "is_deleted", TS_COL, SEQ_COL).schema
    table.evolve_schema(payload_schema, strategy=schema_evolution)

    touched_bytes = sum(e.bytes for e in entries if e.path in set(touched_paths))
    # Size input splits to the rewrite volume (~2 per core): after compaction
    # the touched set may be a couple of ~512 MB files, and at the default
    # 128 MB maxPartitionBytes the decode + join-resolve + encode + write
    # pipeline would run on a handful of tasks — parallelism-starved, not
    # I/O-bound. Both the read and its write action stay inside the context.
    with rewrite_sized_splits(table.spark, touched_bytes):
        if touched_paths:
            paths = [table.data_path(p) for p in touched_paths]
            target = table.spark.read.schema(table.schema()).parquet(*paths)
        else:
            target = empty_frame(table.spark, table.schema())

        batch_bytes = n_winners * _estimate_row_bytes(winners)
        small_batch = batch_bytes <= broadcast_bytes_threshold
        if rewrite_mode == "auto":
            rewrite_mode = "split" if small_batch else "range"

        added = _rewrite(
            table,
            target,
            winners,
            inserts_key=keys,
            rewrite_mode=rewrite_mode,
            small_batch=small_batch,
            n_winners=n_winners,
            batch_bytes=batch_bytes,
            touched_bytes=touched_bytes,
            target_rows_per_file=target_rows_per_file,
        )
    journal.log_task(
        stage="merge",
        task_id="batch",
        files_in=touched_paths,
        files_out=[e.path for e in added],
        rows_in=n_winners,
        rows_out=sum(e.rows for e in added),
    )
    version = table.commit(
        "merge",
        added=added,
        removed_paths=touched_paths,
        expected_parent=table.head_version(),
        summary={
            "batch_winners": n_winners,
            "touched_files": len(touched_paths),
            "rewrite_mode": rewrite_mode,
            "batch_bytes_est": int(batch_bytes),
            # lets table_changes (operators/changes.py) reconstruct the
            # row-level change feed for this commit without a key argument
            "keys": keys,
        },
    )
    journal.log_commit(version)
    winners.unpersist()
    return version
