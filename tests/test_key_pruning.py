"""Key-set pruning: the CDC merges and generic MERGE find their candidate
files through ``IcepackTable.prune_by_keys``, i.e. through ``prune_files``
with one ``in`` filter per key column — ranges, Bloom filters and partition
transforms, on every key column."""

from __future__ import annotations

import hashlib
import random

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datastream_deltalake_connector_spark.functions.bloom import (
    bloom_from_stats,
    bloom_might_contain,
)
from datastream_deltalake_connector_spark.operators.generic_merge import merge_into
from datastream_deltalake_connector_spark.operators.mor import merge_into_table_mor
from datastream_deltalake_connector_spark.operators.table_merge import (
    merge_into_table,
)
from datastream_deltalake_connector_spark.table import IcepackTable
from datastream_deltalake_connector_spark.table.icepack import FileEntry, _json_safe
from datastream_deltalake_connector_spark.table.transforms import Transform

TS = "datastream_metadata_source_timestamp"
SEQ = "datastream_metadata_change_seq"


def _rows_df(spark, n):
    return spark.range(0, n).select(
        "id",
        (F.col("id") % 7).cast("int").alias("v"),
        F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias(TS),
        F.lit(0).cast("long").alias(SEQ),
    )


def _spread(spark, path, n=400, num_files=4, **create):
    """Round-robin files: every file's id range spans the key domain."""
    df = _rows_df(spark, n)
    t = IcepackTable.create(spark, path, df.schema, **create)
    t.append(df, num_files=num_files)
    return t


def _clustered(spark, path, n=400, num_files=4):
    """One file per contiguous id slice: ranges prune exactly."""
    df = _rows_df(spark, n)
    t = IcepackTable.create(spark, path, df.schema)
    step = n // num_files
    for lo in range(0, n, step):
        t.append(df.where((F.col("id") >= lo) & (F.col("id") < lo + step)), num_files=1)
    return t


def _batch(spark, ids, deleted=False):
    return spark.createDataFrame([(i,) for i in ids], "id long").select(
        "id",
        F.lit(42).cast("int").alias("v"),
        F.lit("UPSERT").alias("change_type"),
        F.lit(deleted).alias("is_deleted"),
        F.to_timestamp(F.lit("2024-06-01 00:00:00")).alias("source_timestamp"),
        F.lit(1).cast("long").alias("change_seq"),
    )


def _state(t):
    return sorted((r["id"], r["v"]) for r in t.scan().select("id", "v").collect())


def test_cdc_mor_merge_reads_only_the_touched_buckets(spark, tmp_path):
    """On a bucket(4, id) table the candidate set is the touched buckets'
    files, beyond what the files' id ranges prove."""
    t = _spread(spark, str(tmp_path / "bkt"), partition_by=["bucket(4, id)"])
    bkt = Transform("bucket", "id", 4)
    ids = [i for i in range(150, 250) if bkt.value(i) == bkt.value(150)][:2]
    ranged = [e for e in t.files() if e.may_match("id", "in", ids)]
    touched = [e for e in ranged if e.partition[bkt.pname] == bkt.value(ids[0])]
    assert 0 < len(touched) < len(ranged)

    assert merge_into_table_mor(t, _batch(spark, ids), key="id") is not None
    assert t.snapshot().summary["candidate_files"] == len(touched)
    got = dict(_state(t))
    assert len(got) == 400 and all(got[i] == 42 for i in ids)


def test_generic_merge_prunes_by_bloom_where_bounds_cannot(spark, tmp_path):
    """A Bloom-keyed, hash-ordered table: the source keys' bounds keep
    every file, the Bloom filters keep only the few that may hold them."""
    t = _spread(spark, str(tmp_path / "bl"), n=4000, num_files=16, bloom_cols=["id"])
    data = t.files()
    assert all(e.may_match("id", "between", (1000, 3000)) for e in data)

    src = spark.createDataFrame([(1000, 9), (3000, 9)], "id long, v int")
    rep = merge_into(
        t,
        src,
        "id",
        matched=[{"action": "update", "condition": None, "set": {"v": "s.v"}}],
    )
    assert rep["rows_updated"] == 2
    assert rep["files_pruned"] >= len(data) - 4 and rep["files_probed"] <= 4
    got = dict(_state(t))
    assert got[1000] == 9 and got[3000] == 9 and got[1001] == 1001 % 7


def test_composite_key_merge_prunes_on_its_second_column(spark, tmp_path):
    """Every file holds the one value of the first key column, so only the
    second column can prune — and it does."""
    t = IcepackTable.create(
        spark,
        str(tmp_path / "ck"),
        _rows_df(spark, 1).withColumn("tenant", F.lit("x")).schema,
    )
    for lo in range(0, 400, 100):
        t.append(
            _rows_df(spark, 400)
            .where((F.col("id") >= lo) & (F.col("id") < lo + 100))
            .withColumn("tenant", F.lit("x")),
            num_files=1,
        )
    batch = _batch(spark, [10, 20]).withColumn("tenant", F.lit("x"))
    assert merge_into_table(t, batch, key=["tenant", "id"]) is not None
    assert t.snapshot().summary["touched_files"] == 1
    got = dict(_state(t))
    assert len(got) == 400 and got[10] == 42 and got[20] == 42 and got[30] == 30 % 7


def test_generic_merge_keeps_the_range_layout(spark, tmp_path):
    """A MERGE updating keys in every file of a range-clustered table keeps
    each file's key range: no output file spans the table, so a later
    single-key merge still prunes."""
    t = _clustered(spark, str(tmp_path / "rl"), n=400, num_files=8)
    ids = list(range(0, 400, 10)) + [399]
    src = spark.createDataFrame([(i, 9) for i in ids], "id long, v int")
    rep = merge_into(
        t, src, "id", matched=[{"action": "update", "condition": None, "set": {"v": "s.v"}}]
    )
    assert rep["rows_updated"] == 41 and rep["files_rewritten"] == 8
    data = t.files()
    assert all(e.stats["id"]["max"] - e.stats["id"]["min"] < 399 for e in data)
    kept, _, _ = t.prune_by_keys(data, spark.createDataFrame([(5,)], "id long"), ["id"], t.schema())
    assert len(kept) < len(data)
    got = dict(_state(t))
    assert len(got) == 400 and all(got[i] == 9 for i in ids) and got[1] == 1


def test_cdc_insert_only_batch_rewrites_no_file(spark, tmp_path):
    """New keys that fall inside the files' ranges but in none of the
    files: the CoW CDC merge appends them and rewrites nothing."""
    df = _rows_df(spark, 400).where(F.col("id") % 2 == 0)
    t = IcepackTable.create(spark, str(tmp_path / "io"), df.schema)
    for lo in range(0, 400, 40):
        t.append(df.where((F.col("id") >= lo) & (F.col("id") < lo + 40)), num_files=1)
    before = {e.path for e in t.files()}
    ids = [1 + 20 * i for i in range(20)]
    assert merge_into_table(t, _batch(spark, ids), key="id") is not None
    assert t.snapshot().summary["touched_files"] == 0
    assert before <= {e.path for e in t.files()}
    got = dict(_state(t))
    assert len(got) == 220 and all(got[i] == 42 for i in ids)


@pytest.mark.parametrize("merge", [merge_into_table, merge_into_table_mor])
def test_key_sets_past_the_cap_prune_on_the_executors(spark, tmp_path, monkeypatch, merge):
    """Past KEY_PROBE_MAX_ROWS the executors apply the same filters per
    Arrow batch: the same rows, winner count and candidate files."""
    ids = [10, 20, 30, 1000]  # 1000 is an insert
    batch = _batch(spark, ids).unionByName(_batch(spark, [60], deleted=True))
    capped = _clustered(spark, str(tmp_path / "capped"))
    plain = _clustered(spark, str(tmp_path / "plain"))
    merge(plain, batch, key="id")
    monkeypatch.setattr(IcepackTable, "KEY_PROBE_MAX_ROWS", 1)
    merge(capped, batch, key="id")
    assert _state(capped) == _state(plain)
    assert capped.snapshot().summary["batch_winners"] == 5
    # bounds [10, 1000] exclude nothing here; the in-lists keep one file
    files = "touched_files" if merge is merge_into_table else "candidate_files"
    assert plain.snapshot().summary[files] == 1
    assert capped.snapshot().summary[files] == 1


def test_executor_pruning_keeps_bloom_and_partition_pruning(spark, tmp_path, monkeypatch):
    """On a Bloom-keyed hash-ordered table and on a bucket(4, id) table,
    key sets past the cap keep every file holding a key and no file the
    driver drops, and null keys still count. (Each batch tests ranges and
    partitions on its own keys, so it may keep fewer files.)"""
    tables = [
        _spread(spark, str(tmp_path / "bl"), n=4000, num_files=16, bloom_cols=["id"]),
        _spread(spark, str(tmp_path / "bk"), partition_by=["bucket(4, id)"]),
    ]
    keys = spark.createDataFrame(
        [(7,), (150,), (1000,), (3000,), (None,)], "id long"
    ).repartition(3)
    for t in tables:
        entries = t.files()
        want, n, _ = IcepackTable.prune_by_keys(entries, keys, ["id"], t.schema())
        assert n == 5 and 0 < len(want) < len(entries)
        with monkeypatch.context() as m:
            m.setattr(IcepackTable, "KEY_PROBE_MAX_ROWS", 1)
            got, n, _ = IcepackTable.prune_by_keys(entries, keys, ["id"], t.schema())
        assert n == 5
        rows = t.read_with_positions(entries, t.schema()).where(
            F.col("id").isin(7, 150, 1000, 3000)
        )
        holding = set(t.files_holding(entries, rows))
        assert holding <= {e.path for e in got} <= {e.path for e in want}


def test_in_list_partition_values_are_derived_once_per_transform(monkeypatch):
    """A large in-list is bucketed once per transform, not once per
    partition, and stops once every bucket is hit."""
    real = Transform.value
    calls = []
    monkeypatch.setattr(
        Transform, "value", lambda self, v: calls.append(v) or real(self, v)
    )
    entries = [
        FileEntry(
            path=f"id_bucket16={i % 16}/f{i}.parquet",
            bytes=1,
            rows=1,
            stats={"id": {"min": 0, "max": 10**9}},
            partition={"id_bucket16": str(i % 16)},
        )
        for i in range(64)
    ]
    schema = T.StructType([T.StructField("id", T.LongType())])
    keys = list(range(0, 70000, 7))
    assert len(IcepackTable.prune_files(entries, [("id", "in", keys)], schema)) == 64
    assert len(calls) < 500
    bkt = Transform("bucket", "id", 16)
    one = [k for k in keys if real(bkt, k) == "3"]
    calls.clear()
    kept = IcepackTable.prune_files(entries, [("id", "in", one)], schema)
    assert {e.partition["id_bucket16"] for e in kept} == {"3"} and len(kept) == 4
    assert len(calls) == len(one)


def _reference_candidates(entries, keys, col):
    """What the CDC merges' own range + Bloom pruning kept: a file without
    stats on ``col``, or one whose range holds a key its Bloom filter (if
    any) may contain."""
    out = []
    for e in entries:
        st = e.stats.get(col)
        if not st:
            out.append(e.path)
            continue
        lo, hi, bl = st.get("min"), st.get("max"), st.get("bloom")
        for k in keys:
            if lo is not None and hi is not None and not lo <= k <= hi:
                continue
            if bl is not None:
                bits, m, kk = bloom_from_stats(bl)
                if not bloom_might_contain(bits, m, kk, np.array([k], dtype=object)).all():
                    continue
            out.append(e.path)
            break
    return sorted(out)


@pytest.mark.parametrize("n_keys", [10, 60, 300])
def test_single_key_pruning_matches_range_and_bloom_reference(spark, tmp_path, n_keys):
    """On single-key, unpartitioned tables — Bloom-keyed and hash-ordered,
    or range-clustered without Bloom filters — prune_by_keys keeps exactly
    the files the range + Bloom test keeps."""
    df = spark.range(0, 16000).select(
        F.sha1(F.col("id").cast("string")).alias("k"), F.col("id").alias("n")
    )
    bloomed = IcepackTable.create(
        spark, str(tmp_path / "b"), df.schema, bloom_cols=["k"]
    )
    bloomed.append(df, num_files=16)
    ranged = IcepackTable.create(spark, str(tmp_path / "r"), df.schema)
    ranged.append(df.repartitionByRange(16, "k").sortWithinPartitions("k"))
    rng = random.Random(n_keys)
    # a few keys the table does not hold ride along
    ids = rng.sample(range(16000), n_keys) + list(range(16000, 16003))
    keys = [hashlib.sha1(str(i).encode()).hexdigest() for i in ids]
    keys_df = spark.createDataFrame([(k,) for k in keys], "k string")
    for t in (bloomed, ranged):
        entries = t.files()
        kept, n, _ = IcepackTable.prune_by_keys(entries, keys_df, ["k"], t.schema())
        assert n == len(keys)
        want = _reference_candidates(entries, keys, "k")
        assert sorted(e.path for e in kept) == want
        if n_keys == 10:
            assert len(want) < len(entries)


def _may_match_one(e, col, v):
    """A file may hold ``v`` unless its Bloom filter (asked only with a str
    or int probe of the column's own kind) or its range proves it cannot."""
    st = e.stats.get(col)
    if not st:
        return True
    lo, hi, bl = st.get("min"), st.get("max"), st.get("bloom")
    if (
        bl
        and isinstance(v, (str, int))
        and not isinstance(v, bool)
        and isinstance(v, str) == isinstance(lo, str)
    ):
        bits, m, k = bloom_from_stats(bl)
        if not bloom_might_contain(bits, m, k, np.array([v], dtype=object)).any():
            return False
    if lo is None or hi is None:
        return True
    try:
        return lo <= _json_safe(v) <= hi
    except TypeError:
        return True


def test_in_probe_matches_the_per_member_loop(spark, tmp_path):
    """The prepared ``in`` probe (members sorted and hashed once) gives the
    answer of probing each member alone, whatever the mix of types."""
    t = _spread(spark, str(tmp_path / "mix"), n=2000, num_files=8, bloom_cols=["id"])
    entries = t.files()
    rng = random.Random(7)
    pool = [
        lambda: rng.randrange(-50, 2100),
        lambda: str(rng.randrange(0, 2000)),
        lambda: rng.randrange(0, 2000) + 0.5,
        lambda: True,
        lambda: None,
    ]
    for trial in range(60):
        n = rng.randrange(0, 6)
        members = [rng.choice(pool[: 1 + trial % 5])() for _ in range(n)]
        for e in entries:
            want = [_may_match_one(e, "id", v) for v in members]
            assert e.may_match("id", "in", members) == any(want), members
            if members:
                assert e.may_match("id", "=", members[0]) == want[0], members
