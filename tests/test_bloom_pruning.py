"""Per-file key Bloom filters (functions/bloom.py) + manifest-level MERGE
pruning through them (``IcepackTable.prune_by_keys``).

Why this exists: min/max footer stats prune candidate files only when the
layout is range-clustered on the merge key. A freshly ingested table is
time-ordered — every file's key range spans the whole domain — so range
pruning keeps 100% of files even for a batch that touches 2 of them. The
bloom path must (a) never produce a false negative (that would merge
wrongly), (b) actually skip untouched files where ranges cannot, and
(c) yield bit-identical merge results to the range path.
"""

import copy
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from datastream_deltalake_connector_spark.functions.bloom import (
    _hash_values,
    bloom_from_stats,
    bloom_might_contain,
    build_bloom,
)
from datastream_deltalake_connector_spark.operators.dedup import latest_by_keys
from datastream_deltalake_connector_spark.operators.table_merge import (
    merge_into_table,
)
from datastream_deltalake_connector_spark.table import IcepackTable


def _prune(entries, winners, key, schema):
    kept, n, _ = IcepackTable.prune_by_keys(entries, winners, [key], schema)
    return [e.path for e in kept], n


# ------------------------------------------------------------------ unit
def test_bloom_no_false_negatives_and_fpp():
    keys = np.array([f"img-{i:08d}" for i in range(5000)], dtype=object)
    bits, m, k = bloom_from_stats(build_bloom(keys))
    assert bloom_might_contain(bits, m, k, keys).all()  # FN impossible
    probe = np.array([f"zzz-{i:08d}" for i in range(20000)], dtype=object)
    assert bloom_might_contain(bits, m, k, probe).mean() < 0.02  # ~1% target
    # sizing: ~1.2 bytes/key at 1% fpp
    assert len(bits) < 5000 * 1.5


def test_bloom_hash_canonical_across_dtypes():
    """The build side hashes pyarrow-read values (int64 / object / unicode);
    the query side hashes Spark CAST(key AS STRING) batches where nulls have
    coerced int64 to float64 upstream. All must collide on the same bits —
    a dtype-sensitive hash would be a silent false NEGATIVE (wrong merge)."""
    ints = _hash_values(np.array([5, 17, 123456789], dtype=np.int64))
    strs = _hash_values(np.array(["5", "17", "123456789"], dtype=object))
    unis = _hash_values(np.array(["5", "17", "123456789"]))  # dtype <U
    assert ints.tolist() == strs.tolist() == unis.tolist()


def test_bloom_empty_and_single():
    bits, m, k = bloom_from_stats(build_bloom(np.array([], dtype=object)))
    assert not bloom_might_contain(bits, m, k, np.array(["x"], dtype=object)).any()
    bits, m, k = bloom_from_stats(build_bloom(np.array(["only"], dtype=object)))
    assert bloom_might_contain(bits, m, k, np.array(["only"], dtype=object)).all()


# ------------------------------------------------------- table integration
TS = "datastream_metadata_source_timestamp"
SEQ = "datastream_metadata_change_seq"


def _base(spark, n=8000):
    return (
        spark.range(0, n)
        .select(
            F.concat(
                F.lit("img-"), F.lpad(F.col("id").cast("string"), 8, "0")
            ).alias("image_id"),
            (F.col("id") % 100).cast("int").alias("v"),
            F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias(TS),
            F.lit(0).cast("long").alias(SEQ),
        )
        # hash round-robin: every file's (min,max) image_id range spans the
        # whole key domain — the ingest-ordered layout ranges cannot prune
        .repartition(16)
    )


def _batch(spark, ids, deleted=False):
    return spark.createDataFrame(
        [(f"img-{i:08d}",) for i in ids], ["image_id"]
    ).select(
        "image_id",
        F.lit(999).cast("int").alias("v"),
        F.lit("UPSERT").alias("change_type"),
        F.lit(deleted).alias("is_deleted"),
        F.to_timestamp(F.lit("2024-06-01 00:00:00")).alias("source_timestamp"),
        F.lit(1).cast("long").alias("change_seq"),
    )


@pytest.fixture()
def bloomed(spark, tmp_path):
    t = IcepackTable.create(
        spark,
        str(tmp_path / "bloomed"),
        _base(spark).schema,
        bloom_cols=["image_id"],
    )
    t.append(_base(spark), num_files=16)
    return t


def test_footer_blooms_written_and_roundtrip(bloomed):
    entries = bloomed.files()
    assert len(entries) == 16
    for e in entries:
        bl = e.stats["image_id"]["bloom"]
        assert set(bl) == {"m", "k", "b64"}
        bits, m, k = bloom_from_stats(bl)  # JSON manifest round-trip decodes
        assert m == len(bits) * 8 and k >= 1


def test_bloom_prunes_where_ranges_cannot(spark, bloomed):
    entries = bloomed.files()
    winners = latest_by_keys(
        _batch(spark, [100, 4100]), ["image_id"], ["source_timestamp", "change_seq"]
    )
    paths, n = _prune(entries, winners, "image_id", bloomed.schema())
    assert n == 2
    # 2 keys over 16 full-range files: ranges keep all 16, blooms keep ≤ a few
    stripped = copy.deepcopy(entries)
    for e in stripped:
        e.stats["image_id"].pop("bloom")
    rpaths, rn = _prune(stripped, winners, "image_id", bloomed.schema())
    assert rn == 2 and len(rpaths) == 16
    assert set(paths) <= set(rpaths)
    assert len(paths) <= 4  # 2 true files + bounded false positives


def test_bloom_merge_matches_rangeonly_twin(spark, tmp_path, bloomed):
    twin = IcepackTable.create(
        spark, str(tmp_path / "plain"), _base(spark).schema
    )
    twin.append(_base(spark), num_files=16)
    ids = [0, 7, 4321, 7999, 9001]  # 9001 = pure insert
    for t in (bloomed, twin):
        assert merge_into_table(t, _batch(spark, ids), key="image_id") is not None
    state = lambda t: sorted(
        (r["image_id"], r["v"]) for r in t.scan().select("image_id", "v").collect()
    )
    s = state(bloomed)
    assert s == state(twin)
    assert len(s) == 8001
    assert dict(s)["img-00009001"] == 999
    # the bloomed merge rewrote a SUBSET of the files the range merge did
    assert bloomed.snapshot().summary["removed_files"] <= twin.snapshot().summary[
        "removed_files"
    ]


def test_bloom_prune_counts_null_keys(spark, bloomed):
    b = _batch(spark, [50]).unionByName(
        _batch(spark, [60]).withColumn("image_id", F.lit(None).cast("string"))
    )
    winners = latest_by_keys(b, ["image_id"], ["source_timestamp", "change_seq"])
    paths, n = _prune(bloomed.files(), winners, "image_id", bloomed.schema())
    assert n == 2  # null key counts as a winner, matches no file
    assert len(paths) <= 3


def test_bloom_int_keys(spark, tmp_path):
    base = (
        spark.range(0, 4000)
        .select(
            F.col("id").alias("user_id"),
            (F.col("id") % 7).cast("int").alias("v"),
            F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias(TS),
            F.lit(0).cast("long").alias(SEQ),
        )
        .repartition(8)
    )
    t = IcepackTable.create(
        spark, str(tmp_path / "ints"), base.schema, bloom_cols=["user_id"]
    )
    t.append(base, num_files=8)
    batch = spark.createDataFrame([(13,), (2900,)], ["user_id"]).select(
        "user_id",
        F.lit(42).cast("int").alias("v"),
        F.lit("UPSERT").alias("change_type"),
        F.lit(False).alias("is_deleted"),
        F.to_timestamp(F.lit("2024-06-01 00:00:00")).alias("source_timestamp"),
        F.lit(1).cast("long").alias("change_seq"),
    )
    winners = latest_by_keys(batch, ["user_id"], ["source_timestamp", "change_seq"])
    paths, n = _prune(t.files(), winners, "user_id", t.schema())
    assert n == 2 and len(paths) <= 3
    merge_into_table(t, batch, key="user_id")
    got = dict(
        (r["user_id"], r["v"]) for r in t.scan().select("user_id", "v").collect()
    )
    assert got[13] == 42 and got[2900] == 42 and got[14] == 0


def test_bloom_skipped_for_unsupported_key_types(spark, tmp_path):
    """bloom_cols naming a timestamp column is ignored (string/int only —
    the canonical-string hash contract), and a column missing from the file
    is ignored; min/max pruning still works untouched."""
    base = _base(spark, n=500)
    t = IcepackTable.create(
        spark,
        str(tmp_path / "unsup"),
        base.schema,
        bloom_cols=[TS, "missing_col", "image_id"],
    )
    t.append(base, num_files=2)
    for e in t.files():
        assert "bloom" in e.stats["image_id"]
        assert "bloom" not in e.stats.get(TS, {})
        assert "missing_col" not in e.stats or "bloom" not in e.stats["missing_col"]


def test_bloom_mor_merge_uses_pruning(spark, tmp_path):
    """The MoR merge shares prune_by_keys: a sparse batch against a
    bloomed unclustered table reads (key, ts) of a file SUBSET for its
    replay guard, and the resolved scan still matches expectations."""
    from datastream_deltalake_connector_spark.operators.mor import (
        apply_deletes,
        merge_into_table_mor,
    )

    t = IcepackTable.create(
        spark,
        str(tmp_path / "mor"),
        _base(spark).schema,
        bloom_cols=["image_id"],
    )
    t.append(_base(spark), num_files=16)
    assert merge_into_table_mor(t, _batch(spark, [3, 4444]), key="image_id") is not None
    assert t.snapshot().summary["candidate_files"] <= 4  # pruned, not 16
    got = dict(
        (r["image_id"], r["v"]) for r in t.scan().select("image_id", "v").collect()
    )
    assert len(got) == 8000 and got["img-00000003"] == 999 and got["img-00004444"] == 999
    apply_deletes(t)
    got2 = dict(
        (r["image_id"], r["v"]) for r in t.scan().select("image_id", "v").collect()
    )
    assert got2 == got


def test_connector_target_created_with_blooms(spark, tmp_path):
    """DELTA_BLOOM_FILTERS plumbing: the streaming connector's target-table
    factory creates the merged table with bloom_cols = the CDC primary keys,
    so every appended/merged data file carries the merge key's bloom."""
    from pyspark.sql import types as T

    from datastream_deltalake_connector_spark.sources.cdc import TableMetadata
    from datastream_deltalake_connector_spark.streaming.ingest import (
        _load_or_create_target,
    )

    meta = TableMetadata(
        source_type="datastream",
        table="imgs",
        database=None,
        primary_keys=["image_id"],
        order_by=["source_timestamp"],
        payload_schema=T.StructType(
            [
                T.StructField("image_id", T.StringType()),
                T.StructField("caption", T.StringType()),
            ]
        ),
    )
    t, _ = _load_or_create_target(
        spark, str(tmp_path / "wh"), "imgs", meta, bloom_filters=True
    )
    assert t.bloom_cols() == ["image_id"]
    t2, _ = _load_or_create_target(
        spark, str(tmp_path / "wh2"), "imgs", meta, bloom_filters=False
    )
    assert t2.bloom_cols() == []


def test_delete_hit_candidates_name_exact_files(spark, tmp_path):
    """apply_deletes / MoR-scan candidate selection: a positional-delete
    file names exactly the files holding a replaced row, with or without
    Bloom filters — the range answer on this arrival-ordered layout would
    be ALL 16 files — and never the merge's own output files."""
    from datastream_deltalake_connector_spark.operators.mor import (
        apply_deletes,
        merge_into_table_mor,
    )

    def mk(name, bloom):
        t = IcepackTable.create(
            spark,
            str(tmp_path / name),
            _base(spark).schema,
            bloom_cols=["image_id"] if bloom else None,
        )
        t.append(_base(spark), num_files=16)
        merge_into_table_mor(t, _batch(spark, [123, 6500]), key="image_id")
        return t

    tb, tp = mk("b", True), mk("p", False)
    hits = {}
    for t in (tb, tp):
        data = [e for e in t.files() if e.content == "data"]
        dels = [e for e in t.files() if e.content == "pos_deletes"]
        hits[t.root] = t.delete_hit_candidates(data, dels)
        newest = max(d.seq for d in dels)
        assert all(e.path not in hits[t.root] for e in data if e.seq == newest)
        assert 1 <= len(hits[t.root]) <= 2  # the files holding 123 and 6500

    state = lambda t: sorted(
        (r["image_id"], r["v"]) for r in t.scan().select("image_id", "v").collect()
    )
    assert state(tb) == state(tp)
    apply_deletes(tb)
    apply_deletes(tp)
    assert state(tb) == state(tp)
    # each table paid a rewrite of only the named files
    for t in (tb, tp):
        assert t.snapshot().summary["rewritten_files"] == len(hits[t.root])


def test_point_lookup_scan_bloom_pruned(spark, bloomed):
    """scan(filters=[(key,'=',v)]) on the arrival-ordered layout: min/max
    keeps all 16 files (every range spans the domain), the bloom keeps only
    the file(s) that might contain the key — a manifest-level point read."""
    entries = bloomed.files()
    target = "img-00003000"
    kept = [e for e in entries if e.may_match("image_id", "=", target)]
    assert 1 <= len(kept) <= 2  # 1 true file + bounded false positives
    rows = bloomed.scan(filters=[("image_id", "=", target)]).collect()
    assert [r["image_id"] for r in rows] == [target]
    # absent key: possibly zero files survive, and the scan returns nothing
    rows = bloomed.scan(filters=[("image_id", "=", "img-99999999")]).collect()
    assert rows == []
    # nulls never probe the bloom (built null-free): no file is pruned
    assert all(e.may_match("image_id", "=", None) for e in entries)


def test_in_filter_scan_bloom_pruned(spark, bloomed):
    """IN-list scans: manifest pruning unions the per-member verdicts
    (range + bloom per member), and the Spark-side isin predicate returns
    exactly the requested keys."""
    keys = ["img-00000005", "img-00007500"]
    kept = [e for e in bloomed.files() if e.may_match("image_id", "in", keys)]
    assert 1 <= len(kept) <= 4
    rows = bloomed.scan(filters=[("image_id", "in", keys)]).collect()
    assert sorted(r["image_id"] for r in rows) == keys
    # all-absent IN-list prunes to nothing
    assert bloomed.scan(filters=[("image_id", "in", ["zz-1", "zz-2"])]).count() == 0


def test_bloom_build_on_executor_fanout_path(spark, tmp_path):
    """Large commits collect footer stats via sc.parallelize on executors
    (collect_file_entries use_executors=True); the bloom build must work
    there too — the map function imports functions.bloom on the worker and
    returns JSON-safe stats only."""
    t = IcepackTable.create(
        spark, str(tmp_path / "fan"), _base(spark, n=600).schema,
        bloom_cols=["image_id"],
    )
    staged = t.write_data_files(_base(spark, n=600), num_files=12)
    stage_rel = "/".join(staged[0].path.split("/")[:2])  # data/<uuid>
    entries = t.collect_file_entries(stage_rel, use_executors=True)
    assert len(entries) == 12
    assert all(e.stats["image_id"].get("bloom") for e in entries)
    # identical stats to the driver path
    driver = {e.path: e.stats for e in t.collect_file_entries(stage_rel, use_executors=False)}
    assert all(driver[e.path] == e.stats for e in entries)


def test_describe_reports_bloom_coverage(spark, tmp_path, bloomed):
    assert bloomed.describe()["bloom_files"] == 16
    plain = IcepackTable.create(spark, str(tmp_path / "nb"), _base(spark, 500).schema)
    plain.append(_base(spark, 500), num_files=2)
    assert plain.describe()["bloom_files"] == 0


def test_point_lookup_composes_with_pending_mor_deletes(spark, tmp_path):
    """scan(filters=[('=',key)]) on a table with PENDING equality deletes:
    manifest pruning (range+bloom) selects files first, then the anti-join
    resolves shadowed rows — a deleted key returns nothing, an updated key
    returns exactly its new value, an untouched key its original."""
    from datastream_deltalake_connector_spark.operators.mor import (
        merge_into_table_mor,
    )

    t = IcepackTable.create(
        spark,
        str(tmp_path / "pl-mor"),
        _base(spark).schema,
        bloom_cols=["image_id"],
    )
    t.append(_base(spark), num_files=16)
    batch = _batch(spark, [111]).unionByName(_batch(spark, [222], deleted=True))
    merge_into_table_mor(t, batch, key="image_id")
    assert t.describe()["delete_files"] >= 1  # resolution path live

    lookup = lambda i: t.scan(
        filters=[("image_id", "=", f"img-{i:08d}")]
    ).select("image_id", "v").collect()
    upd = lookup(111)
    assert [(r["image_id"], r["v"]) for r in upd] == [("img-00000111", 999)]
    assert lookup(222) == []  # tombstoned
    untouched = lookup(333)
    assert [(r["image_id"], r["v"]) for r in untouched] == [("img-00000333", 33)]


def test_may_match_bloom_type_guard(spark, tmp_path):
    """ADVICE r4: a numerically-equal but type-mismatched '=' probe (42.0
    against an int bloom column) must NOT consult the bloom — str(42.0)
    hashes "42.0" vs the stored canonical "42" and would falsely prune.
    Out-of-contract types fall through to the conservative range answer."""
    base = (
        spark.range(0, 400)
        .select(
            F.col("id").alias("user_id"),
            (F.col("id") % 7).cast("int").alias("v"),
            F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias(TS),
            F.lit(0).cast("long").alias(SEQ),
        )
        .repartition(2)
    )
    t = IcepackTable.create(
        spark, str(tmp_path / "guard"), base.schema, bloom_cols=["user_id"]
    )
    t.append(base, num_files=2)
    entries = t.files()
    # int probe (in-contract): bloom engages, key 13 exists somewhere
    assert any(e.may_match("user_id", "=", 13) for e in entries)
    # float / numpy-scalar probes must never FALSELY prune a file whose
    # range contains the value (bloom bypassed, range decides)
    for probe in (13.0, np.float64(13.0)):
        kept = [e for e in entries if e.may_match("user_id", "=", probe)]
        in_range = [
            e
            for e in entries
            if e.stats["user_id"]["min"] <= 13 <= e.stats["user_id"]["max"]
        ]
        assert in_range and {id(e) for e in in_range} <= {id(e) for e in kept}
    # bool (a subclass of int) is outside the canonical-hash contract too:
    # range decides (True == 1), never the bloom
    kept = [e for e in entries if e.may_match("user_id", "=", True)]
    assert any(
        e.stats["user_id"]["min"] <= 1 <= e.stats["user_id"]["max"] for e in kept
    )
