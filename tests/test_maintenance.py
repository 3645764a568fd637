"""Maintenance invariants over the image+caption icepack table.

North_star gates: post-maintenance scans row-equivalent under decoded-pixel
PSNR≥40dB + caption equality; snapshot isolation for readers pinned
mid-compaction; lineage journal records per-partition files-in → files-out;
idempotent replay of change batches.
"""

from __future__ import annotations

import json
import os
import time

import pytest
from pyspark.sql import functions as F

from datastream_deltalake_connector_spark.functions.image import (
    PSNR_CAP_DB,
    phash_udf,
    psnr_udf,
)
from datastream_deltalake_connector_spark.operators.clustering import cluster
from datastream_deltalake_connector_spark.operators.compaction import (
    compact,
    plan_bins_ffd,
)
from datastream_deltalake_connector_spark.operators.expire import expire_snapshots
from datastream_deltalake_connector_spark.operators import generic_merge
from datastream_deltalake_connector_spark.operators.merge import merge_batch
from datastream_deltalake_connector_spark.operators.table_merge import merge_into_table
from datastream_deltalake_connector_spark.sources.generator import (
    MERGED_IMAGE_SCHEMA,
    generate_change_batch,
    generate_images,
)
from datastream_deltalake_connector_spark.table import FileEntry, IcepackTable
from datastream_deltalake_connector_spark.table.lineage import LineageJournal

N_BASE = 150


@pytest.fixture(scope="module")
def image_table(spark, tmp_path_factory):
    """Base table: N_BASE generated images merged in as the initial batch,
    appended as several small files (compaction fodder)."""
    root = str(tmp_path_factory.mktemp("icepack") / "images")
    t = IcepackTable.create(spark, root, MERGED_IMAGE_SCHEMA, stats_cols=[
        "image_id", "phash", "w", "h", "fmt",
        "datastream_metadata_source_timestamp", "datastream_metadata_change_seq",
    ])
    base = generate_images(spark, N_BASE, num_partitions=4).select(
        "*",
        F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias(
            "datastream_metadata_source_timestamp"
        ),
        F.lit(0).cast("long").alias("datastream_metadata_change_seq"),
    )
    t.append(base, num_files=6)
    return t


def scan_key_state(t, version=None):
    return sorted(
        (r["image_id"], r["caption"], r["phash"])
        for r in t.scan(version=version).select("image_id", "caption", "phash").collect()
    )


def test_merge_applies_change_batch(spark, image_table):
    t = image_table
    v0 = t.head_version()
    before = dict((k, (c, p)) for k, c, p in scan_key_state(t))
    batch = generate_change_batch(
        spark, N_BASE, batch_index=0, updates=20, inserts=10, deletes=8, num_partitions=4
    ).cache()
    v = merge_into_table(t, batch, target_rows_per_file=100)
    assert v is not None and v > v0

    # oracle: pure-DataFrame merge of the same batch over the same target
    expect = merge_batch(t.scan(version=v0), batch, ["image_id"])
    got_rows = scan_key_state(t)
    exp_rows = sorted(
        (r["image_id"], r["caption"], r["phash"])
        for r in expect.select("image_id", "caption", "phash").collect()
    )
    assert got_rows == exp_rows

    # deleted ids gone, inserted ids present
    batch_rows = batch.collect()
    after_ids = {k for k, _, _ in got_rows}
    for r in batch_rows:
        if r["change_type"] == "DELETE":
            assert r["image_id"] not in after_ids or any(
                b["image_id"] == r["image_id"]
                and not b["is_deleted"]
                and (b["source_timestamp"], b["change_seq"])
                > (r["source_timestamp"], r["change_seq"])
                for b in batch_rows
            )
        elif r["change_type"] == "INSERT":
            assert r["image_id"] in after_ids
    # pruning actually skipped files: summary recorded fewer touched than total
    summary = t.snapshot(v).summary
    assert "touched_files" in summary
    batch.unpersist()


def test_merge_idempotent_replay(spark, image_table):
    t = image_table
    batch = generate_change_batch(
        spark, N_BASE, batch_index=1, updates=10, inserts=5, deletes=3, num_partitions=4
    )
    merge_into_table(t, batch)
    state1 = scan_key_state(t)
    merge_into_table(t, batch)  # replay the identical batch
    assert scan_key_state(t) == state1


def test_split_and_range_rewrites_agree(spark, tmp_path, monkeypatch):
    """The MERGE executor's split emitter (zero-shuffle per-split rewrite)
    must produce the exact same table state as its range emitter, and its
    rewritten files must keep key ranges inside their inputs' (pruning
    stays sound)."""
    states = {}
    for mode, limit in (("split", 1 << 40), ("range", 0)):
        monkeypatch.setattr(generic_merge, "SPLIT_MAX_SOURCE_BYTES", limit)
        root = str(tmp_path / f"t-{mode}" / "images")
        t = IcepackTable.create(spark, root, MERGED_IMAGE_SCHEMA)
        base = generate_images(spark, 80, num_partitions=4).select(
            "*",
            F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias(
                "datastream_metadata_source_timestamp"
            ),
            F.lit(0).cast("long").alias("datastream_metadata_change_seq"),
        )
        # range-partitioned base files → real [min,max] pruning in the merge
        staged = base.repartitionByRange(4, F.col("image_id")).sortWithinPartitions(
            "image_id"
        )
        t.commit("append", added=t.write_data_files(staged), removed_paths=[])
        before = {e.path for e in t.files()}
        batch = generate_change_batch(
            spark, 80, batch_index=0, updates=20, inserts=8, deletes=6, num_partitions=4
        )
        v = merge_into_table(t, batch)
        assert t.snapshot(v).summary["rewrite_mode"] == mode
        states[mode] = scan_key_state(t)
        if mode == "split":
            span = lambda e: (e.stats["image_id"]["min"], e.stats["image_id"]["max"])  # noqa: E731
            after = t.files()
            inputs = [span(e) for e in t.files(v - 1) if e.path not in {a.path for a in after}]
            outputs = [span(e) for e in after if e.path not in before]
            # each rewritten input leaves an output inside its own key range
            # (insert files cover the batch's new keys and may lie anywhere)
            within = [o for o in outputs if any(lo <= o[0] and o[1] <= hi for lo, hi in inputs)]
            assert inputs and len(within) >= len(inputs)
    assert states["split"] == states["range"]


def test_compaction_scan_equivalent_and_fewer_files(spark, image_table):
    t = image_table
    # small-file fodder: four independent appends (e.g. micro-batch ingests)
    for i in range(4):
        extra = generate_images(spark, 30, seed=1000 + i, num_partitions=2).select(
            "*",
            F.to_timestamp(F.lit("2024-01-02 00:00:00")).alias(
                "datastream_metadata_source_timestamp"
            ),
            F.lit(0).cast("long").alias("datastream_metadata_change_seq"),
        )
        t.append(extra, num_files=1)
    before_files = len(t.files())
    assert before_files >= 4
    before = scan_key_state(t)
    v_before = t.head_version()
    v = compact(t, target_bytes=8 * 1024 * 1024)
    assert v is not None
    assert len(t.files()) < before_files
    assert scan_key_state(t) == before  # scan-equivalence

    # snapshot isolation: reader pinned on the pre-compaction version still
    # reads identical rows (files immutable, still on disk)
    assert scan_key_state(t, version=v_before) == before

    # pixel equivalence gate: every surviving row's bytes decode to the same
    # phash, and PSNR vs itself is exact
    check = (
        t.scan()
        .select("phash", phash_udf("bytes").alias("ph2"), psnr_udf("bytes", "bytes").alias("p"))
        .where(F.col("bytes").isNotNull())
    )
    bad = check.where((F.col("phash") != F.col("ph2")) | (F.col("p") < 40.0)).count()
    assert bad == 0

    # lineage journal recorded per-bin files-in/files-out and the commit
    jdir = os.path.join(t.root, "metadata", "lineage")
    jobs = [f for f in os.listdir(jdir) if f.startswith("compact-")]
    assert jobs
    j = LineageJournal(t.root, jobs[-1].removesuffix(".jsonl"))
    recs = j.records()
    assert any(r["stage"] == "compact-bin" for r in recs)
    assert any(r["stage"] == "commit" for r in recs)
    for r in recs:
        if r["stage"] == "compact-bin":
            assert r["rows_in"] == r["rows_out"]


@pytest.mark.parametrize("curve", ["zorder", "hilbert"])
def test_clustering_scan_equivalent(spark, image_table, curve):
    t = image_table
    before = scan_key_state(t)
    v = cluster(t, curve=curve, num_files=3)
    assert v == t.head_version()
    assert scan_key_state(t) == before
    # clustered files carry phash stats for pruning
    for e in t.files():
        assert e.stats.get("phash", {}).get("min") is not None


def test_expiry_reachability(spark, image_table):
    t = image_table
    head = t.head_version()
    current = scan_key_state(t)
    all_files_before = set()
    for s in t.snapshots():
        for e in t.files(s.version):
            all_files_before.add(e.path)
    live = {e.path for e in t.files(head)}
    report = expire_snapshots(t, keep_last=1)
    assert head in report["retained_snapshots"]
    # every deleted file is not referenced by HEAD
    assert not (set(report["deleted_files"]) & live)
    # dead files actually removed from disk; live ones kept
    for rel in report["deleted_files"]:
        assert not os.path.exists(os.path.join(t.root, rel))
    for rel in live:
        assert os.path.exists(os.path.join(t.root, rel))
    # table still scans identically
    assert scan_key_state(t) == current
    # expired snapshot metadata gone
    for v in report["expired_snapshots"]:
        assert not os.path.exists(os.path.join(t.meta_dir, f"snap-{v}.json"))


def test_ffd_bin_packing_properties():
    entries = [
        FileEntry(path=f"f{i}", bytes=b, rows=1)
        for i, b in enumerate([500, 400, 300, 200, 200, 100, 50, 950])
    ]
    bins = plan_bins_ffd(entries, target_bytes=1000, min_input_files=2)
    # every bin within target, ≥2 members, and members unique across bins
    seen = set()
    for members in bins:
        assert sum(e.bytes for e in members) <= 1000
        assert len(members) >= 2
        for e in members:
            assert e.path not in seen
            seen.add(e.path)
    # the 950 file packs with the 50 one (first-fit-decreasing order)
    assert any({e.path for e in m} == {"f7", "f6"} for m in bins)


def test_compaction_resume_reuses_staged_output(spark, tmp_path):
    from pyspark.sql import types as T

    schema = T.StructType(
        [T.StructField("k", T.StringType()), T.StructField("v", T.LongType())]
    )
    t = IcepackTable.create(spark, str(tmp_path / "t"), schema)
    for lo in range(0, 400, 100):
        t.append(
            spark.range(lo, lo + 100).select(
                F.format_string("k%05d", "id").alias("k"), F.col("id").alias("v")
            ),
            num_files=1,
        )
    # first run journals bins under a fixed job id
    v1 = compact(t, target_bytes=1 << 30, job_id="resume-test")
    assert v1 is not None
    j = LineageJournal(t.root, "resume-test")
    n_bins_first = len(j.completed("compact-bin"))
    assert n_bins_first >= 1
    # a re-run with the same job id must not redo bin work (journal stable)
    before = scan_key_state_kv(t)
    compact(t, target_bytes=1 << 30, job_id="resume-test")
    assert len(j.completed("compact-bin")) == n_bins_first
    assert scan_key_state_kv(t) == before


def scan_key_state_kv(t):
    return sorted((r["k"], r["v"]) for r in t.scan().collect())


def test_cluster_resume_reuses_staged_rewrite(spark, tmp_path):
    """A cluster job that staged its rewrite but died pre-commit resumes by
    committing the staged files instead of re-shuffling."""
    from datastream_deltalake_connector_spark.table.lineage import LineageJournal as LJ
    from pyspark.sql import types as T

    schema = T.StructType(
        [T.StructField("phash", T.LongType()), T.StructField("image_id", T.StringType())]
    )
    t = IcepackTable.create(spark, str(tmp_path / "t"), schema)
    t.append(
        spark.range(500).select(
            (F.col("id") * 7919).alias("phash"),
            F.format_string("i%05d", "id").alias("image_id"),
        ),
        num_files=4,
    )
    before = sorted(map(tuple, t.scan().collect()))
    v1 = cluster(t, curve="zorder", num_files=2, job_id="clu-resume")
    # simulate "died before commit": roll HEAD back and strip the commit record
    t._atomic_write(os.path.join(t.meta_dir, "HEAD"), str(v1 - 1))
    j = LJ(t.root, "clu-resume")
    recs = [r for r in j.records() if r["stage"] != "commit"]
    with open(j.path, "w") as f:
        import json as _json

        for r in recs:
            f.write(_json.dumps(r) + "\n")
    v2 = cluster(t, curve="zorder", num_files=2, job_id="clu-resume")
    assert t.snapshot(v2).summary.get("resumed") is True
    assert sorted(map(tuple, t.scan().collect())) == before


def test_expiry_by_age(spark, tmp_path):
    from pyspark.sql import types as T

    schema = T.StructType([T.StructField("v", T.LongType())])
    t = IcepackTable.create(spark, str(tmp_path / "t"), schema)
    for lo in (0, 10, 20):
        t.append(spark.range(lo, lo + 10).select(F.col("id").alias("v")), num_files=1)
    # cutoff in the future + big keep_last → nothing to expire except by age
    rep = expire_snapshots(t, keep_last=1, older_than_ms=0, dry_run=True)
    # cutoff 0: every snapshot is newer than the cutoff → all retained
    assert rep["expired_snapshots"] == []
    rep2 = expire_snapshots(t, keep_last=1)  # default cutoff = now → age check passes
    assert rep2["expired_snapshots"] == [0, 1, 2]


def test_catalog(spark, tmp_path):
    from datastream_deltalake_connector_spark.table.catalog import Catalog
    from pyspark.sql import types as T

    cat = Catalog(spark, str(tmp_path / "wh"))
    schema = T.StructType([T.StructField("v", T.LongType())])
    t = cat.create_table("inventory.voters", schema)
    assert cat.table_names() == ["inventory_voters"]
    assert cat.exists("inventory.voters")
    # if-not-exists returns the same table; strict create raises
    t2 = cat.create_table("inventory.voters", schema)
    assert t2.root == t.root
    import pytest as _pytest

    with _pytest.raises(FileExistsError):
        cat.create_table("inventory.voters", schema, if_not_exists=False)
    t.append(spark.range(5).select(F.col("id").alias("v")))
    assert cat.load_table("inventory.voters").scan().count() == 5
    assert cat.drop_table("inventory.voters")
    assert not cat.exists("inventory.voters")


def test_broadcast_decision_is_byte_based(spark, tmp_path, monkeypatch):
    """The split (broadcast) vs range (sort-merge) emitter decision must
    follow source BYTES, not row count: the same tiny-row-count batch flips
    to the range emitter when the limit says its bytes don't fit a
    broadcast."""
    root = str(tmp_path / "bt" / "images")
    t = IcepackTable.create(spark, root, MERGED_IMAGE_SCHEMA)
    base = generate_images(spark, 60, num_partitions=2).select(
        "*",
        F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias(
            "datastream_metadata_source_timestamp"
        ),
        F.lit(0).cast("long").alias("datastream_metadata_change_seq"),
    )
    t.append(base, num_files=2)
    batch = generate_change_batch(
        spark, 60, batch_index=0, updates=10, inserts=4, deletes=2, num_partitions=2
    ).cache()
    est = generic_merge._estimate_row_bytes(batch)
    assert est > 1000  # image rows are KB-scale, not row-count-scale

    monkeypatch.setattr(generic_merge, "SPLIT_MAX_SOURCE_BYTES", 1)
    v1 = merge_into_table(t, batch)
    assert t.snapshot(v1).summary.get("rewrite_mode") == "range"
    monkeypatch.setattr(generic_merge, "SPLIT_MAX_SOURCE_BYTES", 1 << 30)
    v2 = merge_into_table(t, batch)
    assert t.snapshot(v2).summary.get("rewrite_mode") == "split"
    batch.unpersist()


def test_no_orphan_zero_row_files(spark, tmp_path, monkeypatch):
    """Every parquet file on disk must be reachable from some snapshot:
    an update/delete-only batch (no inserts) must not leak empty insert-side
    part files (round-2 ADVICE finding)."""
    root = str(tmp_path / "orph" / "images")
    t = IcepackTable.create(spark, root, MERGED_IMAGE_SCHEMA)
    base = generate_images(spark, 50, num_partitions=2).select(
        "*",
        F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias(
            "datastream_metadata_source_timestamp"
        ),
        F.lit(0).cast("long").alias("datastream_metadata_change_seq"),
    )
    t.append(base, num_files=2)
    batch = generate_change_batch(
        spark, 50, batch_index=0, updates=10, inserts=0, deletes=5, num_partitions=2
    )
    monkeypatch.setattr(generic_merge, "SPLIT_MAX_SOURCE_BYTES", 1 << 40)
    v = merge_into_table(t, batch)
    assert t.snapshot(v).summary["rewrite_mode"] == "split"

    referenced = set()
    for snap in t.snapshots():
        for e in t.files(snap.version):
            referenced.add(os.path.join(t.root, e.path))
    on_disk = set()
    for dirpath, _dirs, names in os.walk(os.path.join(t.root, "data")):
        for n in names:
            if n.endswith(".parquet"):
                on_disk.add(os.path.join(dirpath, n))
    assert on_disk <= referenced, f"orphans: {sorted(on_disk - referenced)[:5]}"


def test_incremental_cluster_rewrites_only_dirty(spark, tmp_path):
    """incremental=True must leave the previous cluster generation's files
    in place, rewrite only files added since, keep scans equivalent, and
    no-op when nothing changed."""
    root = str(tmp_path / "inc" / "images")
    t = IcepackTable.create(spark, root, MERGED_IMAGE_SCHEMA)
    base = generate_images(spark, 100, num_partitions=4).select(
        "*",
        F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias(
            "datastream_metadata_source_timestamp"
        ),
        F.lit(0).cast("long").alias("datastream_metadata_change_seq"),
    )
    t.append(base, num_files=4)
    v_full = cluster(t, curve="zorder", num_files=3)
    gen1 = {e.path for e in t.files(v_full)}
    assert t.snapshot(v_full).summary["mode"] == "full"

    extra = generate_images(spark, 40, seed=777, num_partitions=2).select(
        "*",
        F.to_timestamp(F.lit("2024-01-02 00:00:00")).alias(
            "datastream_metadata_source_timestamp"
        ),
        F.lit(0).cast("long").alias("datastream_metadata_change_seq"),
    )
    t.append(extra, num_files=2)
    before = scan_key_state(t)

    v_inc = cluster(t, curve="zorder", num_files=1, incremental=True)
    snap = t.snapshot(v_inc)
    assert snap.summary["mode"] == "incremental"
    assert snap.summary["rewritten_files"] == 2  # only the appended files
    after_paths = {e.path for e in t.files(v_inc)}
    assert gen1 <= after_paths  # previous generation untouched
    assert scan_key_state(t) == before  # scan equivalence

    # nothing new since → no-op, version unchanged
    assert cluster(t, curve="zorder", incremental=True) == v_inc


def test_maybe_compact_policy(spark, tmp_path):
    from datastream_deltalake_connector_spark.operators.compaction import (
        maybe_compact,
    )

    root = str(tmp_path / "auto")
    t = IcepackTable.create(spark, root, MERGED_IMAGE_SCHEMA)
    base = generate_images(spark, 60, num_partitions=2).select(
        "*",
        F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias(
            "datastream_metadata_source_timestamp"
        ),
        F.lit(0).cast("long").alias("datastream_metadata_change_seq"),
    )
    t.append(base, num_files=4)
    # below the small-file threshold: no-op, HEAD unchanged
    head = t.head_version()
    assert maybe_compact(t, min_num_files=10) is None
    assert t.head_version() == head
    # at/over the threshold: compacts and commits
    v = maybe_compact(t, min_num_files=4)
    assert v == head + 1
    assert len(t.files()) < 4
    assert t.count_rows() == 60

    # partitioned accumulation (round-3 review finding): small files spread
    # 2-per-partition must still trip the gate once the COMPACTABLE total
    # reaches the threshold — no single partition ever reaches it alone
    proot = str(tmp_path / "auto-part")
    pt = IcepackTable.create(spark, proot, MERGED_IMAGE_SCHEMA, partition_by=["fmt"])
    pbase = generate_images(spark, 90, num_partitions=2).select(
        "*",
        F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias(
            "datastream_metadata_source_timestamp"
        ),
        F.lit(0).cast("long").alias("datastream_metadata_change_seq"),
    )
    added = pt.write_data_files(
        pbase.repartition(3)
    )  # ~3 files per fmt partition (2 fmt values)
    pt.commit("append", added=added, removed_paths=[], expected_parent=0)
    per_part: dict = {}
    for e in pt.files():
        per_part[e.partition.get("fmt")] = per_part.get(e.partition.get("fmt"), 0) + 1
    assert max(per_part.values()) < 5 <= sum(per_part.values())
    pv = maybe_compact(pt, min_num_files=5)
    assert pv is not None, "compactable-total gate did not fire"
    assert len(pt.files()) < sum(per_part.values())
    assert pt.count_rows() == 90


def test_maybe_compact_unbinnable_pair_never_fires(spark, tmp_path, monkeypatch):
    """Two files each larger than target/2 are 'small' (< target) but FFD
    caps bins at the target and drops singletons, so they can never share a
    bin. The gate must agree with the planner and skip compact() entirely —
    not fire forever into a no-op plan on every drain (r3 advice)."""
    from datastream_deltalake_connector_spark.operators import compaction

    root = str(tmp_path / "unbinnable")
    t = IcepackTable.create(spark, root, MERGED_IMAGE_SCHEMA)
    base = generate_images(spark, 40, num_partitions=1).select(
        "*",
        F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias(
            "datastream_metadata_source_timestamp"
        ),
        F.lit(0).cast("long").alias("datastream_metadata_change_seq"),
    )
    t.append(base, num_files=2)
    sizes = sorted(e.bytes for e in t.files())
    assert len(sizes) == 2
    # target: each file fits alone, but the pair exceeds it
    target = sizes[0] + sizes[1] - 1
    assert all(s < target for s in sizes)

    def boom(*a, **k):  # the gate must not even invoke compact()
        raise AssertionError("compact() invoked for an unbinnable table")

    monkeypatch.setattr(compaction, "compact", boom)
    head = t.head_version()
    assert compaction.maybe_compact(t, min_num_files=2, target_bytes=target) is None
    assert t.head_version() == head


def test_remove_orphans_respects_grace_and_references(spark, tmp_path):
    from datastream_deltalake_connector_spark.operators.expire import remove_orphans

    root = str(tmp_path / "orph")
    t = IcepackTable.create(spark, root, MERGED_IMAGE_SCHEMA)
    base = generate_images(spark, 30, num_partitions=1).select(
        "*",
        F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias(
            "datastream_metadata_source_timestamp"
        ),
        F.lit(0).cast("long").alias("datastream_metadata_change_seq"),
    )
    t.append(base, num_files=2)
    # stage files WITHOUT committing — the crashed-job scenario
    staged = t.write_data_files(base.limit(5))
    assert staged
    orphan_paths = [os.path.join(t.root, e.path) for e in staged]
    # young orphans survive the grace period
    rep = remove_orphans(t, grace_seconds=3600)
    assert rep["orphans"] == []
    assert all(os.path.exists(p) for p in orphan_paths)
    # age them past the cutoff: swept; referenced files untouched
    for p in orphan_paths:
        os.utime(p, (1, 1))
    rep = remove_orphans(t, grace_seconds=3600)
    assert sorted(rep["orphans"]) == sorted(e.path for e in staged)
    assert not any(os.path.exists(p) for p in orphan_paths)
    assert t.count_rows() == 30
    assert t.scan().count() == 30


def test_remove_orphans_10k_staged_files(spark, tmp_path):
    """Listing-cost hardening: a crashed fan-out job can leave O(10k) staged
    files; the sweep must handle them in one walk, report exact counts, and
    not touch live data. Empty staging dirs are rmdir'd opportunistically."""
    from datastream_deltalake_connector_spark.operators.expire import remove_orphans

    root = str(tmp_path / "orph10k")
    t = IcepackTable.create(spark, root, MERGED_IMAGE_SCHEMA)
    base = generate_images(spark, 10, num_partitions=1).select(
        "*",
        F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias(
            "datastream_metadata_source_timestamp"
        ),
        F.lit(0).cast("long").alias("datastream_metadata_change_seq"),
    )
    t.append(base, num_files=1)
    n_live = len(t.files())
    # fabricate 10k aged orphan files directly (a real staged write of 10k
    # parquet files would dominate the test's runtime, not its value)
    stage = os.path.join(root, "data", "stage-crashed")
    os.makedirs(stage)
    for i in range(10_000):
        p = os.path.join(stage, f"part-{i:05d}.parquet")
        with open(p, "wb") as f:
            f.write(b"x")
        os.utime(p, (1, 1))
    t0 = time.time()
    rep = remove_orphans(t, grace_seconds=3600)
    elapsed = time.time() - t0
    assert rep["n_orphans"] == 10_000
    assert rep["n_deleted_files"] == 10_000
    assert rep["n_delete_failures"] == 0
    # >=: the walk also sees non-manifest sidecars (.crc checksum files)
    assert rep["n_files_listed"] >= 10_000 + n_live
    assert rep["walk_seconds"] <= elapsed
    assert not os.path.exists(stage)  # emptied staging dir rmdir'd
    assert t.scan().count() == 10  # live data untouched
    assert elapsed < 60, f"10k-file sweep took {elapsed:.1f}s"
    # audit line is bounded: counts + first 100 paths, not all 10k
    with open(os.path.join(t.meta_dir, "expiry-log.jsonl")) as f:
        last = json.loads(f.readlines()[-1])
    assert last["n_orphans"] == 10_000
    assert len(last["orphans"]) == 100


def test_manifest_ops_at_100k_entries(spark, tmp_path):
    """Driver-side metadata costs at 10^12-image manifest scale: 10^12 images
    in 512 MB files is ~2.4M manifest entries; this pins the shape at 100k
    (fabricated entries, no data bytes) — commit, reload, stats-prune, and
    reachability expiry must all stay interactive. Documents the costs the
    100-TB design accepts: manifest JSON write/parse is O(entries), pruning
    is one python pass over [min,max] pairs."""
    from datastream_deltalake_connector_spark.operators.expire import expire_snapshots

    root = str(tmp_path / "bigmanifest")
    t = IcepackTable.create(spark, root, MERGED_IMAGE_SCHEMA)
    n = 100_000
    entries = [
        FileEntry(
            path=f"data/gen0/part-{i:07d}.parquet",
            bytes=512 * 1024 * 1024,
            rows=400_000,
            stats={"image_id": {"min": f"{i:08x}", "max": f"{i + 1:08x}"}},
        )
        for i in range(n)
    ]
    t0 = time.time()
    v = t.commit("append", added=entries, removed_paths=[], expected_parent=0)
    commit_s = time.time() - t0
    # >= 50k entries: the manifest is PARQUET (Spark-readable, ~20x smaller)
    assert t.snapshot(v).manifest.endswith(".parquet")
    t0 = time.time()
    files = t.files(v)
    load_s = time.time() - t0
    assert len(files) == n
    # byte-identical round-trip vs the source entries (order preserved)
    assert files[12345] == entries[12345]
    assert files[0].stats == entries[0].stats
    # files_df reads the parquet manifest directly (no driver entry list)
    fdf = t.files_df(v)
    assert fdf.count() == n
    assert set(fdf.columns) == {
        "path", "bytes", "rows", "stats_json", "partition_json", "content", "seq",
    }
    t0 = time.time()
    hit = [e for e in files if e.may_match("image_id", "between", ("00010000", "000100ff"))]
    prune_s = time.time() - t0
    assert 0 < len(hit) < 300  # the narrow range prunes >99% of the manifest
    # second commit dropping half the files, then reachability expiry (dry):
    keep = entries[: n // 2]
    t.commit("rewrite", added=keep, removed_paths=[e.path for e in entries[n // 2 :]],
             expected_parent=v)
    t0 = time.time()
    rep = expire_snapshots(t, keep_last=1, dry_run=True)
    expire_s = time.time() - t0
    assert rep["n_expired_snapshots"] >= 1
    assert rep["n_deleted_files"] == n // 2  # unreachable half
    total = commit_s + load_s + prune_s + expire_s
    assert total < 60, (
        f"100k-entry metadata ops too slow: commit={commit_s:.1f}s "
        f"load={load_s:.1f}s prune={prune_s:.2f}s expire={expire_s:.1f}s"
    )


def _driver_rss_mb() -> float:
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith("VmRSS:"):
                return int(line.split()[1]) / 1024.0
    return float("nan")  # pragma: no cover — Linux-only sandbox


def test_manifest_roundtrip_at_1m_entries(spark, tmp_path):
    """Manifest headroom at 10^12-image scale: ~2.4M entries at 10^12 images
    / 512 MB files — this pins 1M entries (10x the sibling test) through the
    full write → fresh reload → files_df path, with wall time and driver RSS
    recorded (numbers documented in TESTDATA.md). The parquet manifest is
    what keeps this off the driver for POLICY queries (files_df is a plain
    Spark scan); the driver-side entry list is only materialized by
    maintenance planners, and 1M dataclass entries must stay well inside a
    normal driver heap."""
    root = str(tmp_path / "manifest1m")
    t = IcepackTable.create(spark, root, MERGED_IMAGE_SCHEMA)
    n = 1_000_000
    rss0 = _driver_rss_mb()
    entries = [
        FileEntry(
            path=f"data/gen0/part-{i:07d}.parquet",
            bytes=512 * 1024 * 1024,
            rows=400_000,
            stats={"image_id": {"min": f"{i:08x}", "max": f"{i + 1:08x}"}},
        )
        for i in range(n)
    ]
    rss_entries = _driver_rss_mb()
    t0 = time.time()
    v = t.commit("append", added=entries, removed_paths=[], expected_parent=0)
    commit_s = time.time() - t0
    assert t.snapshot(v).manifest.endswith(".parquet")
    manifest_mb = os.path.getsize(
        os.path.join(t.meta_dir, t.snapshot(v).manifest)
    ) / 1e6

    # fresh handle: no cached entry list, the read path pays full parse
    t2 = IcepackTable.load(spark, root)
    t0 = time.time()
    files = t2.files(v)
    load_s = time.time() - t0
    assert len(files) == n
    assert files[999_999] == entries[999_999]  # byte-identical round-trip
    assert files[123_456].stats == entries[123_456].stats

    t0 = time.time()
    assert t2.files_df(v).count() == n  # Spark reads the manifest directly
    filesdf_s = time.time() - t0
    rss_peak = _driver_rss_mb()
    print(
        f"\n1M-manifest: commit={commit_s:.1f}s load={load_s:.1f}s "
        f"files_df={filesdf_s:.1f}s manifest={manifest_mb:.0f}MB "
        f"rss: base={rss0:.0f}MB +entries={rss_entries - rss0:.0f}MB "
        f"peak={rss_peak:.0f}MB"
    )
    assert commit_s + load_s + filesdf_s < 60, (
        f"1M-entry manifest ops too slow: commit={commit_s:.1f}s "
        f"load={load_s:.1f}s files_df={filesdf_s:.1f}s"
    )


def test_metadata_tables(spark, tmp_path):
    root = str(tmp_path / "meta")
    t = IcepackTable.create(spark, root, MERGED_IMAGE_SCHEMA)
    base = generate_images(spark, 40, num_partitions=1).select(
        "*",
        F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias(
            "datastream_metadata_source_timestamp"
        ),
        F.lit(0).cast("long").alias("datastream_metadata_change_seq"),
    )
    t.append(base, num_files=2)
    t.append(base.limit(10), num_files=1)

    fdf = t.files_df()
    rows = fdf.collect()
    assert len(rows) == len(t.files()) == 3
    assert fdf.where(F.col("rows") <= 0).count() == 0
    # stats JSON round-trips and carries the stats columns
    import json as _json

    st = _json.loads(rows[0]["stats_json"])
    assert "image_id" in st and "min" in st["image_id"]
    # metadata-only small-file policy query
    small = fdf.where(F.col("bytes") < 10**9).count()
    assert small == 3

    hdf = t.history_df()
    h = {r["version"]: r for r in hdf.collect()}
    assert set(h) == {0, 1, 2}
    assert h[2]["operation"] == "append"
    assert h[2]["total_rows"] == 50
    assert h[1]["total_rows"] == 40
    assert h[2]["parent"] == 1
