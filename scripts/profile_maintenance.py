"""Profile the maintenance chain's internal phases at bench scale.

Breaks merge_into_table and cluster() into their component costs (dedup,
pruning, read+resolve+write, footer stats, commit) by timing wrapped calls —
a diagnosis tool for the GB/min gates, not part of the engine.

Usage: python scripts/profile_maintenance.py [n_images] [cores]
"""

from __future__ import annotations

import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N = int(sys.argv[1]) if len(sys.argv) > 1 else 80_000
CORES = int(sys.argv[2]) if len(sys.argv) > 2 else 32


def main():
    from pyspark.sql import functions as F

    from datastream_deltalake_connector_spark.operators import generic_merge, table_merge
    from datastream_deltalake_connector_spark.operators.clustering import cluster
    from datastream_deltalake_connector_spark.operators.compaction import compact
    from datastream_deltalake_connector_spark.operators import partitioning
    from datastream_deltalake_connector_spark.session import get_spark
    from datastream_deltalake_connector_spark.sources.generator import (
        generate_change_batch,
    )
    from datastream_deltalake_connector_spark.table import IcepackTable
    from bench import build_image_table

    spark = get_spark(app_name="profile", cores=CORES, shuffle_partitions=CORES)

    root = os.path.join(tempfile.mkdtemp(prefix="prof-icepack-"), "images")
    t0 = time.time()
    res = build_image_table(spark, root, N)
    t = res.pop("table")
    print(f"ingest: {time.time()-t0:.1f}s table={res['table_bytes']/1e6:.0f}MB files={res['files']}")

    t0 = time.time()
    compact(t, target_bytes=IcepackTable.DEFAULT_TARGET_FILE_BYTES)
    print(f"compact: {time.time()-t0:.1f}s files={len(t.files())}")

    # ---- instrument write_data_files + footer stats -----------------------
    orig_write = IcepackTable.write_data_files
    orig_collect = IcepackTable.collect_file_entries
    orig_quant = partitioning.quantile_boundaries
    times = {}

    def timed_write(self, df, **kw):
        t0 = time.time()
        out = orig_write(self, df, **kw)
        times.setdefault("write_data_files", []).append(time.time() - t0)
        return out

    def timed_collect(self, *a, **kw):
        t0 = time.time()
        out = orig_collect(self, *a, **kw)
        times.setdefault("collect_file_entries", []).append(time.time() - t0)
        return out

    def timed_quant(*a, **kw):
        t0 = time.time()
        out = orig_quant(*a, **kw)
        times.setdefault("quantile_boundaries", []).append(time.time() - t0)
        return out

    IcepackTable.write_data_files = timed_write
    IcepackTable.collect_file_entries = timed_collect
    partitioning.quantile_boundaries = timed_quant
    import datastream_deltalake_connector_spark.operators.clustering as cl
    cl.quantile_boundaries = timed_quant

    orig_latest = table_merge.latest_by_keys
    orig_estimate = generic_merge._estimate_row_bytes

    def timed_latest(*a, **kw):
        t0 = time.time()
        out = orig_latest(*a, **kw)
        times.setdefault("latest_by_keys(plan)", []).append(time.time() - t0)
        return out

    def timed_estimate(df):
        t0 = time.time()
        out = orig_estimate(df)
        times.setdefault("estimate_row_bytes", []).append(time.time() - t0)
        return out

    table_merge.latest_by_keys = timed_latest
    generic_merge._estimate_row_bytes = timed_estimate

    n_changes = max(N // 10, 100)
    t0 = time.time()
    batch_dir = os.path.join(tempfile.mkdtemp(prefix="prof-batch-"), "batch")
    generate_change_batch(
        spark, N, batch_index=0,
        updates=n_changes // 2, inserts=n_changes // 4, deletes=n_changes // 4,
    ).write.parquet(batch_dir)
    batch = spark.read.parquet(batch_dir)
    print(f"batch materialize: {time.time()-t0:.1f}s")
    gb = sum(e.bytes for e in t.files()) / 1e9
    t0 = time.time()
    table_merge.merge_into_table(
        t, batch, target_rows_per_file=max(N // (2 * CORES), 500)
    )
    merge_sec = time.time() - t0
    print(f"merge: {merge_sec:.1f}s = {gb/(merge_sec/60):.2f} GB/min")
    for k, v in times.items():
        print(f"  {k}: {[round(x,2) for x in v]}")
    times.clear()

    t0 = time.time()
    cluster(t, curve="zorder", num_files=2 * CORES)
    cluster_sec = time.time() - t0
    print(f"cluster: {cluster_sec:.1f}s = {gb/(cluster_sec/60):.2f} GB/min")
    for k, v in times.items():
        print(f"  {k}: {[round(x,2) for x in v]}")

    import shutil
    shutil.rmtree(os.path.dirname(root), ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
