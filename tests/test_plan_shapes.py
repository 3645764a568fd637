"""Physical-plan shape guards: the properties PLANS.md *documents*, pinned
as tests so a refactor that silently adds a shuffle (or un-prunes a scan)
fails CI instead of only shifting a markdown report.

Plans are captured with AQE off (un-executed adaptive plans hide the final
operator chain); the counting convention matches scripts/audit_plans.py —
only the detail-section headers "(N) OperatorName" count, the tree section
repeats operators.
"""

from __future__ import annotations

import io
import re
from contextlib import redirect_stdout

import pytest

import __spark_entry__ as entrymod

SF_DIR = "/root/testdata/sf0.001"


def plan_text(spark, name: str) -> str:
    df = entrymod.queries()[name](spark, SF_DIR)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def exchanges(plan: str) -> int:
    return len(re.findall(r"^\(\d+\) Exchange\b", plan, re.M))


@pytest.fixture(scope="module")
def noaqe(spark):
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    # other test modules may have cached a full-table read of the same
    # parquet paths; Spark substitutes the InMemoryRelation into ANY
    # matching scan, which would hide the real file-scan pruning
    spark.catalog.clearCache()
    yield spark
    spark.conf.set("spark.sql.adaptive.enabled", prev)


def test_projection_queries_have_zero_shuffles(noaqe):
    for q in ("zorder_key", "pii_redact_docs", "chunk_docs", "hash_split_docs"):
        p = plan_text(noaqe, q)
        assert exchanges(p) == 0, f"{q} grew a shuffle:\n{p[:2000]}"


def test_single_shuffle_queries(noaqe):
    # one exchange each: groupBy on a derived key / the asof window
    for q in ("url_dedup_docs", "events_asof_join", "exact_dedup_docs"):
        p = plan_text(noaqe, q)
        assert exchanges(p) == 1, f"{q} expected exactly 1 exchange:\n{p[:2000]}"


def test_star_join_stays_broadcast(noaqe):
    p = plan_text(noaqe, "shipping_priority")
    assert len(re.findall(r"^\(\d+\) BroadcastHashJoin", p, re.M)) >= 1
    assert "SortMergeJoin" not in p or "BroadcastHashJoin" in p
    # top-k must be per-partition heaps, not a global sort exchange
    assert "TakeOrderedAndProject" in p


def test_scan_projection_pruned(noaqe):
    # url dedup must never read the text column
    p = plan_text(noaqe, "url_dedup_docs")
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", p)
    assert schemas and all("text" not in s for s in schemas), schemas


def test_generic_merge_single_join_write_job(noaqe, tmp_path):
    """The general MERGE rewrites through ONE join: clause routing,
    cascades, projections, and observe metrics all ride a single join of
    only the probe-hit file with the broadcast source, and no target row
    crosses a shuffle — a refactor that adds a second join or an exchange
    is a scale regression."""
    from pyspark.sql import types as T

    from datastream_deltalake_connector_spark.operators import generic_merge as gm
    from datastream_deltalake_connector_spark.table.icepack import IcepackTable

    t = IcepackTable.create(
        noaqe,
        str(tmp_path / "pm"),
        T.StructType(
            [
                T.StructField("id", T.LongType()),
                T.StructField("v", T.DoubleType()),
            ]
        ),
    )
    for lo in (0, 100):
        t.append(
            noaqe.range(lo, lo + 100)
            .where("id != 150")
            .selectExpr("id", "cast(id as double) as v"),
            num_files=1,
        )
    src = noaqe.createDataFrame([(5, 50.0), (150, 2.5)], "id BIGINT, v DOUBLE")
    plans = []
    orig = IcepackTable.write_data_files

    def spy(self, df, **kw):
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        plans.append(buf.getvalue())
        return orig(self, df, **kw)

    IcepackTable.write_data_files = spy
    try:
        rep = gm.merge_into(
            t,
            src,
            "id",
            matched=[{"action": "update", "condition": None, "set": "*"}],
            not_matched=[{"action": "insert", "condition": None, "values": "*"}],
        )
    finally:
        IcepackTable.write_data_files = orig
    p = plans[0]  # the rewrite; the second write holds the one insert
    joins = re.findall(r"^\(\d+\) (\w*Join\w*)", p, re.M)
    assert joins == ["BroadcastHashJoin"], f"expected ONE broadcast join, got {joins}:\n{p[:2000]}"
    scans = len(re.findall(r"^\(\d+\) Scan parquet", p, re.M))
    assert scans == 1, f"only the probe-hit file may be scanned, got {scans}"
    assert exchanges(p) == 0, f"the rewrite shuffles:\n{p[:2000]}"
    # the insert key (150) lies inside the second file's range, which does
    # not hold it, so pre-pruning keeps both files — the EXACT file_path
    # probe is what bounds the rewrite to the single file holding a match
    assert rep["files_rewritten"] == 1 and rep["files_probed"] == 2
    assert rep["rows_updated"] == 1 and rep["rows_inserted"] == 1


def _kv_batch(spark, i: int):
    """CDC batch ``i`` over the ids 0..99 table: five updates, one delete
    and one insert, all newer than every earlier batch."""
    from datetime import datetime, timedelta

    ts = datetime(2024, 1, 1) + timedelta(hours=i)
    rows = [(10 * i + j, f"u{i}", "UPDATE-INSERT", False, ts, i) for j in range(5)]
    rows.append((10 * i + 5, None, "DELETE", True, ts, i))
    rows.append((1000 + i, f"n{i}", "INSERT", False, ts, i))
    return spark.createDataFrame(
        rows,
        "id BIGINT, v STRING, change_type STRING, is_deleted BOOLEAN, "
        "source_timestamp TIMESTAMP, change_seq BIGINT",
    )


@pytest.mark.parametrize("n_deletes", [1, 3, 5])
def test_mor_scan_single_broadcast(noaqe, tmp_path, n_deletes):
    """A merge-on-read scan reads its candidate files in one parquet scan
    and builds ONE broadcast of delete keys, however many delete files are
    pending and however many commits the candidates come from; its rows
    equal the copy-on-write table's."""
    from datetime import datetime

    from pyspark.sql import types as T

    from datastream_deltalake_connector_spark.operators.merge import SEQ_META, TS_META
    from datastream_deltalake_connector_spark.operators.mor import merge_into_table_mor
    from datastream_deltalake_connector_spark.operators.table_merge import merge_into_table
    from datastream_deltalake_connector_spark.table.icepack import IcepackTable

    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("v", T.StringType()),
            T.StructField(TS_META, T.TimestampType()),
            T.StructField(SEQ_META, T.LongType()),
        ]
    )
    base = noaqe.createDataFrame(
        [(i, f"b{i}", datetime(2024, 1, 1), 0) for i in range(100)], schema
    )
    tables = {}
    for mode, merge in (("mor", merge_into_table_mor), ("cow", merge_into_table)):
        t = IcepackTable.create(noaqe, str(tmp_path / mode), schema)
        t.append(base, num_files=2)
        for i in range(1, n_deletes + 1):
            merge(t, _kv_batch(noaqe, i), key="id")
        tables[mode] = t

    mor = tables["mor"]
    pending = [e for e in mor.files() if e.content == "eq_deletes"]
    assert len(pending) == n_deletes
    df = mor.scan()
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    p = buf.getvalue()
    broadcasts = re.findall(r"^\(\d+\) BroadcastExchange\b", p, re.M)
    assert len(broadcasts) == 1, f"{n_deletes} delete files:\n{p[:3000]}"
    assert sorted(df.collect()) == sorted(tables["cow"].scan().collect())
