"""The benchmark's closed-loop, single-client workloads.

Each workload is a fixed sequence of op blocks generated from the seed: its
length is a function of ``--seconds`` alone, never of the clock, because
op cost depends on the op's place in the run (the CDC schema probe reads
every dump published so far). Setup loads the initial state through the
engine and runs one untimed warm-up op of each kind; every op's output is
checked after it, outside its timing, and a failed check fails the op.

Both workloads report the same op timings, each on its own op kinds,
named by the ``WRITE``, ``BULK``, ``READ`` and ``SCAN`` roles: a write
latency, a bulk write rate, a point-lookup latency and a full-scan rate.
"""

from __future__ import annotations

import gc
import json
import os
import shutil
import time

import numpy as np

import inputs


class CheckFailed(AssertionError):
    pass


def check(cond: bool, msg: str) -> None:
    if not cond:
        raise CheckFailed(msg)


class Run:
    """Shared state of one benchmark run: the session, the op log and,
    when tracing, the tracer and the Spark job counter."""

    def __init__(self, work: str, cache: str, seed: int, seconds: int):
        self.work, self.cache, self.seed, self.seconds = work, cache, seed, seconds
        self.spark = None
        self.workload = None
        self.tracer = None
        self.jobs = None
        self.ops: list[dict] = []
        self.extra: dict = {}

    def op(self, kind: str, action, verify=None, warm: bool = False) -> dict:
        """Time ``action()``, then run ``verify(rec)`` untimed. Either
        raising fails the op; the run goes on."""
        rec = {"kind": kind, "id": f"{kind}-{len(self.ops)}", "warm": warm, "ok": True}
        gc.collect()  # the garbage of earlier ops is collected untimed
        if self.jobs:
            self.jobs.take()
        span = None
        if self.tracer:
            self.tracer.op_id = rec["id"]
            span = self.tracer.open(f"op.{kind}")
        t0 = time.perf_counter()
        try:
            rec.update(action() or {})
        except Exception as exc:  # noqa: BLE001 - a failed op is counted, not fatal
            rec.update(ok=False, error=f"{type(exc).__name__}: {exc}"[:500])
        rec["seconds"] = time.perf_counter() - t0
        if span is not None:
            self.tracer.close(span)
            self.tracer.op_id = None
        if self.jobs:
            rec["spark"] = self.jobs.take()
        t0 = time.perf_counter()
        if rec["ok"] and verify is not None:
            try:
                verify(rec)
            except Exception as exc:  # noqa: BLE001
                rec.update(ok=False, error=f"check: {type(exc).__name__}: {exc}"[:500])
        if self.tracer and getattr(self.workload, "table", None) is not None:
            entries = self.workload.table.files()
            rec["manifest_entries"] = len(entries)
            rec["delete_files_pending"] = sum(1 for e in entries if e.content != "data")
        rec["check_seconds"] = time.perf_counter() - t0
        self.ops.append(rec)
        return rec

    def action(self, fn):
        """A Spark action the benchmark itself triggers inside an op."""
        if not self.tracer:
            return fn()
        with self.tracer.span("spark.action"):
            return fn()

    def timed(self, kind: str | None = None) -> list[dict]:
        return [o for o in self.ops if not o["warm"] and (kind is None or o["kind"] == kind)]


def blocks_for(seconds: int, block_s: float) -> int:
    """How many fixed op blocks a run of ``seconds`` holds, from a block's
    typical cost on a 4-core host; never from the clock."""
    return max(2, round(seconds / block_s))


def tree_bytes(root: str) -> int:
    total = 0
    for d, _dirs, names in os.walk(root):
        for n in names:
            total += os.path.getsize(os.path.join(d, n))
    return total


def head_files(table) -> dict:
    return {e.path: e for e in table.files()}


def file_delta(before: dict, after: dict) -> dict:
    """What the commits of one op changed in the manifest."""
    added = [e for p, e in after.items() if p not in before]
    removed = [e for p, e in before.items() if p not in after]
    return {
        "added_bytes": sum(e.bytes for e in added),
        "added_rows": sum(e.rows for e in added if e.content == "data"),
        "added_data_bytes": sum(e.bytes for e in added if e.content == "data"),
        "removed_data_files": sum(1 for e in removed if e.content == "data"),
    }


def table_shape(table, root: str) -> dict:
    entries = table.files()
    return {
        "manifest_entries": len(entries),
        "delete_files_pending": sum(1 for e in entries if e.content != "data"),
        "live_bytes": sum(e.bytes for e in entries if e.content == "data"),
        "root_bytes": tree_bytes(root),
    }


# ====================================================================== CDC
CDC_COLUMNS = ("id", "name", "city", "balance", "active")


class CdcConnector:
    """Datastream JSON dumps of one keyed table drained by
    ``run_connector_once`` into a copy-on-write merged table, which is then
    read back: a SQL point lookup and a full scan after every dump."""

    name = "cdc_connector"
    SPEC = {"base_keys": 1500, "events_per_dump": 300, "absent_share": 0.1}
    LOOKUPS, SCANS = 3, 2  # per block, after its apply
    BLOCK_S = 4.5  # typical cost of one block on a 4-core host
    WRITE, BULK, READ, SCAN = "apply", ("apply",), "lookup", ("scan",)
    BULK_ROWS = "changes"  # change events applied

    def __init__(self, run: Run):
        self.run = run
        self.n_blocks = blocks_for(run.seconds, self.BLOCK_S)
        self.stream = os.path.join(run.work, "stream")
        self.warehouse = os.path.join(run.work, "warehouse")
        self.published = 0
        self.in_oracle = 0
        self.version = -1
        self.files: dict = {}

    def spec(self) -> dict:
        return {**self.SPEC, "blocks": self.n_blocks}

    def build_inputs(self, out: str) -> dict:
        """The base dump, one dump per block plus one for warm-up, and the
        keys each block's lookups ask for."""
        gen = inputs.CdcGenerator(self.run.seed)
        rng = np.random.default_rng(np.random.PCG64(self.run.seed * 31 + 7))
        digest = inputs.Digest()
        dumps = [gen.base(self.SPEC["base_keys"])]
        keys = []
        for b in range(1 + self.n_blocks):
            dumps.append(gen.dump(self.SPEC["events_per_dump"]))
            for j in range(self.LOOKUPS):
                if rng.random() < self.SPEC["absent_share"]:
                    keys.append(f"absent-{self.run.seed}-{b}-{j}")
                else:
                    keys.append(f"k{self.run.seed:x}-{int(rng.integers(0, gen.next_key)):07d}")
        for i, events in enumerate(dumps):
            text = json.dumps(events, sort_keys=True)
            digest.add(text.encode())
            with open(os.path.join(out, f"dump-{i:03d}.json"), "w") as f:
                f.write(text)
        with open(os.path.join(out, "lookups.json"), "w") as f:
            json.dump(keys, f)
        digest.add(keys)
        return {"digest": digest.hexdigest(), "dumps": len(dumps)}

    def setup(self, inputs_dir: str, manifest: dict) -> None:
        import duckdb

        from datastream_deltalake_connector_spark.sql import IcepackSQL
        from datastream_deltalake_connector_spark.table.catalog import Catalog

        self.inputs_dir = inputs_dir
        with open(os.path.join(inputs_dir, "lookups.json")) as f:
            self.keys = json.load(f)
        # every minute directory is staged before the clock; an op
        # publishes one by atomic rename
        staging = os.path.join(self.run.work, "staging")
        self.staged = []
        for i in range(manifest["dumps"]):
            d = os.path.join(staging, f"{i:03d}")
            os.makedirs(d)
            shutil.copy(os.path.join(inputs_dir, f"dump-{i:03d}.json"), os.path.join(d, "records.json"))
            self.staged.append(d)
        os.makedirs(self.stream)
        self.oracle = duckdb.connect()
        self.oracle.execute(
            "CREATE TABLE ev (id VARCHAR, ts BIGINT, pos BIGINT, deleted BOOLEAN, "
            "name VARCHAR, city VARCHAR, balance BIGINT, active BOOLEAN)"
        )
        self.sql = IcepackSQL(self.run.spark, Catalog(self.run.spark, self.warehouse))

        def verify_load(rec):
            self._verify_apply(rec)
            self._verify_scan(self._scan())

        self.run.op("load", self._apply, verify_load, warm=True)
        self.block(warm=True)

    def ops(self) -> None:
        for _ in range(self.n_blocks):
            self.block()

    def block(self, warm: bool = False) -> None:
        self.run.op("apply", self._apply, self._verify_apply, warm)
        first = (self.published - 2) * self.LOOKUPS
        for key in self.keys[first:first + self.LOOKUPS]:
            self.run.op("lookup", lambda k=key: self._lookup(k), lambda rec, k=key: self._verify_lookup(k, rec), warm)
        for _ in range(self.SCANS):
            self.run.op("scan", self._scan, self._verify_scan, warm)

    # ops ---------------------------------------------------------------------
    def _apply(self) -> None:
        from datastream_deltalake_connector_spark.streaming import ingest
        from datastream_deltalake_connector_spark.table.icepack import IcepackTable

        i = self.published
        hh, mm = divmod(i, 60)
        hour = os.path.join(self.stream, "accounts", "2024", "01", "01", f"{hh:02d}")
        os.makedirs(hour, exist_ok=True)
        os.rename(self.staged[i], os.path.join(hour, f"{mm:02d}"))
        self.published += 1
        out = ingest.run_connector_once(self.run.spark, self.stream, self.warehouse, fmt="json")
        check("accounts" in out, f"connector did not merge the table: {out}")
        self.root = out["accounts"]
        self.table = IcepackTable.load(self.run.spark, self.root)
        check(self.table.head_version() > self.version, "the dump committed no new snapshot")
        self.version = self.table.head_version()

    def _lookup(self, key: str) -> dict:
        df = self.sql.execute(
            f"SELECT {', '.join(CDC_COLUMNS)} FROM accounts_merged WHERE id = '{key}'"
        )
        return {"rows": [tuple(r) for r in self.run.action(df.collect)]}

    def _scan(self) -> dict:
        from pyspark.sql import functions as F

        from datastream_deltalake_connector_spark.operators.merge import TS_META

        df = self.table.scan().select(*CDC_COLUMNS, F.unix_millis(F.col(TS_META)))
        rows = [tuple(r) for r in self.run.action(df.collect)]
        return {"rows": rows, "scanned_rows": len(rows)}

    # checks ----------------------------------------------------------------
    def _expected(self, key: str | None = None) -> set:
        """Last-writer-wins over every published event, in DuckDB."""
        while self.in_oracle < self.published:
            with open(os.path.join(self.inputs_dir, f"dump-{self.in_oracle:03d}.json")) as f:
                events = json.load(f)
            self.in_oracle += 1
            self.oracle.executemany(
                "INSERT INTO ev VALUES (?, ?, ?, ?, ?, ?, ?, ?)",
                [
                    (
                        e["payload"]["id"],
                        int(np.datetime64(e["source_timestamp"][:-1], "ms").astype(np.int64)),
                        e["source_metadata"]["log_position"],
                        e["source_metadata"]["is_deleted"],
                        *(e["payload"][c] for c in CDC_COLUMNS[1:]),
                    )
                    for e in events
                ],
            )
            self.last_events = len(events)
        where = "" if key is None else "WHERE id = ?"
        return set(
            self.oracle.execute(
                f"SELECT {', '.join(CDC_COLUMNS)}, ts FROM ("
                " SELECT *, row_number() OVER (PARTITION BY id ORDER BY ts DESC, pos DESC) AS rn"
                f" FROM ev {where}) WHERE rn = 1 AND NOT deleted",
                [] if key is None else [key],
            ).fetchall()
        )

    def _verify_apply(self, rec: dict) -> None:
        expected = self._expected()
        got = self.table.count_rows()
        check(got == len(expected), f"count_rows {got} != oracle {len(expected)}")
        after = head_files(self.table)
        rec.update(file_delta(self.files, after), changes=self.last_events)
        self.files = after

    def _verify_lookup(self, key: str, rec: dict) -> None:
        got = rec.pop("rows")
        want = [r[:-1] for r in self._expected(key)]
        check(got == want, f"lookup {key}: got {got}, want {want}")

    def _verify_scan(self, rec: dict) -> None:
        got = rec.pop("rows")
        got_set = set(got)
        expected = self._expected()
        check(len(got) == len(got_set), "merged table holds duplicate rows")
        check(got_set == expected, f"merged table differs from the LWW oracle: "
              f"{len(got_set - expected)} unexpected, {len(expected - got_set)} missing")

    def finish(self) -> dict:
        return table_shape(self.table, self.root)


# ============================================================== image table
def _image_schema():
    from pyspark.sql import types as T

    from datastream_deltalake_connector_spark.operators.merge import SEQ_META, TS_META

    return T.StructType(
        [
            T.StructField("image_id", T.StringType()),
            T.StructField("bytes", T.BinaryType()),
            T.StructField("w", T.IntegerType()),
            T.StructField("h", T.IntegerType()),
            T.StructField("fmt", T.StringType()),
            T.StructField("caption", T.StringType()),
            T.StructField("phash", T.LongType()),
            T.StructField(TS_META, T.TimestampType()),
            T.StructField(SEQ_META, T.LongType()),
        ]
    )


LOOKUP_COLUMNS = ("image_id", "w", "h", "phash", "caption")


class ImageState:
    """The benchmark's own record of the live image rows."""

    def __init__(self, inputs_dir: str):
        self.dir = inputs_dir
        self.live: dict[str, tuple] = {}
        self._absorb("base.parquet")

    def _absorb(self, name: str) -> int:
        import pyarrow.parquet as pq

        cols = list(LOOKUP_COLUMNS) + (["is_deleted"] if name.startswith("batch") else [])
        rows = pq.read_table(os.path.join(self.dir, name), columns=cols).to_pylist()
        for r in rows:
            if r.get("is_deleted"):
                self.live.pop(r["image_id"], None)
            else:
                self.live[r["image_id"]] = tuple(r[c] for c in LOOKUP_COLUMNS)
        return len(rows)

    def batch_path(self, b: int) -> str:
        return os.path.join(self.dir, f"batch-{b:03d}.parquet")

    def apply(self, b: int) -> int:
        return self._absorb(f"batch-{b:03d}.parquet")

    def phash_xor(self) -> int:
        acc = 0
        for r in self.live.values():
            acc ^= r[3]
        return acc

    def ids_and_phash(self) -> dict:
        return {k: r[3] for k, r in self.live.items()}


class ImageTable:
    """One Bloom-keyed image table under merge-on-read change batches (inserts
    equal deletes, so its size stays flat), a fixed maintenance cycle, and the
    reads that see what the writes left behind: SQL point lookups and full
    decode+phash scans through ``IcepackTable.scan`` and the ``icepack``
    data source."""

    name = "image_table"
    SPEC = {"n_base": 900, "per_kind": 20, "min_px": 40, "max_px": 80, "appends": 3,
            "absent_share": 0.1}
    # a block is BLOCK, then one full scan (the two paths take turns), then
    # the next rewriting maintenance op; the run ends with one expiry
    BLOCK = ("merge",) + ("lookup",) * 4
    SCANS = ("scan", "source_scan")
    REWRITES = ("apply_deletes", "compact", "cluster")
    BLOCK_S = 6.5  # typical cost of one block on a 4-core host
    WRITE, BULK, READ, SCAN = "merge", REWRITES, "lookup", SCANS
    BULK_ROWS = "added_rows"  # rows rewritten by maintenance

    def __init__(self, run: Run):
        self.run = run
        self.n_blocks = blocks_for(run.seconds, self.BLOCK_S)
        self.n_batches = 1 + self.BLOCK.count("merge") * self.n_blocks
        self.rng = np.random.default_rng(np.random.PCG64(run.seed * 31 + 5))
        self.next_batch = 0

    def spec(self) -> dict:
        return {**self.SPEC, "batches": self.n_batches}

    def build_inputs(self, out: str) -> dict:
        s = self.SPEC
        return inputs.build_image_inputs(
            out, self.run.seed, s["n_base"], self.n_batches, s["per_kind"], s["min_px"], s["max_px"]
        )

    def setup(self, inputs_dir: str, manifest: dict) -> None:
        import pyarrow.parquet as pq
        from pyspark.sql import functions as F

        from datastream_deltalake_connector_spark.operators.merge import SEQ_META, TS_META
        from datastream_deltalake_connector_spark.sources.pyds import register
        from datastream_deltalake_connector_spark.sql import IcepackSQL
        from datastream_deltalake_connector_spark.table.catalog import Catalog
        from datastream_deltalake_connector_spark.table.icepack import IcepackTable

        self.state = ImageState(inputs_dir)
        warehouse = os.path.join(self.run.work, "warehouse")
        self.root = os.path.join(warehouse, "images")
        register(self.run.spark)
        self.sql = IcepackSQL(self.run.spark, Catalog(self.run.spark, warehouse))

        def load():
            self.table = IcepackTable.create(
                self.run.spark, self.root, _image_schema(), bloom_cols=["image_id"]
            )
            base = self.run.spark.read.parquet(os.path.join(inputs_dir, "base.parquet")).select(
                "*",
                F.timestamp_micros(F.lit(inputs.T0_MS * 1000)).alias(TS_META),
                F.lit(0).cast("long").alias(SEQ_META),
            )
            n = self.SPEC["appends"]
            part = F.abs(F.xxhash64("image_id")) % n
            for c in range(n):  # one small file per append
                self.table.append(base.where(part == c), num_files=1)

        self.run.op("load", load, lambda rec: self._verify_rows(), warm=True)
        self.files = head_files(self.table)
        self.sample = pq.read_table(
            os.path.join(inputs_dir, "base.parquet"), columns=["bytes"]
        ).column("bytes").to_pylist()[:64]
        for kind in ("merge", "lookup") + self.SCANS + self.REWRITES + ("expire",):
            self.op(kind, warm=True)

    def sequence(self) -> list[str]:
        seq = []
        for b in range(self.n_blocks):
            seq += [*self.BLOCK, self.SCANS[b % 2], self.REWRITES[b % 3]]
        return seq + ["expire"]

    def ops(self) -> None:
        for kind in self.sequence():
            self.op(kind)

    def op(self, kind: str, warm: bool = False) -> None:
        if kind == "merge":
            self._merge(warm)
        elif kind == "lookup":
            self._lookup(warm)
        elif kind in ("scan", "source_scan"):
            self._scan(kind, warm)
        else:
            self._maint(kind, warm)

    def _merge(self, warm: bool) -> None:
        from datastream_deltalake_connector_spark.operators import mor

        b = self.next_batch
        self.next_batch += 1
        batch = self.run.spark.read.parquet(self.state.batch_path(b))

        def verify(rec):
            rec["changes"] = self.state.apply(b)
            self._note_files(rec)
            got = self.table.count_rows()
            check(got == len(self.state.live), f"count_rows {got} != expected {len(self.state.live)}")

        self.run.op("merge", lambda: {"version": mor.merge_into_table_mor(self.table, batch)}, verify, warm)

    def _maint(self, kind: str, warm: bool) -> None:
        from datastream_deltalake_connector_spark.operators import clustering, compaction, expire, mor

        def action():
            if kind == "apply_deletes":
                mor.apply_deletes(self.table)
            elif kind == "compact":
                compaction.compact(self.table)
            elif kind == "cluster":
                clustering.cluster(self.table, curve="zorder", num_files=4)
            else:
                expire.expire_snapshots(self.table, keep_last=1)
                expire.remove_orphans(self.table, grace_seconds=0)

        def verify(rec):
            self._note_files(rec)
            self._verify_rows()

        self.run.op(kind, action, verify, warm)

    def _lookup(self, warm: bool) -> None:
        if self.rng.random() < self.SPEC["absent_share"]:
            key = inputs.image_id(self.run.seed, 10**9 + len(self.run.ops))
        else:
            live = sorted(self.state.live)
            key = live[int(self.rng.integers(0, len(live)))]
        stmt = f"SELECT {', '.join(LOOKUP_COLUMNS)} FROM images WHERE image_id = '{key}'"

        def action():
            df = self.sql.execute(stmt)
            return {"rows": [tuple(r) for r in self.run.action(df.collect)]}

        def verify(rec):
            got = rec.pop("rows")
            want = [self.state.live[key]] if key in self.state.live else []
            check(got == want, f"lookup {key}: got {got}, want {want}")

        self.run.op("lookup", action, verify, warm)

    def _scan(self, kind: str, warm: bool) -> None:
        def action():
            row = self.run.action(self._scan_df(kind, udf=True).collect)[0]
            return {"scanned_rows": row[0], "xor_udf": row[1], "xor_col": row[2]}

        def verify(rec):
            want = len(self.state.live)
            check(rec["scanned_rows"] == want, f"{kind} saw {rec['scanned_rows']} rows, want {want}")
            check(rec["xor_udf"] == rec["xor_col"] == self.state.phash_xor(), f"{kind} phash checksum mismatch")
            if self.run.tracer:
                # the same scan without the decode+phash UDF: what reading costs
                t0 = time.perf_counter()
                self._scan_df(kind, udf=False).collect()
                rec["read_pass_s"] = time.perf_counter() - t0

        self.run.op(kind, action, verify, warm)

    def _scan_df(self, kind: str, udf: bool):
        from pyspark.sql import functions as F

        from datastream_deltalake_connector_spark.functions.image import phash_udf

        if kind == "scan":
            df = self.table.scan()
        else:
            df = self.run.spark.read.format("icepack").option("path", self.root).load()
        df = df.where(F.col("bytes").isNotNull())
        hashed = F.bit_xor(phash_udf("bytes")) if udf else F.lit(0).cast("long")
        return df.select(F.count(F.lit(1)), hashed, F.bit_xor("phash"))

    def _note_files(self, rec: dict) -> None:
        after = head_files(self.table)
        rec.update(file_delta(self.files, after))
        self.files = after

    def _verify_rows(self) -> None:
        got = {r[0]: r[1] for r in self.table.scan().select("image_id", "phash").collect()}
        check(got == self.state.ids_and_phash(),
              f"row set differs: {len(got)} rows vs {len(self.state.live)} expected")

    def codec_sample(self) -> dict:
        """Driver-side codec cost over a fixed sample of the input images."""
        from datastream_deltalake_connector_spark.functions.image import decode_image_np, phash_np

        t0 = time.perf_counter()
        pixels = [decode_image_np(b) for b in self.sample]
        t1 = time.perf_counter()
        for p in pixels:
            phash_np(p)
        t2 = time.perf_counter()
        n = len(self.sample)
        return {"decode_us_per_image": (t1 - t0) / n * 1e6, "phash_us_per_image": (t2 - t1) / n * 1e6}

    def finish(self) -> dict:
        """A final expiry, then the table's shape."""
        from datastream_deltalake_connector_spark.operators import expire

        expire.expire_snapshots(self.table, keep_last=1)
        expire.remove_orphans(self.table, grace_seconds=0)
        return table_shape(self.table, self.root)


WORKLOADS = {w.name: w for w in (CdcConnector, ImageTable)}
