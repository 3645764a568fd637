"""icepack — a minimal Iceberg-style table format owned by this engine.

The reference rides on Delta Lake for ACID tables (reference: spark/src/main/
scala/io/badal/databricks/datastream/DatastreamIO.scala:74 writes
``format("delta")``; transactionality discussed in its README.md:9). This
engine owns the format so it can implement the maintenance surface the
reference only configures (compaction / optimize / file-size targeting,
reference: config/Config.scala:57-111):

Layout under a table root::

    data/<commit-uuid>/part-*.parquet     immutable data files
    metadata/manifest-<version>.json      file list + per-file min/max stats
    metadata/manifest-<version>.parquet   same, for manifests >= 50k entries
                                          (~20x smaller, column-prunable,
                                          Spark-readable: files_df scales
                                          off the driver at 10^12 images)
    metadata/snap-<version>.json          snapshot: schema, parent, summary
    metadata/HEAD                         current version (atomic pointer)
    metadata/lineage/<job>.jsonl          per-partition lineage journal

Commit protocol: optimistic CAS. A writer stages data files, then takes the
commit lock (O_CREAT|O_EXCL lock file), verifies HEAD still equals its
expected parent version, writes manifest-(v+1) + snap-(v+1), and atomically
replaces HEAD via os.replace of a temp file. Readers never lock: ``scan()``
resolves HEAD once and pins that snapshot — data files are immutable and
snapshot expiry retains every file reachable from a retained snapshot, so a
reader pinned mid-compaction is isolated (north_star requirement).

Per-file stats are read from parquet footers with pyarrow (exact, no extra
Spark scan). Small commits read footers on the driver; commits staging
``EXECUTOR_STATS_MIN_FILES`` or more files fan the reads out to executors
via ``sc.parallelize(paths).map(footer_stats)`` — both paths produce
byte-identical manifest entries (pinned by test). On a real cluster the
executor path requires the data paths to be on shared storage, which they
are by construction (the table root).

Scan pruning: ``scan(filters=...)`` drops every manifest entry whose
[min, max] range proves the predicate unsatisfiable — the manual file-pruning
analogue of Delta data skipping — then hands Catalyst a plain parquet scan of
the surviving files (predicate pushdown and column pruning stay free).
"""

from __future__ import annotations

import datetime as _dt
import functools as _functools
import json
import os
import re
import shutil
import time
import uuid

import numpy as np
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from typing import Any, Iterable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import types as T

from ..session import empty_frame

__all__ = ["IcepackTable", "FileEntry", "Snapshot", "ConflictError", "SchemaEvolutionError"]

# Positional-delete file columns (Iceberg-v2 position deletes, spec §Delete
# Formats): each row shadows exactly ONE physical row, addressed by the data
# file's manifest-relative path and its parquet row index (the same ordinal
# Spark exposes as ``_metadata.row_index``).
POS_FILE_COL = "__file"
POS_IDX_COL = "__pos"

# The one Parquet writer profile for every file the engine writes (data,
# delete, change-log and manifest files): zstd pages in the v2 page format.
# Under v2, Spark's writer falls back from dictionary pages to
# DELTA_BYTE_ARRAY for unique string keys and DELTA_BINARY_PACKED for
# longs. Set on each writer, never in the session conf, so a plain
# SparkSession writes the same files. pyarrow spells the same profile as
# ``ARROW_WRITE_OPTIONS``.
PARQUET_WRITE_OPTIONS = {"compression": "zstd", "parquet.writer.version": "v2"}
ARROW_WRITE_OPTIONS = {"compression": "zstd", "data_page_version": "2.0"}

# ASCII characters java.net.URI percent-quotes in a path, i.e. in the
# ``_metadata.file_path`` Spark reports; all others, non-ASCII included,
# stay literal
_URI_QUOTE = str.maketrans(
    {c: f"%{ord(c):02X}" for c in [*map(chr, range(0x21)), "\x7f", *'"#%<>?[\\]^`{|}']}
)

# Commit operations whose resolved row set equals their parent's: they
# re-file rows, fold deletes or change metadata only. The change feed and
# the streaming source both emit nothing for them.
ROW_PRESERVING_OPS = frozenset(
    {
        "create",
        "compact",
        "cluster",
        "apply-deletes",
        "evolve-schema",
        "set-constraint",
        "set-partition-spec",
    }
)


class ConflictError(RuntimeError):
    """Another writer committed since this writer's snapshot was resolved."""


class ConstraintViolation(ValueError):
    """A staged batch (or the existing table, on ADD CONSTRAINT) contains
    rows for which a CHECK constraint evaluates to false."""


class SchemaEvolutionError(RuntimeError):
    """Batch schema changed while the evolution strategy forbids it
    (reference: SchemaEvolutionStrategy 'none', SchemaEvolutionStrategy.scala:15-26)."""


def _json_safe(v: Any) -> Any:
    """Stats values → JSON-storable, order-preserving representations.

    Timestamps/dates become ISO strings (lexicographic order == chronological
    order for a fixed format, so pruning comparisons still work)."""
    if isinstance(v, _dt.datetime):
        return v.strftime("%Y-%m-%dT%H:%M:%S.%f")
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return None
    if isinstance(v, (int, float, str, bool)) or v is None:
        return v
    return str(v)


def _footer_stats(
    abs_path: str, rel_path: str, stats_cols: tuple, bloom_cols: tuple = ()
) -> dict:
    """Pure footer→manifest-entry function, safe to run on executors
    (stdlib + pyarrow only, no SparkSession).

    ``bloom_cols`` additionally builds a per-file key Bloom filter
    (functions/bloom.py) into ``stats[col]["bloom"]`` — the one stat that
    needs column DATA, not just the footer. The read is pruned to exactly
    those columns, so for an image table it touches key strings, never
    pixels; cost is O(keys in this file) on whichever worker stages it."""
    import decimal as _decimal

    import pyarrow as _pa
    import pyarrow.parquet as _pq

    pf = _pq.ParquetFile(abs_path)
    md = pf.metadata
    cols = set(stats_cols)
    # columns whose bounds pyarrow cannot convert (Spark's int-backed
    # decimals) or would convert to Decimal, which as text compares
    # lexicographically and mis-prunes: no min/max, unknown null count
    unreadable: set[str] = set()
    mins: dict[str, Any] = {}
    maxs: dict[str, Any] = {}
    # Per-column null totals (None = at least one row group didn't record
    # them). min/max alone can only prove "no row matches"; null counts are
    # what lets must_match_all prove "EVERY row matches" — the metadata-only
    # DELETE (a null never satisfies a predicate, so a file with unknown
    # null count can never be dropped without reading it).
    nulls: dict[str, int | None] = {}
    seen_rgs: dict[str, int] = {}
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            col = g.column(ci)
            name = col.path_in_schema
            if name not in cols or col.statistics is None:
                continue
            st = col.statistics
            seen_rgs[name] = seen_rgs.get(name, 0) + 1
            if name not in nulls:
                nulls[name] = 0
            if nulls[name] is not None:
                nc = st.null_count
                nulls[name] = None if nc is None else nulls[name] + int(nc)
            if not st.has_min_max:
                continue
            try:
                mn, mx = st.min, st.max
            except _pa.ArrowNotImplementedError:
                unreadable.add(name)
                continue
            if isinstance(mn, _decimal.Decimal):
                unreadable.add(name)
                continue
            mn, mx = _json_safe(mn), _json_safe(mx)
            if mn is not None and (name not in mins or mn < mins[name]):
                mins[name] = mn
            if mx is not None and (name not in maxs or mx > maxs[name]):
                maxs[name] = mx
    # a column whose statistics were missing from SOME row group has an
    # unknowable total — never report a partial count as exact
    for c, n_seen in seen_rgs.items():
        if n_seen < md.num_row_groups or c in unreadable:
            nulls[c] = None
    for c in unreadable:
        mins.pop(c, None)
        maxs.pop(c, None)
    stats = {
        c: {"min": mins.get(c), "max": maxs.get(c), "nulls": nulls.get(c)}
        for c in set(mins) | set(maxs) | set(nulls)
    }
    if bloom_cols:
        import pyarrow as _pa

        from ..functions.bloom import build_bloom

        arrow_schema = pf.schema_arrow
        for c in bloom_cols:
            if c not in arrow_schema.names:
                continue
            typ = arrow_schema.field(c).type
            # string/integer keys only: the bloom hashes the canonical
            # string form, which matches Spark's CAST(key AS STRING) for
            # exactly these types (functions/bloom.py `_hash_values`)
            if not (
                _pa.types.is_string(typ)
                or _pa.types.is_large_string(typ)
                or _pa.types.is_integer(typ)
            ):
                continue
            col = pf.read(columns=[c]).column(c).combine_chunks().drop_null()
            vals = col.to_numpy(zero_copy_only=False)
            stats.setdefault(c, {"min": None, "max": None})["bloom"] = build_bloom(vals)
    return {
        "path": rel_path,
        "bytes": os.path.getsize(abs_path),
        "rows": md.num_rows,
        "stats": stats,
    }


@_functools.lru_cache(maxsize=64)
def _pos_delete_refs(abs_path: str) -> tuple[tuple[str, ...], tuple[int, ...]]:
    """(distinct data-file rel paths, per-path shadowed-row counts) of one
    positional-delete file, memoized — pos-delete files are immutable and
    tiny (matched rows only), and both the scan's target-set derivation and
    the metadata-only count arithmetic re-consult them per query."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    col = pq.ParquetFile(abs_path).read(columns=[POS_FILE_COL]).column(POS_FILE_COL)
    vc = pc.value_counts(col.combine_chunks())
    return (
        tuple(vc.field("values").to_pylist()),
        tuple(vc.field("counts").to_pylist()),
    )


class KeyProbe:
    """The members of an ``=`` / ``in`` filter, prepared once to probe many
    files: grouped by kind, each group sorted for range tests by binary
    search and, for the str and int groups a Bloom filter can answer,
    hashed once.

    A file may match iff some member passes both its range and its Bloom
    filter, as if each member were probed alone. A member whose stats form
    is null or NaN keeps every file: no range comparison can exclude it."""

    def __init__(self, values: Iterable):
        from ..functions.bloom import _hash_values

        self.values = list(values)
        self._parts: dict = {}
        groups: dict[tuple, list] = {}
        self.keeps_all = False
        for v in self.values:
            j = _json_safe(v)
            if j is None or j != j:
                self.keeps_all = True
                continue
            # blooms hash the canonical text of str/int columns
            # (_footer_stats); a probe of another type (42.0, True) hashes
            # other text and would FALSELY prune
            kind = type(v) if type(v) in (str, int) else None
            groups.setdefault((kind, type(j)), []).append(j)
        self.groups = []
        for (kind, _), vals in groups.items():
            arr = np.array(sorted(set(vals)), dtype=object)
            self.groups.append((kind, arr, None if kind is None else _hash_values(arr)))

    def partition_values(self, t) -> set:
        """Each member's partition value under transform ``t``, derived once
        per transform, not once per partition. Stops at the first member
        with no derivable value (None: the transform cannot prune) and, for
        a bucket transform, once every bucket is hit."""
        if t not in self._parts:
            out = self._parts[t] = set()
            for v in self.values:
                out.add(t.value(v))
                if None in out or len(out) == t.arg and t.kind == "bucket":
                    break
        return self._parts[t]

    def may_match(self, entry: "FileEntry", col: str) -> bool:
        """Whether ``entry``, which has stats on ``col``, may hold a member."""
        if self.keeps_all:
            return True
        st = entry.stats[col]
        lo, hi = st.get("min"), st.get("max")
        # the bloom answers only probes of the column's own kind, judged by
        # its min: Spark matches '017' with bigint 17, whose bloom hashed "17"
        col_kind = str if isinstance(lo, str) else int
        for kind, vals, hashes in self.groups:
            i, j = 0, len(vals)
            if lo is not None and hi is not None:
                try:
                    i = np.searchsorted(vals, lo, "left")
                    j = np.searchsorted(vals, hi, "right")
                except TypeError:
                    i, j = 0, len(vals)  # incomparable types: never prune
            if i >= j:
                continue
            if kind is not col_kind or not entry.bloom_excludes(col, hashes[i:j]):
                return True
        return False


@dataclass
class FileEntry:
    path: str  # relative to table root
    bytes: int
    rows: int
    stats: dict[str, dict[str, Any]] = field(default_factory=dict)
    # hive-layout partition values parsed from the path (strings, for
    # grouping/observability; PRUNING uses `stats` — partition columns are
    # duplicated into the data files, so their min==max stats prune exactly)
    partition: dict[str, str] = field(default_factory=dict)
    # Iceberg-v2-style merge-on-read support:
    #   content: "data" (row files) | "pos_deletes" (positional-delete files
    #            — parquet of (__file, __pos) pairs, each shadowing exactly
    #            one physical row of the named data file; path-exact, so a
    #            file leaving the manifest strands its positions harmlessly).
    #            Any other kind is refused by _split_deletes.
    #   seq:     data sequence number, stamped by commit() with the committing
    #            snapshot version; the commit requirements compare it with
    #            their base snapshot. Manifests written before this field
    #            existed load as seq=0.
    content: str = "data"
    seq: int = 0

    def may_match(self, col: str, op: str, value: Any) -> bool:
        """Conservative: False only when stats PROVE no row can match.

        ``=`` and ``in`` additionally consult the column's Bloom filter
        when present: on an arrival-ordered layout every file's range
        contains every key, but the bloom skips all files that provably
        lack them — a manifest-level point read instead of a full-table
        scan. ``value`` of ``=`` / ``in`` may be a :class:`KeyProbe` prepared
        once for many files. Nulls never probe the bloom (built null-free)."""
        st = self.stats.get(col)
        if not st:
            return True
        if op in ("=", "in"):
            if not isinstance(value, KeyProbe):
                value = KeyProbe(value if op == "in" else (value,))
            return value.may_match(self, col)
        lo, hi = st.get("min"), st.get("max")
        if lo is None or hi is None:
            return True
        if op != "between":
            value = _json_safe(value)
        try:
            if op == "<":
                return lo < value
            if op == "<=":
                return lo <= value
            if op == ">":
                return hi > value
            if op == ">=":
                return hi >= value
            if op == "between":  # value = (lo_bound, hi_bound)
                vlo, vhi = (_json_safe(value[0]), _json_safe(value[1]))
                return not (hi < vlo or lo > vhi)
        except TypeError:
            return True  # incomparable types: never prune
        return True

    def bloom_excludes(self, col: str, hashes: np.ndarray) -> bool:
        """True when ``col``'s Bloom filter proves this file holds none of
        the keys hashed (``functions.bloom._hash_values``) into ``hashes``;
        False when the file has no filter on ``col``."""
        bloom = (self.stats.get(col) or {}).get("bloom")
        if not bloom:
            return False
        from ..functions.bloom import bloom_from_stats, bloom_might_contain

        bits, m, k = bloom_from_stats(bloom)
        # chunked: a file stops at its first possible hit, and the (keys × k)
        # probe matrix stays small however many keys are probed
        step = 4096
        return not any(
            bloom_might_contain(bits, m, k, None, h1=hashes[i : i + step]).any()
            for i in range(0, len(hashes), step)
        )

    # Parquet writers may TRUNCATE long binary/string column statistics
    # (min rounded down, max rounded up) — sound for may_match pruning but
    # fatal for proofs of equality. must_match_all only trusts string
    # bounds comfortably below the common 64-byte truncation threshold.
    _STR_STAT_TRUST_LEN = 48

    def must_match_all(self, col: str, op: str, value: Any) -> bool:
        """True only when stats PROVE every row in this file matches — the
        dual of :meth:`may_match`, enabling METADATA-ONLY deletes (Iceberg's
        `delete with metadata` / Delta's file-drop fast path): a predicate
        delete drops the whole file from the manifest without reading it.

        Requires an exact null count of zero for the column (a null never
        satisfies a predicate — a file with nulls, or with an unknown null
        count from a pre-r5 manifest, is never droppable without a read).
        Conservative on any doubt: returning False merely routes the file
        through the rewrite path."""
        st = self.stats.get(col)
        if not st:
            return False
        if st.get("nulls") != 0:
            return False  # unknown (None/absent) or >0: can't prove
        lo, hi = st.get("min"), st.get("max")
        if lo is None or hi is None:
            return False
        for bound in (lo, hi):
            if isinstance(bound, str) and len(bound) >= self._STR_STAT_TRUST_LEN:
                return False  # possibly truncated stats: no equality proofs
        try:
            if op == "in":
                return lo == hi and any(lo == _json_safe(v) for v in value)
            if op == "between":
                vlo, vhi = _json_safe(value[0]), _json_safe(value[1])
                return vlo <= lo and hi <= vhi
            value = _json_safe(value)
            if op == "=":
                return lo == value == hi
            if op == "<":
                return hi < value
            if op == "<=":
                return hi <= value
            if op == ">":
                return lo > value
            if op == ">=":
                return lo >= value
        except TypeError:
            return False  # incomparable types: never prove
        return False


@dataclass
class Snapshot:
    version: int
    parent: int | None
    timestamp_ms: int
    operation: str
    schema_json: dict
    manifest: str
    summary: dict = field(default_factory=dict)

    @property
    def schema(self) -> T.StructType:
        return T.StructType.fromJson(self.schema_json)


class IcepackTable:
    DEFAULT_TARGET_FILE_BYTES = 512 * 1024 * 1024  # north_rule: 512 MB target
    # Manifests at/above this entry count are written as PARQUET instead of
    # JSON (see commit()); both forms round-trip through files() identically.
    MANIFEST_PARQUET_MIN_FILES = 50_000

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = os.path.abspath(root)
        self.meta_dir = os.path.join(self.root, "metadata")
        # Which named ref this handle reads from / commits to. "main" is
        # the implicit default branch backed by the HEAD file (pre-refs
        # tables keep working unchanged); branch views from .branch(name)
        # resolve through metadata/refs.json instead.
        self._ref = "main"

    # ---------------------------------------------------------------- create
    @classmethod
    def create(
        cls,
        spark: SparkSession,
        root: str,
        schema: T.StructType,
        stats_cols: list[str] | None = None,
        partition_by: list[str] | None = None,
        bloom_cols: list[str] | None = None,
    ) -> "IcepackTable":
        if partition_by:
            from .transforms import parse_spec

            missing = [
                tr.col
                for tr in parse_spec(partition_by)  # loud on bad spec syntax
                if tr.col not in {f.name for f in schema.fields}
            ]
            if missing:
                raise ValueError(
                    f"partition transform source column(s) not in schema: "
                    f"{missing}"
                )
        t = cls(spark, root)
        os.makedirs(t.meta_dir, exist_ok=False)
        os.makedirs(os.path.join(t.root, "data"), exist_ok=True)
        manifest_name = "manifest-0.json"
        t._write_json(os.path.join(t.meta_dir, manifest_name), {"entries": []})
        snap = Snapshot(
            version=0,
            parent=None,
            timestamp_ms=int(time.time() * 1000),
            operation="create",
            schema_json=schema.jsonValue(),
            manifest=manifest_name,
            # bloom_cols (opt-in): per-file key Bloom filters in the manifest
            # — the file-skipping index for MERGE pruning on keys the layout
            # is NOT range-clustered by (functions/bloom.py)
            summary={
                "stats_cols": stats_cols,
                "partition_by": partition_by,
                "bloom_cols": bloom_cols,
            },
        )
        t._write_json(os.path.join(t.meta_dir, "snap-0.json"), asdict(snap))
        t._atomic_write(os.path.join(t.meta_dir, "HEAD"), "0")
        return t

    @classmethod
    def load(cls, spark: SparkSession, root: str) -> "IcepackTable":
        t = cls(spark, root)
        if not os.path.exists(os.path.join(t.meta_dir, "HEAD")):
            raise FileNotFoundError(f"not an icepack table: {root}")
        return t

    # ------------------------------------------------------------- metadata
    def head_version(self) -> int:
        if self._ref != "main":
            branches = self.refs()["branches"]
            if self._ref not in branches:
                raise KeyError(f"branch {self._ref!r} does not exist (dropped?)")
            return branches[self._ref]
        return self._main_head()

    def _main_head(self) -> int:
        with open(os.path.join(self.meta_dir, "HEAD")) as f:
            return int(f.read().strip())

    def _max_version(self) -> int:
        """Highest snapshot version present on disk — one directory listing,
        no file reads. Expiry only ever removes OLD snapshots, so the max is
        always >= every live ref pointer."""
        mx = -1
        for name in os.listdir(self.meta_dir):
            if name.startswith("snap-") and name.endswith(".json"):
                try:
                    mx = max(mx, int(name[5:-5]))
                except ValueError:
                    pass
        return mx

    # ----------------------------------------------------- refs (branch/tag)
    # Iceberg branches-and-tags parity: named pointers into the global
    # snapshot line, stored in metadata/refs.json. Branches are writable
    # heads (commits through a .branch(name) view advance them); tags are
    # immutable read markers. Snapshot versions are allocated GLOBALLY
    # (commit() takes max-existing + 1), so two branches never collide on
    # snap-N names; each snapshot's `parent` records its branch ancestry.
    def refs(self) -> dict:
        p = os.path.join(self.meta_dir, "refs.json")
        if not os.path.exists(p):
            return {"branches": {}, "tags": {}}
        with open(p) as f:
            r = json.load(f)
        r.setdefault("branches", {})
        r.setdefault("tags", {})
        return r

    def _write_refs(self, refs: dict) -> None:
        """Caller must hold the commit lock."""
        self._atomic_write(
            os.path.join(self.meta_dir, "refs.json"),
            json.dumps(refs, sort_keys=True),
        )

    @contextmanager
    def _meta_lock(self, max_retries: int = 50):
        """Serialize a refs mutation against commits (and other ref ops)
        with the same COMMIT.lock commit() uses."""
        lock_path = os.path.join(self.meta_dir, "COMMIT.lock")
        for attempt in range(max_retries):
            try:
                fd = os.open(lock_path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            except FileExistsError:
                time.sleep(0.05 * min(attempt + 1, 10))
                continue
            try:
                yield
                return
            finally:
                os.close(fd)
                os.unlink(lock_path)
        raise ConflictError("could not acquire commit lock for refs update")

    def _validate_ref_name(self, name: str) -> None:
        if not name or name == "main" or "/" in name or os.sep in name:
            raise ValueError(f"invalid ref name: {name!r}")

    def create_branch(self, name: str, version: int | None = None) -> int:
        """Create a writable branch at ``version`` (default: this handle's
        current head). The write-audit-publish flow: create_branch →
        commits through .branch(name) → audit its scan → fast_forward →
        drop_branch."""
        self._validate_ref_name(name)
        with self._meta_lock():
            refs = self.refs()
            if name in refs["branches"] or name in refs["tags"]:
                raise ValueError(f"ref {name!r} already exists")
            v = self.head_version() if version is None else version
            self.snapshot(v)  # loud on an unknown/expired version
            refs["branches"][name] = v
            self._write_refs(refs)
        return v

    def create_tag(self, name: str, version: int | None = None) -> int:
        """Create an immutable tag — a retention-pinning read marker
        (expire_snapshots never expires a ref-pointed snapshot)."""
        self._validate_ref_name(name)
        with self._meta_lock():
            refs = self.refs()
            if name in refs["branches"] or name in refs["tags"]:
                raise ValueError(f"ref {name!r} already exists")
            v = self.head_version() if version is None else version
            self.snapshot(v)
            refs["tags"][name] = v
            self._write_refs(refs)
        return v

    def drop_branch(self, name: str) -> None:
        with self._meta_lock():
            refs = self.refs()
            if name not in refs["branches"]:
                raise KeyError(f"branch {name!r} does not exist")
            del refs["branches"][name]
            self._write_refs(refs)

    def drop_tag(self, name: str) -> None:
        with self._meta_lock():
            refs = self.refs()
            if name not in refs["tags"]:
                raise KeyError(f"tag {name!r} does not exist")
            del refs["tags"][name]
            self._write_refs(refs)

    def branch(self, name: str) -> "IcepackTable":
        """A view of this table whose reads AND commits target branch
        ``name``. Every IcepackTable entry point (scan, merge, compaction,
        constraints, rollback, CDF) works unchanged through the view —
        they all resolve through head_version()."""
        if name != "main" and name not in self.refs()["branches"]:
            raise KeyError(f"branch {name!r} does not exist")
        t = IcepackTable(self.spark, self.root)
        t._ref = name
        return t

    def ref_version(self, name: str) -> int:
        """Resolve a branch or tag name to its snapshot version."""
        if name == "main":
            return self._main_head()
        refs = self.refs()
        if name in refs["branches"]:
            return refs["branches"][name]
        if name in refs["tags"]:
            return refs["tags"][name]
        raise KeyError(f"no branch or tag named {name!r}")

    def fast_forward(self, from_branch: str, to_branch: str = "main") -> int:
        """Publish ``from_branch`` by fast-forwarding ``to_branch`` onto its
        head — the WAP (write-audit-publish) publish step. Metadata-only:
        one ancestry walk + one pointer write; no data moves. Raises
        ``ConflictError`` when ``to_branch`` advanced since the branch was
        cut (its head is no longer an ancestor of the branch head), exactly
        Iceberg's fast_forward precondition — rebase by re-merging instead."""
        with self._meta_lock():
            refs = self.refs()
            if from_branch not in refs["branches"]:
                raise KeyError(f"branch {from_branch!r} does not exist")
            src = refs["branches"][from_branch]
            if to_branch == "main":
                dst = self._main_head()
            elif to_branch in refs["branches"]:
                dst = refs["branches"][to_branch]
            else:
                raise KeyError(f"branch {to_branch!r} does not exist")
            v: int | None = src
            while v is not None and v != dst:
                v = self.snapshot(v).parent
            if v != dst:
                raise ConflictError(
                    f"cannot fast-forward {to_branch!r} (v{dst}) to "
                    f"{from_branch!r} (v{src}): v{dst} is not an ancestor"
                )
            if to_branch == "main":
                self._atomic_write(os.path.join(self.meta_dir, "HEAD"), str(src))
            else:
                refs["branches"][to_branch] = src
                self._write_refs(refs)
        return src

    def snapshot(self, version: int | None = None) -> Snapshot:
        v = self.head_version() if version is None else version
        with open(os.path.join(self.meta_dir, f"snap-{v}.json")) as f:
            return Snapshot(**json.load(f))

    def data_path(self, rel_or_abs: str) -> str:
        """Resolve a manifest path: table-relative for native files, kept
        verbatim when absolute — SHALLOW CLONE manifests reference the
        source table's files by absolute path until a rewrite localizes
        them (same contract as Delta shallow clones)."""
        if os.path.isabs(rel_or_abs):
            return rel_or_abs
        return os.path.join(self.root, rel_or_abs)

    def version_as_of(self, timestamp_ms: int) -> int:
        """Delta ``TIMESTAMP AS OF`` resolution: the LATEST snapshot
        committed at or before ``timestamp_ms`` (Delta and Iceberg both
        pick the floor, not the nearest). Raises ``ValueError`` before the
        first commit — reading a table that didn't exist yet must be loud,
        and expired snapshots resolve to a version whose manifest read then
        fails loudly too (same as Delta after VACUUM). Resolution walks
        THIS ref's ancestry (parent chain from its head): commit timestamps
        are monotone along a line, so the first ancestor at or before the
        target is the floor — and another branch's commits can never hijack
        this ref's time travel. Driver cost: one pass over snapshot
        metadata, no manifest reads."""
        v: int | None = self.head_version()
        earliest = None
        while v is not None:
            try:
                s = self.snapshot(v)
            except FileNotFoundError:
                break  # ancestor expired: nothing older is resolvable
            if s.timestamp_ms <= timestamp_ms:
                return s.version
            earliest = s.timestamp_ms
            v = s.parent
        raise ValueError(
            f"no snapshot exists at or before timestamp_ms={timestamp_ms} "
            f"(earliest reachable is {earliest})"
        )

    def snapshots(self) -> list[Snapshot]:
        out = []
        for name in sorted(os.listdir(self.meta_dir)):
            if name.startswith("snap-") and name.endswith(".json"):
                with open(os.path.join(self.meta_dir, name)) as f:
                    out.append(Snapshot(**json.load(f)))
        return sorted(out, key=lambda s: s.version)

    def files(self, version: int | None = None) -> list[FileEntry]:
        snap = self.snapshot(version)
        path = os.path.join(self.meta_dir, snap.manifest)
        if snap.manifest.endswith(".parquet"):
            import pyarrow.parquet as pq

            t = pq.read_table(path)
            n = t.num_rows
            # columns added after round 3 — old parquet manifests lack them
            contents = (
                t["content"].to_pylist() if "content" in t.column_names else ["data"] * n
            )
            seqs = t["seq"].to_pylist() if "seq" in t.column_names else [0] * n
            return [
                FileEntry(
                    path=p,
                    bytes=b,
                    rows=r,
                    stats=json.loads(sj),
                    partition=json.loads(pj),
                    content=c,
                    seq=s,
                )
                for p, b, r, sj, pj, c, s in zip(
                    t["path"].to_pylist(),
                    t["bytes"].to_pylist(),
                    t["rows"].to_pylist(),
                    t["stats_json"].to_pylist(),
                    t["partition_json"].to_pylist(),
                    contents,
                    seqs,
                )
            ]
        with open(path) as f:
            return [FileEntry(**e) for e in json.load(f)["entries"]]

    def schema(self, version: int | None = None) -> T.StructType:
        return self.snapshot(version).schema

    def stats_cols(self, schema: T.StructType | None = None) -> list[str]:
        configured = self.snapshot().summary.get("stats_cols")
        if configured:
            return configured
        schema = schema or self.schema()
        skip = (T.BinaryType, T.ArrayType, T.MapType, T.StructType)
        return [f.name for f in schema.fields if not isinstance(f.dataType, skip)]

    def bloom_cols(self) -> list[str]:
        return self.snapshot().summary.get("bloom_cols") or []

    # ----------------------------------------------------------------- scan
    def scan(
        self,
        version: int | None = None,
        filters: list[tuple] | None = None,
        columns: list[str] | None = None,
        apply_filters: bool = True,
        as_of_timestamp_ms: int | None = None,
        ref: str | None = None,
    ) -> DataFrame:
        """Read a pinned snapshot as a DataFrame with manifest-level pruning.

        ``as_of_timestamp_ms``: Delta ``TIMESTAMP AS OF`` parity — resolve
        the latest snapshot committed at or before the given epoch-millis
        (mutually exclusive with ``version``).

        ``ref``: read a named branch or tag (``VERSION AS OF 'ref'`` /
        Iceberg ``ref`` read option) — resolves through refs.json, mutually
        exclusive with ``version``/``as_of_timestamp_ms``.

        ``filters``: [(col, op, value)] with op in = < <= > >= between in
        (value = iterable of members for ``in``). Files whose min/max stats
        cannot satisfy every filter are skipped before Spark sees them
        (``=``/``in`` additionally probe the column's Bloom filter when the
        table has one); surviving files get the same predicates pushed into
        the parquet scan by Catalyst.

        Merge-on-read: rows the snapshot's pending positional-delete files
        name are resolved out here (:meth:`read_live`). Only the files those
        deletes name pay the anti-join; every other file streams through
        untouched, so the resolution cost follows the recent churn, not the
        table.
        """
        if ref is not None:
            if version is not None or as_of_timestamp_ms is not None:
                raise ValueError(
                    "pass ref OR version/as_of_timestamp_ms, not both"
                )
            version = self.ref_version(ref)
        if as_of_timestamp_ms is not None:
            if version is not None:
                raise ValueError(
                    "pass either version or as_of_timestamp_ms, not both"
                )
            version = self.version_as_of(as_of_timestamp_ms)
        snap = self.snapshot(version)
        data, deletes = self._split_deletes(self.files(snap.version))
        df = self.read_live(
            self.prune_files(data, filters, snap.schema), deletes, snap.schema
        )
        if filters and apply_filters:
            df = df.where(self.filter_column(filters))
        if columns:
            df = df.select(*columns)
        return df

    # ------------------------------------------------------------ read plan
    # The two decisions every reader of live rows makes — which files can
    # match, and which of their rows the pending deletes leave visible —
    # live here and nowhere else (Iceberg's scan planner owns the same
    # pair: file pruning and its DeleteFileIndex).
    @staticmethod
    def prune_files(
        entries: list[FileEntry], filters: list[tuple] | None, schema: T.StructType
    ) -> list[FileEntry]:
        """The entries that may hold a row satisfying every ``(col, op,
        value)`` filter: min/max stats (plus the Bloom filter for ``=`` /
        ``in``) and partition-transform values must both allow it.

        Each file's hive keys reverse-parse to the transforms that wrote it
        (spec evolution can never mis-prune — old files self-describe their
        own layout). Bucket and truncate values are computed from the
        column's text, so they prune only on probes whose ``str()`` is that
        text: str on string columns, int on integral ones. Spark matches
        ``'017'`` and ``11.0`` with the bigints 17 and 11, whose text
        differs. Driver-side, zero data reads."""
        if not filters:
            return list(entries)
        from .transforms import partition_may_match, transforms_for_keys

        types = {f.name: f.dataType for f in schema.fields}

        def textual(c: str, op: str, v: Any) -> bool:
            # type(x) is int, not isinstance: Spark renders a bool 'true'
            dt = types.get(c)
            want = str if isinstance(dt, T.StringType) else (
                int if isinstance(dt, T.IntegralType) else None
            )
            probes = v if op in ("in", "between") else (v,)
            return all(type(x) is want for x in probes)

        exact = [textual(c, op, v) for (c, op, v) in filters]
        text_kinds = ("bucket", "truncate")
        # members hashed, sorted and transformed once, not once per file
        filters = [
            (c, "in", KeyProbe(v if op == "in" else (v,))) if op in ("=", "in")
            else (c, op, v)
            for (c, op, v) in filters
        ]
        # the partition verdict depends on the partition values alone
        verdicts: dict[tuple, bool] = {}

        def partition_keeps(part: dict[str, str]) -> bool:
            tfs = transforms_for_keys(frozenset(part), set(types))
            return all(
                partition_may_match(
                    part,
                    tfs if ok else [t for t in tfs if t.kind not in text_kinds],
                    c, op, v,
                )
                for (c, op, v), ok in zip(filters, exact)
            )

        def keep(e: FileEntry) -> bool:
            if not all(e.may_match(c, op, v) for (c, op, v) in filters):
                return False
            if not e.partition:
                return True
            part = tuple(sorted(e.partition.items()))
            if part not in verdicts:
                verdicts[part] = partition_keeps(e.partition)
            return verdicts[part]

        return [e for e in entries if keep(e)]

    # Key sets up to this many rows are pruned on the driver, larger ones on
    # the executors (prune_by_keys). On 256 Bloom-keyed files and 4 cores
    # the driver took 0.5 s for 100k keys and 6-8 s for 2M, the executors
    # 0.55-0.85 s and 1.6-2.4 s.
    KEY_PROBE_MAX_ROWS = 100_000

    @classmethod
    def prune_by_keys(
        cls,
        entries: list[FileEntry],
        keys_df: DataFrame,
        key_cols: list[str],
        schema: T.StructType,
    ) -> tuple[list[FileEntry], int, bool | None]:
        """The entries that may hold a row whose ``key_cols`` equal those of
        some ``keys_df`` row, the number of ``keys_df`` rows (rows with
        null keys count, though they match no file), and whether two rows
        share a key tuple (None past the cap, or with a floating-point key
        column: Arrow tells 0.0 from -0.0 and NaN payloads apart, Spark's
        joins do not).

        One job collects the key columns. Up to ``KEY_PROBE_MAX_ROWS`` rows,
        each key column becomes an ``in`` filter of its distinct non-null
        values, so ranges, Bloom filters and partition transforms all prune
        (:meth:`prune_files`); per column is sound for composite keys, since
        a file holding a key tuple holds each of its values. Past the cap,
        a second job applies the same filters per Arrow batch on the
        executors and returns the union of the files each batch keeps with
        the row count, so no layout loses pruning to a large key set."""
        import pyarrow as pa
        import pyarrow.compute as pc

        def key_filters(batch) -> list[tuple]:
            return [
                (c, "in", pc.unique(batch.column(c).drop_null()).to_pylist())
                for c in key_cols
            ]

        keys = keys_df.select(*key_cols)
        got = keys.limit(cls.KEY_PROBE_MAX_ROWS + 1).toArrow()
        if got.num_rows <= cls.KEY_PROBE_MAX_ROWS:
            dups = None
            if not any(pa.types.is_floating(got.schema.field(c).type) for c in key_cols):
                dups = got.group_by(key_cols).aggregate([]).num_rows < got.num_rows
            return cls.prune_files(entries, key_filters(got), schema), got.num_rows, dups
        bc = keys_df.sparkSession.sparkContext.broadcast(entries)

        def kept(batches):
            todo, paths, n = bc.value, set(), 0
            for b in batches:
                n += b.num_rows
                paths.update(e.path for e in cls.prune_files(todo, key_filters(b), schema))
                todo = [e for e in todo if e.path not in paths]
            yield pa.RecordBatch.from_pydict(
                {"path": [*paths, None], "n": [0] * len(paths) + [n]}
            )

        try:
            rows = keys.mapInArrow(kept, "path string, n long").groupBy("path").sum("n")
            rows = rows.collect()
        finally:
            bc.destroy()
        hit = {r[0] for r in rows}
        return [e for e in entries if e.path in hit], sum(r[1] for r in rows), None

    @staticmethod
    def filter_column(filters: list[tuple]) -> Column | None:
        """The conjunction of ``(col, op, value)`` filters as one Column
        (None for no filters) — the row-level twin of :meth:`prune_files`."""
        from pyspark.sql import functions as F

        conj = None
        for c, op, v in filters:
            col = F.col(c)
            if op == "between":
                expr = col.between(v[0], v[1])
            elif op == "in":
                expr = col.isin(list(v))
            else:
                expr = {
                    "=": col == v,
                    "<": col < v,
                    "<=": col <= v,
                    ">": col > v,
                    ">=": col >= v,
                }[op]
            conj = expr if conj is None else conj & expr
        return conj

    def read_live(
        self,
        entries: list[FileEntry],
        deletes: list[FileEntry],
        schema: T.StructType,
    ) -> DataFrame:
        """The rows of ``entries`` that the pending positional ``deletes``
        leave visible. Files no delete names are read as one plain scan with
        no join; the named ones (:meth:`delete_hit_candidates`) with their
        row positions, anti-joined against the broadcast (file URI,
        position) pairs, so the cost follows the files holding deleted rows,
        never the table."""
        hits = self.delete_hit_candidates(entries, deletes)
        hit = [e for e in entries if e.path in hits]
        plain = [e for e in entries if e.path not in hits]
        if not hit:
            return self._read_files(plain, schema)
        named = list({d.path: d for ds in hits.values() for d in ds}.values())
        resolved = self.read_with_positions(hit, schema, named).drop("__abs", "__idx")
        if not plain:
            return resolved
        return self._read_files(plain, schema).unionByName(resolved)

    def read_with_positions(
        self,
        entries: list[FileEntry],
        schema: T.StructType,
        deletes: list[FileEntry] = (),
    ) -> DataFrame:
        """The rows of ``entries`` (at least one) that the pending
        positional ``deletes`` leave visible, each with its physical
        address: ``__abs``, the file URI ``_metadata.file_path`` reports,
        and ``__idx``, its parquet row index.

        The one reader of ``_metadata.row_index``: every position mapping
        passes the URI-formula check first, so drift between the manifest
        path and Spark's rendering fails loudly instead of resurrecting or
        losing rows."""
        from pyspark.sql import functions as F

        self._check_uri_formula(entries[0], schema)
        df = (
            self.spark.read.schema(schema)
            .parquet(*[self.data_path(e.path) for e in entries])
            .withColumn("__abs", F.col("_metadata.file_path"))
            .withColumn("__idx", F.col("_metadata.row_index"))
        )
        if not deletes:
            return df
        cond = (F.col("__abs") == F.col("__dabs")) & (
            F.col("__idx") == F.col("__dpos")
        )
        return df.join(F.broadcast(self._pos_delete_df(deletes)), cond, "left_anti")

    def files_holding(self, entries: list[FileEntry], rows: DataFrame) -> dict[str, int]:
        """{manifest path: row count} for the ``entries`` holding at least
        one of ``rows`` — a :meth:`read_with_positions` frame of those
        entries narrowed by a predicate or a join. One ``groupBy`` job; its
        scan reads only the columns the narrowing names. A URI that maps to
        no entry fails loudly: a hit set emptied by URI drift would skip a
        rewrite and let matched rows survive."""
        by_uri = {self._file_uri(e.path): e.path for e in entries}
        out: dict[str, int] = {}
        for uri, n in rows.groupBy("__abs").count().collect():
            if uri not in by_uri:
                raise RuntimeError(
                    f"data-file URI mapping failed: Spark reports {uri!r}, "
                    "which names no candidate file"
                )
            out[by_uri[uri]] = n
        return out

    def delete_hit_candidates(
        self, data: list[FileEntry], deletes: list[FileEntry]
    ) -> dict[str, list[FileEntry]]:
        """For each of the ``data`` files a pending positional-delete file
        names, the delete files naming it, keyed by data path — Iceberg's
        DeleteFileIndex. Exact: read from the delete files' own ``__file``
        column (driver-side pyarrow, memoized per immutable file). Files
        absent from the map need no resolution; the rest are what
        :meth:`read_live` anti-joins and ``apply_deletes`` rewrites."""
        paths = {e.path for e in data}
        assigned: dict[str, list[FileEntry]] = {}
        for d in deletes:
            for rel in _pos_delete_refs(self.data_path(d.path))[0]:
                if rel in paths:
                    assigned.setdefault(rel, []).append(d)
        return assigned

    def _read_files(self, entries: list[FileEntry], schema: T.StructType) -> DataFrame:
        """One plain parquet scan of ``entries`` (an empty frame for none).
        Explicit schema: files written before a schema evolution lack the
        new columns; the parquet reader null-fills them (mergeSchema read
        semantics, DeltaSchemaMigrationSpec parity)."""
        if not entries:
            return empty_frame(self.spark, schema)
        paths = [self.data_path(e.path) for e in entries]
        return self.spark.read.schema(schema).parquet(*paths)

    # ------------------------------------------------- positional deletes
    def pos_delete_targets(self, pos_deletes: list[FileEntry]) -> dict[str, int]:
        """Exact {data-file rel path: shadowed-row count} named by pending
        positional-delete files. Driver-side pyarrow read of the tiny
        ``__file`` column (memoized per immutable file): the counts behind
        the metadata-only :meth:`count_rows`."""
        out: dict[str, int] = {}
        for d in pos_deletes:
            paths, counts = _pos_delete_refs(self.data_path(d.path))
            for p, c in zip(paths, counts):
                out[p] = out.get(p, 0) + c
        return out

    def _file_uri(self, rel_or_abs: str) -> str:
        """The URI ``_metadata.file_path`` reports for a manifest path —
        what lets a positional delete's rel path, or a file's data-sequence
        number, meet the scan's metadata column. Spark renders the path
        through ``java.net.URI``, which percent-quotes spaces, ``%`` and a
        few other ASCII characters. Verified against Spark's actual
        rendering once per table root (:meth:`_check_uri_formula`) so drift
        fails loudly instead of silently resurrecting deleted rows."""
        return "file:" + os.path.abspath(self.data_path(rel_or_abs)).translate(
            _URI_QUOTE
        )

    _URI_FORMULA_CHECKED: set[str] = set()  # class-level, keyed by root

    def _check_uri_formula(self, entry: FileEntry, schema: T.StructType) -> None:
        root_key = os.path.abspath(self.root)
        if root_key in IcepackTable._URI_FORMULA_CHECKED:
            return
        from pyspark.sql import functions as F

        got = (
            # an explicit schema: inferring one would cost a job
            self.spark.read.schema(schema)
            .parquet(self.data_path(entry.path))
            .select(F.col("_metadata.file_path").alias("fp"))
            .limit(1)
            .collect()
        )
        if not got or got[0].fp != self._file_uri(entry.path):
            raise RuntimeError(
                "data-file URI mapping failed: Spark reports "
                f"{got[0].fp if got else '<no rows>'!r} for manifest path "
                f"{entry.path!r}, expected {self._file_uri(entry.path)!r} — "
                "refusing to resolve delete files (a silent mismatch would "
                "resurrect deleted rows)"
            )
        IcepackTable._URI_FORMULA_CHECKED.add(root_key)

    def _pos_delete_df(self, pos_deletes: list[FileEntry]) -> DataFrame:
        """Union of pending pos-delete files as (__dabs, __dpos), read on the
        driver: the files are small by design (matched rows only, and
        callers broadcast the frame), and each distinct rel path maps to the
        URI the scan's ``_metadata.file_path`` reports once, through the
        column's dictionary — no per-row lookup, and no join whose own
        broadcast would cost a second job."""
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        tbl = pa.concat_tables(
            pq.read_table(self.data_path(d.path), columns=[POS_FILE_COL, POS_IDX_COL])
            for d in pos_deletes
        )
        rels = tbl.column(POS_FILE_COL).combine_chunks().dictionary_encode()
        uris = pa.array([self._file_uri(r) for r in rels.dictionary.to_pylist()])
        return self.spark.createDataFrame(
            pa.table(
                {"__dabs": pc.take(uris, rels.indices), "__dpos": tbl.column(POS_IDX_COL)}
            )
        )

    @staticmethod
    def _split_deletes(
        entries: list[FileEntry],
    ) -> tuple[list[FileEntry], list[FileEntry]]:
        """(data, pos_deletes). Raises ``ValueError`` for any other entry
        kind, such as the equality-delete files older releases wrote: no
        reader resolves them, so reading past one would return rows it
        shadows. Fold them with the release that wrote them
        (``apply_deletes``) before upgrading."""
        data = [e for e in entries if e.content == "data"]
        deletes = [e for e in entries if e.content == "pos_deletes"]
        if len(data) + len(deletes) != len(entries):
            kinds = sorted({e.content for e in entries} - {"data", "pos_deletes"})
            raise ValueError(
                f"manifest holds {kinds} entries, which this release does not "
                "read; fold them with the release that wrote them first"
            )
        return data, deletes

    # ---------------------------------------------------------------- write
    def write_data_files(
        self,
        df: DataFrame,
        num_files: int | None = None,
        enforce_constraints: bool = True,
    ) -> list[FileEntry]:
        """Stage a DataFrame as immutable data files; returns manifest
        entries with footer-derived stats. Does NOT commit.

        The writer owns the table layout: data files always take the
        table's partition spec. ``enforce_constraints=False`` skips CHECK
        validation — for
        maintenance rewrites (compact/cluster/apply-deletes), which only
        re-file rows the table already validated.

        A partition spec writes hive-layout subdirectories (``col=val/``) —
        but, unlike plain ``partitionBy``, the partition columns are KEPT in
        the data files (written through a ``__p_<col>`` duplicate that only
        names the directory). That makes every file self-describing: scans
        read leaf files with the table schema directly (no basePath
        inference), min==max footer stats prune partition predicates
        exactly, and maintenance rewrites can never lose a column. The
        parsed partition values land in ``FileEntry.partition`` for
        partition-aware compaction grouping and observability.

        Zero-row part files (an empty repartition bucket, an insert-free
        merge split) are deleted on the spot: they would never join a
        manifest, and snapshot expiry only removes files reachable from
        expired snapshots — left in place they leak forever."""
        if enforce_constraints:
            self._enforce_check_constraints(df)
        partition_by = self.partition_spec()
        stage = f"data/{uuid.uuid4().hex}"
        out_dir = os.path.join(self.root, stage)
        if num_files is not None:
            # with a partition spec, each of the num_files round-robin tasks
            # splits by partition value at write time -> ~num_files files
            # PER hive dir (hashing on the partition cols instead would
            # funnel each value into a single task/file)
            df = df.repartition(num_files) if num_files > 1 else df.coalesce(1)
        if partition_by:
            from .transforms import parse_spec

            # Identity specs keep their bare column name (pname == col), so
            # pre-transform tables write the exact same layout; transform
            # specs (day(ts), bucket(16, image_id), truncate(4, fmt)) derive
            # the hive value from the source column — Iceberg hidden
            # partitioning: the user schema never sees the derived column.
            specs = parse_spec(partition_by)
            dup = [t.column().alias(f"__p_{t.pname}") for t in specs]
            writer = df.select("*", *dup).write.partitionBy(
                *[f"__p_{t.pname}" for t in specs]
            )
        else:
            writer = df.write
        writer.options(**PARQUET_WRITE_OPTIONS).mode("overwrite").parquet(out_dir)
        if partition_by:
            self._strip_partition_prefix(out_dir)
        kept = []
        for e in self.collect_file_entries(stage):
            if e.rows > 0:
                kept.append(e)
            else:
                os.unlink(os.path.join(self.root, e.path))
        if not kept:
            # nothing staged: remove the empty staging dir too
            shutil.rmtree(out_dir, ignore_errors=True)
        return kept

    def write_pos_delete_file(self, positions) -> FileEntry:
        """Stage ONE positional-delete file from an Arrow table of
        (``__file``, ``__pos``) rows, written on the driver: the rows are
        few by design (every reader broadcasts them), and Spark's writer
        would add a job and its schema JSON to a footer that outweighs
        them. ``__file`` keeps its dictionary and carries no statistics:
        nothing reads them (:meth:`pos_delete_targets` reads the column)."""
        import pyarrow.parquet as pq

        rel = os.path.join("data", uuid.uuid4().hex, "pos-deletes.parquet")
        path = os.path.join(self.root, rel)
        os.makedirs(os.path.dirname(path))
        pq.write_table(
            positions.sort_by([(POS_FILE_COL, "ascending"), (POS_IDX_COL, "ascending")]),
            path,
            **ARROW_WRITE_OPTIONS,
            use_dictionary=[POS_FILE_COL],
            write_statistics=False,
            store_schema=False,
        )
        entry = self._footer_entry(path, rel, set())
        entry.content = "pos_deletes"
        return entry

    def discard_staged(self, entries: list[FileEntry]) -> None:
        """Remove the staging dir(s) of never-committed entries entirely —
        including _SUCCESS/.crc markers the entry list doesn't know about.
        Every :meth:`write_data_files` call stages under its own
        data/<uuid>/ root, so the first two path components identify it."""
        roots = set()
        for e in entries:
            parts = e.path.split(os.sep)
            if len(parts) >= 2 and parts[0] == "data":
                roots.add(os.path.join(self.root, parts[0], parts[1]))
        for r in roots:
            shutil.rmtree(r, ignore_errors=True)

    # Below this count, footer stats are read on the driver with a thread
    # pool: a local footer read is ~0.2 ms (pyarrow releases the GIL), while
    # an sc.parallelize python job costs seconds of fixed overhead — measured
    # 3.2 s for 64 files, i.e. the RDD job was 100% overhead at bench scale.
    # The executor fan-out still wins when a commit stages THOUSANDS of files
    # on remote storage (per-footer latency ms-high, count large).
    EXECUTOR_STATS_MIN_FILES = 512

    @staticmethod
    def _strip_partition_prefix(out_dir: str) -> None:
        """Rename ``__p_<col>=val`` staging dirs (the duplicate columns that
        drove partitionBy) to clean hive names ``<col>=val``."""
        for dirpath, dirnames, _names in os.walk(out_dir):
            for d in list(dirnames):
                if d.startswith("__p_") and "=" in d:
                    new = d[len("__p_"):]
                    os.rename(os.path.join(dirpath, d), os.path.join(dirpath, new))
                    dirnames[dirnames.index(d)] = new

    @staticmethod
    def _partition_of(rel_under_stage: str) -> dict[str, str]:
        out: dict[str, str] = {}
        for seg in rel_under_stage.split(os.sep)[:-1]:
            if "=" in seg:
                k, _, v = seg.partition("=")
                out[k] = v
        return out

    def collect_file_entries(
        self, stage_rel: str, use_executors: bool | None = None
    ) -> list[FileEntry]:
        """Manifest entries (footer stats) for every parquet file under a
        staging dir (recursively — hive partition layouts nest).
        ``use_executors=None`` auto-selects: big stagings fan
        the pyarrow footer reads out via ``sc.parallelize`` (at 100 TB a
        commit can stage thousands of files — serial driver reads would
        become the commit's critical path); small ones stay on the driver."""
        stats_cols = tuple(sorted(self.stats_cols()))
        bloom_cols = tuple(sorted(self.bloom_cols()))
        stage_dir = os.path.join(self.root, stage_rel)
        rels = []
        for dirpath, _dirs, names in os.walk(stage_dir):
            for n in names:
                if n.endswith(".parquet"):
                    rels.append(
                        os.path.relpath(os.path.join(dirpath, n), stage_dir)
                    )
        pairs = [
            (os.path.join(stage_dir, r), os.path.join(stage_rel, r))
            for r in sorted(rels)
        ]
        if use_executors is None:
            use_executors = len(pairs) >= self.EXECUTOR_STATS_MIN_FILES
        if use_executors and pairs:
            sc = self.spark.sparkContext
            slices = min(len(pairs), sc.defaultParallelism)
            dicts = (
                sc.parallelize(pairs, slices)
                .map(lambda pr: _footer_stats(pr[0], pr[1], stats_cols, bloom_cols))
                .collect()
            )
            dicts.sort(key=lambda d: d["path"])
        elif len(pairs) > 8:
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(min(16, len(pairs))) as ex:
                dicts = list(
                    ex.map(
                        lambda pr: _footer_stats(pr[0], pr[1], stats_cols, bloom_cols),
                        pairs,
                    )
                )
        else:
            dicts = [_footer_stats(a, r, stats_cols, bloom_cols) for a, r in pairs]
        return [
            FileEntry(
                **d,
                partition=self._partition_of(os.path.relpath(d["path"], stage_rel)),
            )
            for d in dicts
        ]

    def _footer_entry(self, abs_path: str, rel_path: str, stats_cols: set[str]) -> FileEntry:
        # partition parsed from the full table-relative path: stage uuids and
        # 'data' contain no '=', so the hive segments are unambiguous (resume
        # paths rebuild entries through here — they must not lose partitions)
        return FileEntry(
            **_footer_stats(
                abs_path,
                rel_path,
                tuple(sorted(stats_cols)),
                tuple(sorted(self.bloom_cols())),
            ),
            partition=self._partition_of(rel_path),
        )

    # --------------------------------------------------------------- commit
    def _check_requirements(
        self,
        requirements: list[tuple],
        head_entries: list["FileEntry"],
        parent: int,
    ) -> None:
        """Validate commit preconditions against the head manifest the
        commit would build on (see :meth:`commit`). Pure manifest-entry /
        snapshot-metadata arithmetic — no data-file reads — so validating
        on every CAS attempt is free even at 10^6-entry manifests."""
        for req in requirements:
            kind = req[0]
            if kind == "files-live":
                live = {e.path for e in head_entries}
                missing = sorted(set(req[1]) - live)
                if missing:
                    raise ConflictError(
                        f"commit requirement files-live violated: {len(missing)} "
                        f"input file(s) left the table since this operation read "
                        f"them (first: {missing[0]!r}) — recompute from the "
                        "current head"
                    )
            elif kind == "no-new-deletes":
                base = req[1]
                bad = [
                    e for e in head_entries if e.content != "data" and e.seq > base
                ]
                if bad:
                    raise ConflictError(
                        f"commit requirement no-new-deletes violated: {len(bad)} "
                        f"delete file(s) committed after base snapshot {base} — "
                        "their (file, pos) refs would die with a rewrite of "
                        "the files they name and resurrect those rows; "
                        "recompute from the current head"
                    )
            elif kind == "no-new-data":
                base = req[1]
                bad = [
                    e for e in head_entries if e.content == "data" and e.seq > base
                ]
                if bad:
                    raise ConflictError(
                        f"commit requirement no-new-data violated: {len(bad)} "
                        f"data file(s) committed after base snapshot {base}"
                    )
            elif kind == "no-new-copy-commits":
                # COPY INTO exactly-once: two concurrent copies both read
                # the ledger before either committed — the second to reach
                # the lock must see the first's copy commit and recompute
                # its not-yet-loaded set (operators/copy_into.py retries).
                # Walk the parent chain from the commit's base to `parent`;
                # a chain that does not pass through the base (rollback /
                # re-point) or that a concurrent expiry punched a hole in
                # is conservatively a conflict too (retry re-bases near
                # head). Detection is by OPERATION, never summary keys.
                base = req[1]
                v: int | None = parent
                while v is not None and v != base:
                    try:
                        snap = self.snapshot(v)
                    except FileNotFoundError as exc:
                        raise ConflictError(
                            f"commit requirement no-new-copy-commits: "
                            f"snapshot {v} expired mid-validation — retry "
                            "from the current head"
                        ) from exc
                    if snap.operation == "copy-into":
                        raise ConflictError(
                            f"commit requirement no-new-copy-commits "
                            f"violated: snapshot {v} is a COPY INTO commit "
                            f"after base {base} — recompute the loaded set"
                        )
                    v = snap.parent
                if v != base:
                    raise ConflictError(
                        f"commit requirement no-new-copy-commits violated: "
                        f"base snapshot {base} is not an ancestor of {parent}"
                    )
            else:
                raise ValueError(f"unknown commit requirement {kind!r}")

    def commit(
        self,
        operation: str,
        added: Iterable[FileEntry] = (),
        removed_paths: Iterable[str] = (),
        schema: T.StructType | None = None,
        expected_parent: int | None = None,
        summary: dict | None = None,
        max_retries: int = 10,
        entries_override: list[FileEntry] | None = None,
        requirements: Iterable[tuple] | None = None,
    ) -> int:
        """CAS-commit a new snapshot; retries on benign conflicts only when
        the caller did not pin ``expected_parent``.

        ``entries_override`` replaces the usual carry-forward+added/removed
        entry derivation with an exact entry list, seq numbers INCLUDED —
        the rollback path, which restores the target's entries as they
        were.

        Two rules hold for every commit but rollback and clone (which pass
        ``entries_override``), so no caller restates them:

        - every path in ``removed_paths`` is still in the head manifest,
          the implied ``files-live``. A file a concurrent writer already
          removed or re-filed would otherwise come back as this commit's
          output (Delta's ``ConcurrentDeleteDeleteException``);
        - when a data file leaves, so does every positional-delete file
          that names no data file left in the new manifest (Iceberg's
          dangling deletes). The commit's writer read through those
          deletes, so their rows left with the rewrite. ``removed_files``
          in the summary counts them.

        ``requirements`` are Iceberg-style commit preconditions (the
        UpdateRequirements of its optimistic-concurrency retry loop),
        validated under the commit lock against the CURRENT head on every
        attempt, so an unpinned caller rebases onto concurrent commits only
        when its work provably still applies — the middle ground between
        ``expected_parent`` (fail on ANY concurrent commit, the CDC merge's
        single-writer discipline) and blind carry-forward (which would let
        an hours-long compaction silently resurrect rows a concurrent MoR
        merge deleted, or double-write rows a concurrent DELETE rewrote):

        - ``("files-live", paths)`` — every path is still in the head
          manifest; for inputs a commit reads but does not remove, such as
          the files a positional-delete file names.
        - ``("no-new-deletes", base_version)`` — no positional-delete file
          entered the manifest after ``base_version``. Its (file, pos) refs
          die with a rewrite of the files they name, which resurrects the
          rows they shadowed.
        - ``("no-new-data", base_version)`` — no data file entered after
          ``base_version``; for writers whose computed result depends on
          the full row set (serializable rather than snapshot isolation).
        - ``("no-new-copy-commits", base_version)`` — no COPY INTO commit
          landed after ``base_version`` (parent-chain walk over snapshot
          summaries): concurrent copies of the same source would otherwise
          both pass the ledger check and double-load every file.

        Violations raise :class:`ConflictError`; callers that can recompute
        retry the whole operation from the fresh head
        (``operators.concurrency.run_with_commit_retries``)."""
        removed = set(removed_paths)
        added = list(added)
        requirements = list(requirements or ())
        if entries_override is None:
            requirements.insert(0, ("files-live", removed))
        for attempt in range(max_retries):
            parent = self.head_version() if expected_parent is None else expected_parent
            lock_path = os.path.join(self.meta_dir, "COMMIT.lock")
            try:
                fd = os.open(lock_path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            except FileExistsError:
                time.sleep(0.05 * (attempt + 1))
                continue
            try:
                try:
                    current = self.head_version()
                except KeyError as exc:
                    # branch view whose branch was dropped before we took
                    # the lock: a concurrency refusal, not a usage error —
                    # and provably before ANY metadata write (drop_branch
                    # shares this same lock, so it cannot interleave later)
                    raise ConflictError(
                        f"branch {self._ref!r} was dropped before this commit"
                    ) from exc
                if current != parent:
                    if expected_parent is not None:
                        raise ConflictError(
                            f"expected parent {expected_parent}, HEAD is {current}"
                        )
                    continue  # re-resolve under next loop iteration
                prev = self.snapshot(parent)
                old_entries = self.files(parent)
                self._check_requirements(requirements, old_entries, parent)
                if schema is not None and operation != "rollback":
                    # a retired (dropped) column's physical values still
                    # live in old files; re-introducing the NAME would
                    # resurrect them at read time (columns resolve by name,
                    # not field id). Rollback is exempt: it restores the
                    # whole pre-drop state, marker included.
                    retired = set(prev.summary.get("retired_columns") or [])
                    prev_names = {f.name for f in prev.schema.fields}
                    revived = [
                        f.name
                        for f in schema.fields
                        if f.name in retired and f.name not in prev_names
                    ]
                    if revived:
                        raise ValueError(
                            f"column name(s) {revived} were dropped from this "
                            "table; old data files still carry their values, "
                            "so re-adding the name would resurrect deleted "
                            "data — use a new column name"
                        )
                # Versions are allocated GLOBALLY (max existing + 1), not
                # parent + 1: with branches, two lines committing from
                # different parents must never collide on snap-N names.
                # Linear histories are unaffected (max existing == parent).
                version = max(self._max_version(), parent) + 1
                if entries_override is not None:
                    entries = list(entries_override)
                    old_paths = {e.path for e in old_entries}
                    new_paths = {e.path for e in entries}
                    added = [e for e in entries if e.path not in old_paths]
                    removed = old_paths - new_paths
                else:
                    # Stamp the data sequence number: every file added by
                    # this commit is "as of" this snapshot. Carried-over
                    # entries keep theirs — the commit requirements compare
                    # it with their base snapshot.
                    for e in added:
                        e.seq = version
                    entries = [e for e in old_entries if e.path not in removed] + added
                    if any(e.content == "data" for e in old_entries if e.path in removed):
                        live = {e.path for e in entries if e.content == "data"}
                        dangling = {
                            e.path
                            for e in entries
                            if e.content == "pos_deletes"
                            and live.isdisjoint(self.pos_delete_targets([e]))
                        }
                        entries = [e for e in entries if e.path not in dangling]
                        removed = removed | dangling
                # Manifest format by size: JSON for human-scale tables,
                # PARQUET past the threshold — at 10^12 images / 512 MB
                # files the manifest is ~2.4M entries, where JSON costs
                # hundreds of MB and seconds of driver parse per read,
                # while the parquet form is ~20x smaller, column-prunable,
                # and directly readable by Spark (files_df) so maintenance
                # policy queries scale off the driver entirely.
                if len(entries) >= self.MANIFEST_PARQUET_MIN_FILES:
                    manifest_name = f"manifest-{version}.parquet"
                    self._write_manifest_parquet(
                        os.path.join(self.meta_dir, manifest_name), entries
                    )
                else:
                    manifest_name = f"manifest-{version}.json"
                    self._write_json(
                        os.path.join(self.meta_dir, manifest_name),
                        {"entries": [asdict(e) for e in entries]},
                    )
                snap = Snapshot(
                    version=version,
                    parent=parent,
                    timestamp_ms=int(time.time() * 1000),
                    operation=operation,
                    schema_json=(schema or prev.schema).jsonValue(),
                    manifest=manifest_name,
                    summary={
                        # copy-commit attribution must NOT inherit: a
                        # carried copy_ledger would make every later commit
                        # look like a COPY INTO to the ledger machinery
                        **{
                            k: v
                            for k, v in (prev.summary or {}).items()
                            # one-shot per-operation attribution keys must
                            # not inherit (retired_columns DOES — it is the
                            # standing guard, not attribution)
                            if k not in (
                                "copy_ledger", "copy_source",
                                "n_files_copied", "dropped_column",
                            )
                        },
                        **(summary or {}),
                        "added_files": len(added),
                        "removed_files": len(removed),
                        "total_files": len(entries),
                        # data-file totals; with pending deletes the
                        # row total is GROSS (shadowed rows still counted —
                        # count_rows() nets them out)
                        "total_rows": sum(e.rows for e in entries if e.content == "data"),
                        "total_bytes": sum(e.bytes for e in entries if e.content == "data"),
                        "delete_files": sum(1 for e in entries if e.content != "data"),
                        "delete_rows": sum(
                            e.rows for e in entries if e.content != "data"
                        ),
                    },
                )
                self._write_json(
                    os.path.join(self.meta_dir, f"snap-{version}.json"), asdict(snap)
                )
                if self._ref == "main":
                    self._atomic_write(
                        os.path.join(self.meta_dir, "HEAD"), str(version)
                    )
                else:
                    # already under the commit lock — safe to rewrite refs
                    refs = self.refs()
                    if self._ref not in refs["branches"]:
                        raise ConflictError(
                            f"branch {self._ref!r} was dropped mid-commit"
                        )
                    refs["branches"][self._ref] = version
                    self._write_refs(refs)
                return version
            finally:
                os.close(fd)
                os.unlink(lock_path)
        raise ConflictError("could not acquire commit lock")

    def _write_manifest_parquet(self, path: str, entries: list[FileEntry]) -> None:
        """One-row-per-file parquet manifest (path, bytes, rows, stats_json,
        partition_json) — same columns files_df exposes, so Spark reads the
        manifest itself at scale. Written to a temp name + os.replace so a
        concurrent reader never sees a partial file."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        tbl = pa.table(
            {
                "path": pa.array([e.path for e in entries], pa.string()),
                "bytes": pa.array([e.bytes for e in entries], pa.int64()),
                "rows": pa.array([e.rows for e in entries], pa.int64()),
                "stats_json": pa.array(
                    [json.dumps(e.stats, sort_keys=True) for e in entries],
                    pa.string(),
                ),
                "partition_json": pa.array(
                    [json.dumps(e.partition, sort_keys=True) for e in entries],
                    pa.string(),
                ),
                "content": pa.array([e.content for e in entries], pa.string()),
                "seq": pa.array([e.seq for e in entries], pa.int64()),
            }
        )
        tmp = path + ".tmp"
        pq.write_table(tbl, tmp, **ARROW_WRITE_OPTIONS)
        os.replace(tmp, path)

    def files_df(self, version: int | None = None) -> DataFrame:
        """The `files` metadata table (Iceberg's ``table.files`` analogue):
        one row per live data file with path/bytes/rows and JSON-encoded
        per-column min/max stats — manifest-only, zero data files read.
        Lets maintenance policy itself be written as DataFrame queries
        (small-file counts, skewed-file detection, stats coverage).
        A parquet manifest (large tables) is read by Spark DIRECTLY — the
        driver never materializes the entry list."""
        snap = self.snapshot(version)
        if snap.manifest.endswith(".parquet"):
            return self.spark.read.parquet(
                os.path.join(self.meta_dir, snap.manifest)
            )
        rows = [
            (
                e.path,
                e.bytes,
                e.rows,
                json.dumps(e.stats, sort_keys=True),
                json.dumps(e.partition, sort_keys=True),
                e.content,
                e.seq,
            )
            for e in self.files(version)
        ]
        # same 7 columns as the parquet-manifest path — policy queries like
        # files_df().where("content = 'data'") must work on both formats
        schema = T.StructType(
            [
                T.StructField("path", T.StringType()),
                T.StructField("bytes", T.LongType()),
                T.StructField("rows", T.LongType()),
                T.StructField("stats_json", T.StringType()),
                T.StructField("partition_json", T.StringType()),
                T.StructField("content", T.StringType()),
                T.StructField("seq", T.LongType()),
            ]
        )
        return self.spark.createDataFrame(rows, schema)

    def history_df(self) -> DataFrame:
        """The `history`/`snapshots` metadata table: one row per snapshot
        (version, parent, commit time, operation, file/row/byte totals) —
        the audit surface for time travel and expiry decisions."""
        rows = [
            (
                s.version,
                s.parent,
                # pin committed_at to UTC like the rest of the engine —
                # naive fromtimestamp would shift with the driver's local TZ
                _dt.datetime.fromtimestamp(
                    s.timestamp_ms / 1000.0, tz=_dt.timezone.utc
                ).replace(tzinfo=None),
                s.operation,
                int(s.summary.get("total_files", 0) or 0),
                int(s.summary.get("total_rows", 0) or 0),
                int(s.summary.get("total_bytes", 0) or 0),
            )
            for s in self.snapshots()
        ]
        schema = T.StructType(
            [
                T.StructField("version", T.LongType()),
                T.StructField("parent", T.LongType()),
                T.StructField("committed_at", T.TimestampType()),
                T.StructField("operation", T.StringType()),
                T.StructField("total_files", T.LongType()),
                T.StructField("total_rows", T.LongType()),
                T.StructField("total_bytes", T.LongType()),
            ]
        )
        return self.spark.createDataFrame(rows, schema)

    def count_rows(self, version: int | None = None) -> int:
        """Exact row count from manifest entries alone — zero data files
        read (the metadata-only COUNT(*) pushdown a table format owes its
        users; footer-derived row counts are exact).

        Pending positional deletes keep it metadata-only: each pos-delete
        row shadows exactly one physical row of a named file, and writers
        only ever name still-visible rows (matches are computed against the
        resolved view), so net = gross - shadowed, with dangling references
        to since-removed files excluded driver-side."""
        data, pos = self._split_deletes(self.files(version))
        gross = sum(e.rows for e in data)
        if not pos:
            return gross
        live = {e.path for e in data}
        shadowed = sum(
            c for p, c in self.pos_delete_targets(pos).items() if p in live
        )
        return gross - shadowed

    def describe(self, version: int | None = None) -> dict:
        """Observability summary of a snapshot: file/row/byte totals and
        file-size distribution — all from the manifest, no data read."""
        snap = self.snapshot(version)
        all_entries = self.files(snap.version)
        entries = [e for e in all_entries if e.content == "data"]
        dels = [e for e in all_entries if e.content != "data"]
        sizes = sorted(e.bytes for e in entries)

        def pct(p: float) -> int:
            return sizes[min(len(sizes) - 1, int(p * len(sizes)))] if sizes else 0

        return {
            "version": snap.version,
            "operation": snap.operation,
            "files": len(entries),
            # gross when delete files are pending (shadowed rows included)
            "rows": sum(e.rows for e in entries),
            "bytes": sum(sizes),
            "file_bytes_min": sizes[0] if sizes else 0,
            "file_bytes_p50": pct(0.5),
            "file_bytes_p90": pct(0.9),
            "file_bytes_max": sizes[-1] if sizes else 0,
            "columns": len(snap.schema.fields),
            "delete_files": len(dels),
            "delete_rows": sum(e.rows for e in dels),
            # file-skipping index coverage: merges/point-lookups prune with
            # blooms only on the files that carry one (mixed tables happen
            # when bloom_cols is enabled mid-life)
            "bloom_files": sum(
                1
                for e in entries
                if any("bloom" in (st or {}) for st in e.stats.values())
            ),
        }

    # ----------------------------------------------------------- table stats
    # ANALYZE TABLE output (row count + per-column ndv/nulls/min/max) lives
    # in ONE JSON file beside the snapshots, stamped with the version it was
    # computed at — optimizer-style metadata, not part of the commit chain
    # (recomputing stats must not create table history, matching Delta).
    def _stats_path(self) -> str:
        return os.path.join(self.root, "metadata", "stats.json")

    def set_table_stats(self, stats: dict) -> None:
        self._write_json(self._stats_path(), stats)

    def table_stats(self) -> dict | None:
        try:
            with open(self._stats_path()) as f:
                return json.load(f)
        except FileNotFoundError:
            return None

    # ------------------------------------------------------- common actions
    def set_partition_spec(self, partition_by: list[str] | None) -> int:
        """Partition-spec EVOLUTION (Iceberg ``update_spec`` parity):
        metadata-only commit; files written from now on use the new layout,
        existing files keep their old hive values, and scan pruning handles
        both (each file's partition keys reverse-parse to the transforms
        that wrote it — `transforms.transforms_for_keys`). Pass None/[] to
        stop partitioning new writes."""
        if partition_by:
            from .transforms import parse_spec

            schema_cols = {f.name for f in self.schema().fields}
            missing = [
                tr.col for tr in parse_spec(partition_by)
                if tr.col not in schema_cols
            ]
            if missing:
                raise ValueError(
                    f"partition transform source column(s) not in schema: "
                    f"{missing}"
                )
        return self.commit(
            "set-partition-spec",
            summary={"partition_by": list(partition_by or [])},
        )

    def partitions_df(self) -> DataFrame:
        """The `partitions` metadata table (Iceberg ``table.partitions``
        analogue): one row per live partition tuple with file/row/byte
        totals — manifest-only, zero data reads. Unpartitioned files group
        under the empty-JSON partition."""
        agg: dict[str, list[int]] = {}
        for e in self.files():
            if e.content != "data":
                continue
            k = json.dumps(e.partition, sort_keys=True)
            a = agg.setdefault(k, [0, 0, 0])
            a[0] += 1
            a[1] += e.rows
            a[2] += e.bytes
        rows = [
            (k, n, r, b) for k, (n, r, b) in sorted(agg.items())
        ]
        return self.spark.createDataFrame(
            rows, "partition string, n_files long, rows long, bytes long"
        )

    def partition_spec(self) -> list[str]:
        """Table partition columns declared at create time ([] if none)."""
        return list(self.snapshot().summary.get("partition_by") or [])

    # ---------------------------------------------------- CHECK constraints
    def check_constraints(self) -> dict[str, str]:
        """Active CHECK constraints as {name: sql_expr} (Delta
        ``ALTER TABLE ADD CONSTRAINT`` parity). Carried forward by every
        commit's summary merge; rollback restores the target snapshot's
        set (constraints added later are rolled back with it, like Delta)."""
        return dict(self.snapshot().summary.get("check_constraints") or {})

    def add_check_constraint(self, name: str, expr: str) -> int:
        """Register a CHECK constraint after validating the EXISTING data
        satisfies it (full-table scan with limit-1 early exit — the Delta
        ADD CONSTRAINT contract: a constraint you can't trust on day one
        is worthless). Metadata-only commit; enforcement happens on every
        subsequent data write in ``write_data_files``. SQL-standard
        semantics: NULL/unknown passes, only definite FALSE violates."""
        from pyspark.sql import functions as F

        cs = self.check_constraints()
        if name in cs:
            raise ValueError(f"constraint {name!r} already exists: {cs[name]}")
        # analysis errors (typos, unknown columns) surface here, loudly
        bad = (
            self.scan()
            .filter(~F.coalesce(F.expr(expr).cast("boolean"), F.lit(True)))
            .limit(1)
            .collect()
        )
        if bad:
            raise ConstraintViolation(
                f"existing data violates CHECK {name!r} ({expr}), e.g. "
                f"{str(bad[0].asDict())[:200]}"
            )
        cs[name] = expr
        return self.commit("set-constraint", summary={"check_constraints": cs})

    def drop_check_constraint(self, name: str) -> int:
        cs = self.check_constraints()
        if name not in cs:
            raise ValueError(f"no such constraint: {name!r}")
        del cs[name]
        return self.commit("set-constraint", summary={"check_constraints": cs})

    def _enforce_check_constraints(self, df: DataFrame) -> None:
        """Reject a staged batch containing any row where a constraint is
        definitively false. One filter+limit(1) pass over the batch (no
        shuffle, stops at the first violation; clean batches pay one extra
        batch-local scan — maintenance rewrites skip it entirely since
        they carry already-validated rows). Constraints referencing
        columns absent from this frame are skipped: their columns are
        validated where they exist."""
        from pyspark.errors import AnalysisException
        from pyspark.sql import functions as F

        applicable: dict[str, str] = {}
        for n, e in self.check_constraints().items():
            try:
                df.select(F.expr(e))  # driver-side analysis only
            except AnalysisException:
                continue
            applicable[n] = e
        if not applicable:
            return
        ok = [
            F.coalesce(F.expr(e).cast("boolean"), F.lit(True))
            for e in applicable.values()
        ]
        violated = ~_functools.reduce(lambda a, b: a & b, ok)
        probe = (
            df.filter(violated)
            .select(
                *[o.alias(f"__ok_{n}") for n, o in zip(applicable, ok)],
                F.struct(*df.columns).alias("__row"),
            )
            .limit(1)
            .collect()
        )
        if probe:
            row = probe[0]
            names = [n for n in applicable if not row[f"__ok_{n}"]]
            raise ConstraintViolation(
                f"batch violates CHECK constraint(s) {names} "
                f"({ {n: applicable[n] for n in names} }), e.g. "
                f"{str(row['__row'].asDict())[:200]}"
            )

    def append(self, df: DataFrame, num_files: int | None = None) -> int:
        entries = self.write_data_files(df, num_files=num_files)
        return self.commit("append", added=entries)

    def overwrite_all(self, df: DataFrame, num_files: int | None = None) -> int:
        old = [e.path for e in self.files()]
        entries = self.write_data_files(df, num_files=num_files)
        try:
            return self.commit("overwrite", added=entries, removed_paths=old)
        except ConflictError:
            self.discard_staged(entries)  # a refused commit leaves no files
            raise

    def rollback(self, version: int) -> int:
        """Restore HEAD to the state of an earlier snapshot — Delta
        ``RESTORE TABLE ... TO VERSION AS OF`` / Iceberg
        ``rollback_to_snapshot`` parity (the reference leans on Delta's
        version surface for recovery, README.md:103-113 time-travel notes).

        Commits a NEW snapshot (history is preserved: the undone versions
        stay time-travelable until expired) whose manifest is exactly the
        target snapshot's entry list, ORIGINAL data sequence numbers
        included. The target snapshot's schema is restored too, undoing
        later evolve_schema commits.

        Raises ``FileNotFoundError`` if any target data file was already
        physically removed (snapshot expired + orphans vacuumed) — same
        failure mode as Delta RESTORE after VACUUM. Driver cost is one
        manifest read + one manifest write; no data moves."""
        head = self.head_version()
        if version == head:
            return head
        target = self.snapshot(version)  # raises on unknown version
        entries = self.files(version)
        missing = [
            e.path
            for e in entries
            if not os.path.exists(self.data_path(e.path))
        ]
        if missing:
            raise FileNotFoundError(
                f"cannot rollback to v{version}: {len(missing)} data file(s) "
                f"no longer exist (expired/vacuumed), e.g. {missing[0]}"
            )
        # The summary must restore the TARGET's state keys, not inherit
        # HEAD's. Bookkeeping totals are recomputed by commit() regardless.
        tgt_summary = target.summary or {}
        return self.commit(
            "rollback",
            schema=target.schema,
            summary={
                **tgt_summary,
                # forced even when absent in the target: a constraint added
                # after the target snapshot must roll back with it (commit()
                # merges HEAD's summary, which would otherwise keep it)
                "check_constraints": tgt_summary.get("check_constraints"),
                "restored_version": version,
            },
            entries_override=entries,
        )

    def clone(self, dest_root: str) -> "IcepackTable":
        """SHALLOW CLONE (Delta ``CREATE TABLE ... SHALLOW CLONE`` parity):
        a new, independent table whose first commit references THIS table's
        current data files by absolute path — zero bytes copied, driver
        cost is one manifest read + one manifest write. Writes to the clone
        stage new files under the clone's own root; maintenance rewrites
        (compact/cluster/merge) progressively localize it. The clone's
        expiry never deletes absolute (source-owned) paths — it only drops
        them from its manifests (operators/expire.py) — while expiry on the
        SOURCE can still invalidate a clone that references expired files,
        exactly Delta's documented VACUUM-vs-clone hazard.

        Cloned entries are re-stamped to data-sequence 1, below every
        commit of the clone's own version line. Cloning a table WITH
        pending deletes is refused — their positions name the source's
        files; run ``apply_deletes`` first."""
        import dataclasses

        head = self.snapshot()
        entries = self.files(head.version)
        if any(e.content != "data" for e in entries):
            raise ValueError(
                "cannot shallow-clone a table with pending delete files "
                "(a positional delete's file refs would not survive a "
                "later localizing rewrite); run apply_deletes() first"
            )
        summary = head.summary or {}
        t = IcepackTable.create(
            self.spark,
            dest_root,
            head.schema,
            stats_cols=summary.get("stats_cols"),
            partition_by=summary.get("partition_by"),
            bloom_cols=summary.get("bloom_cols"),
        )
        cloned = [
            dataclasses.replace(e, path=self.data_path(e.path), seq=1)
            for e in entries
        ]
        t.commit(
            "clone",
            summary={
                "cloned_from": os.path.abspath(self.root),
                "cloned_version": head.version,
                "check_constraints": summary.get("check_constraints"),
            },
            entries_override=cloned,
        )
        return t

    def drop_column(self, name: str) -> int:
        """Metadata-only DROP COLUMN (Iceberg drop-column parity; Delta
        needs column mapping for this — here explicit read schemas already
        make extra file columns invisible, so no byte is rewritten and time
        travel before the drop still sees the column). Columns that other
        table machinery depends on are refused loudly: partition-transform
        sources, CHECK-constraint references, configured stats/bloom
        columns, and the engine's merge-metadata columns."""
        from .transforms import parse_spec

        snap = self.snapshot()
        current = snap.schema
        if name not in {f.name for f in current.fields}:
            raise KeyError(f"no such column: {name!r}")
        if len(current.fields) == 1:
            raise ValueError("cannot drop the only column")
        if name.startswith("datastream_metadata_"):
            raise ValueError(f"{name!r} is an engine merge-metadata column")
        # exact transform-source comparison, not a text search (a column
        # named like a transform keyword must not be falsely refused)
        for t in parse_spec(self.partition_spec()):
            if t.col == name:
                raise ValueError(
                    f"column {name!r} drives a partition transform — "
                    "change the partition spec first"
                )
        word = re.compile(rf"\b{re.escape(name)}\b")
        for cname, expr in self.check_constraints().items():
            # mask string literals so a constraint comparing against the
            # literal text of the name does not block the drop
            if word.search(re.sub(r"'[^']*'", " ", expr)):
                raise ValueError(
                    f"column {name!r} is referenced by CHECK constraint "
                    f"{cname!r} — drop the constraint first"
                )
        summary_patch = {}
        for key in ("stats_cols", "bloom_cols"):
            cols = snap.summary.get(key) or []
            if name in cols:
                if key == "bloom_cols":
                    raise ValueError(
                        f"column {name!r} carries the table's Bloom index — "
                        "recreate without bloom_cols first"
                    )
                summary_patch[key] = [c for c in cols if c != name]
        new_schema = T.StructType(
            [f for f in current.fields if f.name != name]
        )
        # retired_columns inherits forward (unlike the one-shot
        # dropped_column attribution): old files still carry the physical
        # column, so re-adding the NAME would resurrect deleted values —
        # commit() refuses that for as long as the marker lives
        retired = list(snap.summary.get("retired_columns") or [])
        if name not in retired:
            retired.append(name)
        # expected_parent pins the schema read: a concurrent ADD COLUMNS
        # must fail this commit (retry re-reads) rather than be silently
        # erased by rebasing a stale precomputed schema
        return self.commit(
            "evolve-schema", schema=new_schema,
            expected_parent=snap.version,
            summary={
                "dropped_column": name,
                "retired_columns": retired,
                **summary_patch,
            },
        )

    def evolve_schema(
        self, batch_schema: T.StructType, strategy: str = "merge"
    ) -> int | None:
        """Schema evolution with the reference's three strategies
        (SchemaEvolutionStrategy.scala:15-26, applied as a writer option in
        DeltaSchemaMigration.scala:51-67). Metadata-only commit; returns the
        new version, or None if no change was needed.

        - ``merge``: new columns appended nullable, removed columns retained.
        - ``overwrite``: target schema replaced by the batch schema; engine
          metadata columns (``datastream_metadata_*``) are retained, matching
          the reference's buildTargetSchema = payload ⊕ flattened metadata
          (DeltaSchemaMigration.scala:70-73). Files written under the old
          schema keep their bytes; dropped columns simply stop being read.
        - ``none``: any batch column missing from the target raises
          SchemaEvolutionError — evolution is forbidden.
        """
        current = self.schema()
        existing = {f.name for f in current.fields}
        new_fields = [
            T.StructField(f.name, f.dataType, True)
            for f in batch_schema.fields
            if f.name not in existing
        ]
        if strategy == "none":
            if new_fields:
                raise SchemaEvolutionError(
                    "schema evolution disabled but batch adds columns: "
                    + ", ".join(f.name for f in new_fields)
                )
            return None
        if strategy == "merge":
            if not new_fields:
                return None
            merged = T.StructType(list(current.fields) + new_fields)
            return self.commit("evolve-schema", schema=merged)
        if strategy == "overwrite":
            batch_names = {f.name for f in batch_schema.fields}
            meta_keep = [
                f
                for f in current.fields
                if f.name.startswith("datastream_metadata_")
                and f.name not in batch_names
            ]
            # force nullable: files written before the evolution lack any
            # newly-declared column and scan() null-fills it — a non-null
            # schema promise would let Catalyst elide null checks wrongly
            target = T.StructType(
                [T.StructField(f.name, f.dataType, True) for f in batch_schema.fields]
                + meta_keep
            )
            if [ (f.name, f.dataType) for f in target.fields ] == [
                (f.name, f.dataType) for f in current.fields
            ]:
                return None
            return self.commit(
                "evolve-schema", schema=target, summary={"evolution": "overwrite"}
            )
        raise ValueError(f"unknown schema evolution strategy: {strategy!r}")

    # ------------------------------------------------------------- internals
    def _write_json(self, path: str, obj: dict) -> None:
        self._atomic_write(
            path, json.dumps(obj, separators=(",", ":"), default=_json_safe)
        )

    def _atomic_write(self, path: str, text: str) -> None:
        tmp = f"{path}.tmp.{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            f.write(text)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, path)
