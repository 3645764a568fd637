"""Partition transforms — Iceberg "hidden partitioning" for icepack tables.

The reference rides Delta, which only has identity partition columns; Iceberg's
signature improvement is a partition SPEC of transforms over source columns —
``day(ts)``, ``bucket(16, image_id)``, ``truncate(4, fmt)`` — so queries filter
on the SOURCE column and the engine derives partition pruning, with no derived
column leaking into the user schema (public spec: Iceberg partition transforms).

Spec strings accepted (whitespace-insensitive):

    fmt                      identity
    day(ts) / month(ts) / hour(ts) / year(ts)
    bucket(16, image_id)     md5-based, same function as sampling.hash_bucket
    truncate(4, image_id)    strings: prefix; ints: floor to multiple

Scale posture: transform pruning happens DRIVER-SIDE against the per-file
partition values parsed from hive paths (``FileEntry.partition``) — zero data
reads, conservative on any doubt (absent key / unparseable value / unsupported
op keeps the file). Monotone transforms (day/month/hour/year, truncate) prune
range predicates; bucket prunes only ``=`` / ``in`` (a hash preserves no
order). Partition-spec EVOLUTION is a metadata-only commit: new files get the
new layout, old files keep their old partition values, and per-file pruning
just checks whatever keys each file actually has — both layouts co-exist in
one table exactly as Iceberg's spec-id machinery allows.
"""

from __future__ import annotations

import hashlib
import re
from dataclasses import dataclass
from datetime import date, datetime
from typing import Any

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = ["Transform", "parse_spec", "partition_may_match"]

_FMT = {
    "year": "yyyy",
    "month": "yyyy-MM",
    "day": "yyyy-MM-dd",
    "hour": "yyyy-MM-dd-HH",
}
_PYFMT = {
    "year": "%Y",
    "month": "%Y-%m",
    "day": "%Y-%m-%d",
    "hour": "%Y-%m-%d-%H",
}

_SPEC_RE = re.compile(
    r"^\s*(?:(?P<kind>year|month|day|hour|bucket|truncate)\s*\(\s*"
    r"(?:(?P<arg>\d+)\s*,\s*)?(?P<col>\w+)\s*\)|(?P<ident>\w+))\s*$"
)


@dataclass(frozen=True)
class Transform:
    kind: str  # identity | year | month | day | hour | bucket | truncate
    col: str
    arg: int | None = None

    @property
    def pname(self) -> str:
        """Hive directory key. Identity keeps the bare column name, so
        pre-transform tables (and their existing layouts) parse unchanged."""
        if self.kind == "identity":
            return self.col
        if self.arg is not None:
            return f"{self.col}_{self.kind}{self.arg}"
        return f"{self.col}_{self.kind}"

    # ------------------------------------------------------------- write side
    def column(self) -> Column:
        c = F.col(self.col)
        if self.kind == "identity":
            return c
        if self.kind in _FMT:
            return F.date_format(c, _FMT[self.kind])
        if self.kind == "bucket":
            # EXACTLY sampling.hash_bucket(salt="") — Column side and the
            # driver twin below must agree byte-for-byte or pruning lies
            h = F.md5(c.cast("string"))
            return (
                F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % self.arg
            )
        if self.kind == "truncate":
            return F.substring(c.cast("string"), 1, self.arg)
        raise ValueError(f"unknown transform kind: {self.kind}")

    # ------------------------------------------------------------ driver twin
    def value(self, v: Any) -> str | None:
        """The partition value a row with source value ``v`` lands in, as the
        STRING hive paths carry. None = cannot derive (prune must keep)."""
        if v is None:
            return None
        try:
            if self.kind == "identity":
                return str(v)
            if self.kind in _PYFMT:
                dt = _as_datetime(v)
                return None if dt is None else dt.strftime(_PYFMT[self.kind])
            if self.kind == "bucket":
                # str(v) equals Spark's CAST(col AS STRING) only for str and
                # int probes: bool renders 'true', 17.0 renders '17.0'
                if isinstance(v, bool) or not isinstance(v, (str, int)):
                    return None
                return str(
                    int(hashlib.md5(str(v).encode()).hexdigest()[:8], 16)
                    % self.arg
                )
            if self.kind == "truncate":
                return str(v)[: self.arg]
        except (ValueError, TypeError):
            return None
        return None

    @property
    def monotone(self) -> bool:
        """String-ordered partition values preserve the source order:
        zero-padded date formats and string-prefix truncate do; bucket and
        integer truncate (string compare of numerics lies: '9' > '10') do
        not. Identity is handled by stats pruning already."""
        return self.kind in _PYFMT or (self.kind == "truncate")

    def _cmp_ok(self, v: Any) -> bool:
        """truncate is only monotone under STRING comparison semantics when
        the probe is a string (prefix order == value order); for numeric
        probes the string compare is unsound — refuse."""
        if self.kind == "truncate":
            return isinstance(v, str)
        return True


def _as_datetime(v: Any):
    if isinstance(v, datetime):
        return v
    if isinstance(v, date):
        return datetime(v.year, v.month, v.day)
    if isinstance(v, str):
        for fmt in ("%Y-%m-%d %H:%M:%S", "%Y-%m-%d %H:%M:%S.%f", "%Y-%m-%d"):
            try:
                return datetime.strptime(v, fmt)
            except ValueError:
                continue
    return None


def parse_spec(specs: list[str]) -> list[Transform]:
    out = []
    for s in specs or []:
        m = _SPEC_RE.match(s)
        if not m:
            raise ValueError(f"unparseable partition transform: {s!r}")
        if m.group("ident"):
            out.append(Transform("identity", m.group("ident")))
            continue
        kind, arg, col = m.group("kind"), m.group("arg"), m.group("col")
        if kind in ("bucket", "truncate"):
            if not arg or int(arg) <= 0:
                raise ValueError(f"{kind} needs a positive width/count: {s!r}")
            out.append(Transform(kind, col, int(arg)))
        else:
            if arg:
                raise ValueError(f"{kind} takes no numeric argument: {s!r}")
            out.append(Transform(kind, col))
    return out


_PNAME_RE = re.compile(
    r"^(?P<col>\w+)_(?P<kind>year|month|day|hour)$"
    r"|^(?P<col2>\w+)_(?P<kind2>bucket|truncate)(?P<arg>\d+)$"
)


def transforms_for_keys(
    keys: frozenset[str] | set[str], schema_cols: set[str]
) -> list[Transform]:
    """Reverse-parse a FILE's hive partition keys back into transforms —
    pruning therefore needs no spec history: every file self-describes its
    own layout (pname encodes kind+arg+col), so partition-spec evolution
    never mis-prunes old files. A key is a transform only when its source
    column exists in the schema AND the key itself is NOT a schema column
    (a real column named ``ts_day`` shadows the transform reading — then we
    conservatively treat it as identity, which stats pruning covers)."""
    out = []
    for k in keys:
        if k in schema_cols:
            out.append(Transform("identity", k))
            continue
        m = _PNAME_RE.match(k)
        if not m:
            continue
        if m.group("kind"):
            col, kind, arg = m.group("col"), m.group("kind"), None
        else:
            col, kind, arg = m.group("col2"), m.group("kind2"), int(m.group("arg"))
        if col in schema_cols:
            out.append(Transform(kind, col, arg))
    return out


def partition_may_match(
    partition: dict[str, str],
    transforms: list[Transform],
    col: str,
    op: str,
    value: Any,
) -> bool:
    """Conservative transform pruning: False only when THIS file's partition
    values PROVE no row can satisfy ``col op value``. Mirrors the contract of
    ``FileEntry.may_match`` and composes with it (stats still prune too).

    Identity keys never prune here: Spark hive-escapes their directory
    values (``a:b`` → ``a%3Ab``, ``True`` → ``true``), so ``str(value)``
    cannot be compared with them, and the column kept in the file already
    prunes exactly through its min == max stats."""
    for t in transforms:
        if t.kind == "identity" or t.col != col or t.pname not in partition:
            continue
        p = partition[t.pname]
        if op == "=":
            exp = t.value(value)
            if exp is not None and p != exp:
                return False
        elif op == "in":
            # a prepared probe (icepack.KeyProbe) derives them once per transform
            exps = (
                value.partition_values(t)
                if hasattr(value, "partition_values")
                else {t.value(v) for v in value}
            )
            if None not in exps and p not in exps:
                return False
        elif t.monotone and t._cmp_ok(value) and op in ("<", "<=", ">", ">=", "between"):
            # col < v  =>  T(col) <= T(v): keep iff p <= T(v); dual for >
            if op == "between":
                lo, hi = t.value(value[0]), t.value(value[1])
                if lo is not None and p < lo:
                    return False
                if hi is not None and p > hi:
                    return False
            else:
                exp = t.value(value)
                if exp is None:
                    continue
                if op in ("<", "<=") and p > exp:
                    return False
                if op in (">", ">=") and p < exp:
                    return False
    return True
