"""Deployment config: typed defaults + JSON file + environment overlays.

The reference loads a HOCON ``application.conf`` through PureConfig with
env-var substitutions per setting (reference: config/Config.scala:12-48,
resources/application.conf:1-52 — e.g. ``read-format = ${?DATASTREAM_READ_FORMAT}``,
``merge-frequency = ${?DELTA_MERGE_FREQUENCY}``). Round 1 was argparse-only:
there was no single place to set format/trigger/thresholds per deployment.

This module is the PySpark-native equivalent: a frozen dataclass of typed
settings with the same knobs, loadable from a JSON file (HOCON needs a
third-party parser this container doesn't ship; JSON is stdlib and
spark-submit friendly) and overlaid by the same-spirit environment
variables. Precedence: env > file > defaults — identical to PureConfig's
``${?VAR}`` substitution semantics.
"""

from __future__ import annotations

import dataclasses
import json
import os
from dataclasses import dataclass

__all__ = [
    "ConnectorConfig",
    "ENV_VARS",
    "DEFAULT_MERGE_MODE",
    "DEFAULT_MOR_MAX_DELETE_FILES",
    "DEFAULT_MOR_MAX_DELETE_RATIO",
]

# Connector apply-path defaults, declared once: ConnectorConfig, the
# streaming entry points (streaming/ingest.py) and the fold policy
# (operators/mor.maybe_apply_deletes) all read them from here.
# mor: each micro-batch writes only its own rows plus a key-only
# equality-delete file, so write cost follows the change, not the table.
DEFAULT_MERGE_MODE = "mor"
# fold (apply the pending delete files) once this many pile up, or once
# their tombstones reach this share of the data rows — 0.3 is Iceberg's
# rewrite-data-files ``delete-ratio-threshold``
DEFAULT_MOR_MAX_DELETE_FILES = 8
DEFAULT_MOR_MAX_DELETE_RATIO = 0.3


def _parse_bool(v: str) -> bool:
    if v.lower() in ("1", "true", "yes", "on"):
        return True
    if v.lower() in ("0", "false", "no", "off"):
        return False
    raise ValueError(f"not a boolean: {v!r}")


# env var → (field, parser); names mirror the reference's application.conf
ENV_VARS: dict[str, tuple[str, object]] = {
    "DATASTREAM_READ_FORMAT": ("read_format", str),
    "DATASTREAM_FILE_READ_CONCURRENCY": ("file_read_concurrency", int),
    "DELTA_MERGE_FREQUENCY": ("merge_frequency", str),
    "DELTA_MICROBATCH_PARTITIONS": ("microbatch_partitions", int),
    "DELTA_SCHEMA_EVOLUTION": ("schema_evolution", str),
    "DELTA_TARGET_FILE_SIZE_MB": ("target_file_size_mb", int),
    "DELTA_AUTO_COMPACT_MIN_FILES": ("auto_compact_min_files", int),
    "DELTA_MERGE_MODE": ("merge_mode", str),
    "DELTA_MOR_MAX_DELETE_FILES": ("mor_max_delete_files", int),
    "DELTA_MOR_MAX_DELETE_RATIO": ("mor_max_delete_ratio", float),
    "DELTA_BLOOM_FILTERS": ("bloom_filters", _parse_bool),
    "DATASTREAM_TABLE_SOURCE": ("table_source", str),
    "DATASTREAM_BUCKET": ("bucket", str),
    "DATASTREAM_PREFIX": ("prefix", str),
    "DELTA_CHECKPOINT_DIR": ("checkpoint_dir", str),
}


@dataclass(frozen=True)
class ConnectorConfig:
    """Engine-wide knobs (reference parity noted per field).

    The connector applies CDC micro-batches merge-on-read by default
    (``merge_mode="mor"``), unlike the reference's per-batch Delta MERGE:
    a batch writes its own rows and one key-only delete file, and the
    rewrite of the files those deletes hit is folded in bulk once
    ``mor_max_delete_files`` delete files or a ``mor_max_delete_ratio``
    tombstone share (0.3) pile up. While deletes are pending, reads of the
    merged table pay one broadcast anti-join. ``merge_mode="cow"`` keeps
    the reference's rewrite-per-batch plan."""

    # source (application.conf:10,14-15)
    read_format: str = "avro"  # the reference's default
    file_read_concurrency: int = 2  # maxFilesPerTrigger
    table_source: str = "local"  # 'local' | 'gcs' (TableProvider dispatch)
    bucket: str | None = None
    prefix: str | None = None
    # merge stage (application.conf:29-30; Config.scala:41-54)
    merge_frequency: str = "1 minute"  # processing-time trigger
    microbatch_partitions: int | None = None  # coalesce(n) small-file control
    schema_evolution: str = "merge"  # merge | overwrite | none
    # mor (default): merge-on-read equality deletes (operators/mor.py) —
    # O(batch) writes per micro-batch, deferred rewrite via
    # maybe_apply_deletes; cow: rewrite touched files per batch (the
    # reference's Delta MERGE)
    merge_mode: str = DEFAULT_MERGE_MODE
    mor_max_delete_files: int = DEFAULT_MOR_MAX_DELETE_FILES
    mor_max_delete_ratio: float = DEFAULT_MOR_MAX_DELETE_RATIO
    # per-file primary-key Bloom filters in the manifest (functions/bloom.py)
    # — file-skipping for merges into layouts min/max ranges cannot prune
    # (arrival-ordered ingest). Costs a key-column read per staged file.
    bloom_filters: bool = False
    # maintenance (Config.scala:57-111 — the engine implements these natively;
    # auto_compact_min_files = Databricks autoCompact.enabled+minNumFiles:
    # None disables, N compacts after any merged batch once N small files
    # accumulate — the reference's application.conf:38-45 default is OFF)
    auto_compact_min_files: int | None = None
    target_file_size_mb: int = 512
    checkpoint_dir: str | None = None

    def __post_init__(self):
        if self.read_format not in ("avro", "parquet", "json"):
            raise ValueError(f"read_format must be avro|parquet|json: {self.read_format!r}")
        if self.schema_evolution not in ("merge", "overwrite", "none"):
            raise ValueError(
                f"schema_evolution must be merge|overwrite|none: {self.schema_evolution!r}"
            )
        if self.table_source not in ("local", "gcs"):
            raise ValueError(f"table_source must be local|gcs: {self.table_source!r}")
        if self.file_read_concurrency < 1:
            raise ValueError("file_read_concurrency must be >= 1")
        if self.merge_mode not in ("cow", "mor"):
            raise ValueError(f"merge_mode must be cow|mor: {self.merge_mode!r}")

    @property
    def target_file_bytes(self) -> int:
        return self.target_file_size_mb * 1024 * 1024

    @classmethod
    def load(
        cls, path: str | None = None, env: dict[str, str] | None = None
    ) -> "ConnectorConfig":
        """defaults ← JSON file ← env overlay (PureConfig ``${?VAR}`` spirit)."""
        values: dict = {}
        if path:
            with open(path) as f:
                data = json.load(f)
            known = {f.name for f in dataclasses.fields(cls)}
            unknown = set(data) - known
            if unknown:
                raise ValueError(f"unknown config keys in {path}: {sorted(unknown)}")
            values.update(data)
        env = os.environ if env is None else env
        for var, (field_name, parse) in ENV_VARS.items():
            if var in env and env[var] != "":
                values[field_name] = parse(env[var])
        return cls(**values)

    def to_json(self) -> str:
        return json.dumps(dataclasses.asdict(self), indent=1, sort_keys=True)
