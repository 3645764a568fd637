"""Deployment config (config.py): defaults, JSON file load, env overlay —
the pytest mirror of the reference's DatastreamDeltaConfigSpec round-trip
(config/DatastreamDeltaConfigSpec.scala:58-63 against test.conf)."""

from __future__ import annotations

import json

import pytest

from datastream_deltalake_connector_spark.config import ENV_VARS, ConnectorConfig


def test_defaults_match_reference():
    cfg = ConnectorConfig.load(env={})
    # the reference's application.conf defaults
    assert cfg.read_format == "avro"
    assert cfg.file_read_concurrency == 2
    assert cfg.merge_frequency == "1 minute"
    assert cfg.microbatch_partitions is None
    assert cfg.schema_evolution == "merge"
    assert cfg.target_file_bytes == 512 * 1024 * 1024


def test_file_then_env_precedence(tmp_path):
    p = tmp_path / "deploy.json"
    p.write_text(
        json.dumps(
            {
                "read_format": "json",
                "file_read_concurrency": 5,
                "microbatch_partitions": 4,
            }
        )
    )
    cfg = ConnectorConfig.load(str(p), env={})
    assert (cfg.read_format, cfg.file_read_concurrency, cfg.microbatch_partitions) == (
        "json", 5, 4,
    )
    # env overlays the file, like PureConfig's ${?VAR}
    cfg2 = ConnectorConfig.load(
        str(p),
        env={"DATASTREAM_READ_FORMAT": "parquet", "DELTA_SCHEMA_EVOLUTION": "none"},
    )
    assert cfg2.read_format == "parquet"
    assert cfg2.schema_evolution == "none"
    assert cfg2.file_read_concurrency == 5  # file value survives


def test_validation_and_unknown_keys(tmp_path):
    with pytest.raises(ValueError):
        ConnectorConfig(read_format="orc")
    with pytest.raises(ValueError):
        ConnectorConfig(schema_evolution="sometimes")
    with pytest.raises(ValueError):
        ConnectorConfig(file_read_concurrency=0)
    p = tmp_path / "bad.json"
    p.write_text(json.dumps({"raed_format": "json"}))
    with pytest.raises(ValueError, match="unknown config keys"):
        ConnectorConfig.load(str(p), env={})


def test_env_vars_cover_every_reference_knob():
    fields = {f for (f, _t) in ENV_VARS.values()}
    for knob in (
        "read_format", "file_read_concurrency", "merge_frequency",
        "microbatch_partitions", "schema_evolution", "target_file_size_mb",
    ):
        assert knob in fields


def test_json_roundtrip(tmp_path):
    cfg = ConnectorConfig(read_format="json", microbatch_partitions=8)
    p = tmp_path / "rt.json"
    p.write_text(cfg.to_json())
    assert ConnectorConfig.load(str(p), env={}) == cfg


def test_merge_mode_knob(tmp_path):
    # default is merge-on-read; copy-on-write stays selectable
    assert ConnectorConfig().merge_mode == "mor"
    assert ConnectorConfig(merge_mode="cow").merge_mode == "cow"
    with pytest.raises(ValueError, match="merge_mode"):
        ConnectorConfig(merge_mode="sideways")
    # env overlay, PureConfig ${?VAR} spirit
    cfg = ConnectorConfig.load(
        None, env={"DELTA_MERGE_MODE": "mor", "DELTA_MOR_MAX_DELETE_FILES": "3"}
    )
    assert (cfg.merge_mode, cfg.mor_max_delete_files) == ("mor", 3)


def test_apply_path_defaults_agree():
    """Every connector entry point and the fold policy default to the same
    apply path as ConnectorConfig: merge-on-read, folding at 8 delete files
    or a 0.3 tombstone ratio."""
    import inspect

    from datastream_deltalake_connector_spark.operators.mor import maybe_apply_deletes
    from datastream_deltalake_connector_spark.streaming.ingest import (
        ConnectorDaemon,
        merge_log_to_table,
        run_connector_once,
    )

    cfg = ConnectorConfig()
    assert (cfg.merge_mode, cfg.mor_max_delete_files, cfg.mor_max_delete_ratio) == (
        "mor", 8, 0.3,
    )
    for fn in (run_connector_once, merge_log_to_table, ConnectorDaemon):
        params = inspect.signature(fn).parameters
        for name in ("merge_mode", "mor_max_delete_files", "mor_max_delete_ratio"):
            assert params[name].default == getattr(cfg, name), (fn, name)
    params = inspect.signature(maybe_apply_deletes).parameters
    assert params["max_delete_files"].default == cfg.mor_max_delete_files
    assert params["max_delete_ratio"].default == cfg.mor_max_delete_ratio


def test_bloom_filters_knob():
    assert ConnectorConfig().bloom_filters is False
    for raw, want in (("1", True), ("true", True), ("off", False), ("no", False)):
        assert (
            ConnectorConfig.load(None, env={"DELTA_BLOOM_FILTERS": raw}).bloom_filters
            is want
        )
    with pytest.raises(ValueError, match="boolean"):
        ConnectorConfig.load(None, env={"DELTA_BLOOM_FILTERS": "maybe"})
