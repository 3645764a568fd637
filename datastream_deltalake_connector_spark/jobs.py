"""Job entrypoints for ``spark-submit`` (north_rule: "run via spark-submit
--py-files on a multi-executor cluster").

The reference boots one resident streaming driver (reference: jobs/
DatastreamDeltaStreamingJob.scala:19-36 — config load → SparkSession →
connector → awaitAnyTermination). This engine is maintenance-job oriented:
each invocation runs one stage against an icepack table and exits, so a
scheduler (Airflow/cron/NOMAD) owns the cadence and two cluster sizes are a
matter of the submit command, not the code:

    zip -r engine.zip datastream_deltalake_connector_spark
    spark-submit --master <cluster> --py-files engine.zip \
        -- jobs.py merge --table /warehouse/images --batch /dumps/batch42.parquet

    subcommands:
      init     --table PATH [--partition-by fmt]  create an empty image table
      ingest   --table PATH --batch PARQUET      append a generated/base batch
      merge    --table PATH --batch PARQUET      CDC merge a change batch
               [--mode cow|mor]                  (mor = positional deletes)
      apply-deletes --table PATH [--if-needed]   pay the deferred MoR rewrite
      compact  --table PATH [--target-mb N]      FFD bin-pack small files
      autocompact --table PATH [--min-num-files N]  compact only past threshold
      cluster  --table PATH [--curve zorder|hilbert]
      expire   --table PATH [--keep-last N]
      restore  --table PATH --version N          rollback HEAD to snapshot N
      constraint --table PATH (--add NAME EXPR | --drop NAME | --list)
      clone    --table SRC --dest DST            zero-copy shallow clone
      branch   --table PATH (--create NAME [--at N] | --drop NAME | --list)
      tag      --table PATH (--create NAME [--at N] | --drop NAME)
      publish  --table PATH --branch NAME [--to main] [--keep-branch]
                                                 WAP fast-forward publish
      delete   --table PATH --where SQL [--filters JSON] [--mode cow|mor]
                                                 DELETE FROM ... WHERE
                                                 (mor = positional deletes)
      update   --table PATH --set JSON --where SQL [--filters JSON]
               [--mode cow|mor]                  UPDATE ... SET ... WHERE
      sql      --warehouse PATH --execute STMT  run one statement of the
               [--out PARQUET] [--limit N]      Delta-style dialect (sql.py):
                                                SELECT/DML/MERGE/OPTIMIZE/
                                                VACUUM/HISTORY/RESTORE/DDL
      orphans  --table PATH [--grace-seconds S] [--dry-run]
      describe --table PATH                      manifest-only snapshot summary
      scan     --table PATH [--out PARQUET]
               [--version N | --as-of-ms MS | --ref NAME]
                                                 snapshot scan (+ export)
      connector --root PATH --warehouse PATH     reference-style CDC pipeline
                                                 (discover → log → merge, one drain)
      daemon    --root PATH --warehouse PATH     resident mode: continuous
                [--duration S]                   per-table streams, supervised
                                                 awaitAnyTermination parity

On a cluster, ``master`` comes from spark-submit and executors bring their
own cores; locally the SPARK_GRAFT_CPUS env picks local[k]. Compaction and
clustering journal per-bin lineage and resume from it (see
table/lineage.py), so a preempted compact or cluster job is re-submitted
with the same --job-id and skips completed work.
"""

from __future__ import annotations

import argparse
import json
import sys


def _spark():
    from .session import get_spark

    return get_spark(app_name="icepack-job")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="icepack-job")
    sub = ap.add_subparsers(dest="cmd", required=True)

    def common(p):
        p.add_argument("--table", required=True)
        p.add_argument("--job-id", default=None)
        p.add_argument("--config", default=None, help="JSON deployment config")

    p = sub.add_parser("init")
    common(p)
    p.add_argument(
        "--partition-by",
        default=None,
        help="comma-separated hive partition columns (e.g. fmt)",
    )
    p.add_argument(
        "--bloom-cols",
        default=None,
        help="comma-separated key columns to index with per-file Bloom "
        "filters (merge file-skipping on unclustered layouts)",
    )
    p = sub.add_parser("ingest")
    common(p)
    p.add_argument("--batch", required=True)
    p.add_argument("--num-files", type=int, default=None)
    p = sub.add_parser("merge")
    common(p)
    p.add_argument("--batch", required=True)
    p.add_argument(
        "--mode",
        default=None,
        choices=["cow", "mor"],
        help="cow rewrites touched files; mor lands positional deletes "
        "(operators/mor.py). Default: config merge_mode",
    )
    p = sub.add_parser(
        "apply-deletes",
        help="major compaction of pending merge-on-read positional deletes "
        "(rewrite hit data files, drop delete files)",
    )
    common(p)
    p.add_argument(
        "--if-needed",
        action="store_true",
        help="apply only past the maybe_apply_deletes thresholds",
    )
    p.add_argument(
        "--max-delete-files", type=int, default=None,
        help="default: config mor_max_delete_files",
    )
    p.add_argument(
        "--max-delete-ratio", type=float, default=None,
        help="default: config mor_max_delete_ratio",
    )
    p = sub.add_parser("compact")
    common(p)
    p.add_argument("--target-mb", type=int, default=512)
    p = sub.add_parser("cluster")
    common(p)
    p.add_argument("--curve", default="zorder", choices=["zorder", "hilbert"])
    p.add_argument("--num-files", type=int, default=None)
    p.add_argument("--incremental", action="store_true",
                   help="recluster only files added since the last cluster commit")
    p = sub.add_parser("autocompact")
    common(p)
    p.add_argument("--target-mb", type=int, default=512)
    p.add_argument("--min-num-files", type=int, default=10)
    p = sub.add_parser("expire")
    common(p)
    p.add_argument("--keep-last", type=int, default=2)
    p = sub.add_parser("restore")
    common(p)
    p.add_argument("--version", type=int, required=True,
                   help="snapshot version to restore HEAD to")
    p = sub.add_parser("clone")
    common(p)
    p.add_argument("--dest", required=True, help="destination table root")
    p = sub.add_parser("constraint")
    common(p)
    g = p.add_mutually_exclusive_group(required=True)
    g.add_argument("--add", nargs=2, metavar=("NAME", "EXPR"),
                   help="add CHECK constraint (validates existing data)")
    g.add_argument("--drop", metavar="NAME")
    g.add_argument("--list", action="store_true", dest="list_constraints")
    p = sub.add_parser("branch", help="create/drop/list branches (refs.json)")
    common(p)
    g = p.add_mutually_exclusive_group(required=True)
    g.add_argument("--create", metavar="NAME")
    g.add_argument("--drop", metavar="NAME")
    g.add_argument("--list", action="store_true", dest="list_refs")
    p.add_argument("--at", type=int, default=None,
                   help="snapshot version to cut the branch at (default HEAD)")
    p = sub.add_parser("tag", help="create/drop immutable tags (pin retention)")
    common(p)
    g = p.add_mutually_exclusive_group(required=True)
    g.add_argument("--create", metavar="NAME")
    g.add_argument("--drop", metavar="NAME")
    p.add_argument("--at", type=int, default=None)
    p = sub.add_parser(
        "publish",
        help="WAP publish: fast-forward main (or --to) onto a branch head",
    )
    common(p)
    p.add_argument("--branch", required=True)
    p.add_argument("--to", default="main")
    p.add_argument("--keep-branch", action="store_true",
                   help="do not drop the branch after publishing")
    p = sub.add_parser(
        "delete", help="DELETE FROM table WHERE <SQL predicate> (rowops)"
    )
    common(p)
    p.add_argument("--where", required=True, help="SQL predicate")
    p.add_argument(
        "--filters",
        default=None,
        help='JSON [[col,op,value],...] prunable conjunction ANDed with '
        '--where (enables manifest pruning + metadata-only drops)',
    )
    p.add_argument("--mode", choices=("cow", "mor"), default="cow",
                   help="cow rewrites touched files; mor lands ONE "
                   "positional-delete file (O(matched rows) writes)")
    p = sub.add_parser(
        "update", help="UPDATE table SET <assignments> WHERE <SQL predicate>"
    )
    common(p)
    p.add_argument("--set", required=True, dest="assignments",
                   help='JSON {"col": "SQL expr", ...} (exprs see OLD values)')
    p.add_argument("--where", required=True, help="SQL predicate")
    p.add_argument("--filters", default=None,
                   help="JSON [[col,op,value],...] prunable conjunction")
    p.add_argument("--mode", choices=("cow", "mor"), default="cow",
                   help="cow rewrites touched files; mor appends updated "
                   "rows + ONE positional-delete file")
    p = sub.add_parser("orphans")
    common(p)
    p.add_argument("--grace-seconds", type=float, default=3 * 24 * 3600)
    p.add_argument("--dry-run", action="store_true")
    p = sub.add_parser("describe")
    common(p)
    p = sub.add_parser("scan")
    common(p)
    p.add_argument("--out", default=None)
    p.add_argument("--version", type=int, default=None)
    p.add_argument("--as-of-ms", type=int, default=None,
                   help="TIMESTAMP AS OF: latest snapshot at/before epoch-ms")
    p.add_argument("--ref", default=None,
                   help="read a named branch or tag (VERSION AS OF 'ref')")
    p = sub.add_parser(
        "sql",
        help="run a statement of the Delta-style dialect (sql.py) against "
        "a warehouse of icepack tables",
    )
    p.add_argument("--warehouse", required=True)
    p.add_argument("--execute", required=True, help="the SQL statement text")
    p.add_argument("--out", default=None, help="write result to parquet")
    p.add_argument(
        "--limit", type=int, default=20,
        help="max result rows echoed as JSON (full result via --out)",
    )
    p = sub.add_parser("connector")
    p.add_argument("--root", required=True)
    p.add_argument("--warehouse", required=True)
    p.add_argument("--format", default=None, help="overrides config read_format")
    p.add_argument(
        "--config",
        default=None,
        help="JSON deployment config (config.ConnectorConfig); env vars "
        "overlay it exactly like the reference's HOCON ${?VAR} substitution",
    )
    p = sub.add_parser(
        "daemon",
        help="resident multi-table connector (reference long-running mode: "
        "continuous triggers + awaitAnyTermination, but supervised)",
    )
    p.add_argument("--root", required=True)
    p.add_argument("--warehouse", required=True)
    p.add_argument("--format", default=None)
    p.add_argument("--config", default=None)
    p.add_argument(
        "--duration",
        type=float,
        default=None,
        help="stop after N seconds (default: run until a stream dies or "
        "interrupt); health + failures print as JSON on exit",
    )
    args = ap.parse_args(argv)

    from .config import ConnectorConfig

    cfg = ConnectorConfig.load(getattr(args, "config", None))

    spark = _spark()
    out: dict = {"cmd": args.cmd}
    if args.cmd == "connector":
        from .sources.discovery import make_table_source
        from .streaming.ingest import run_connector_once

        out["tables"] = run_connector_once(
            spark,
            args.root,
            args.warehouse,
            fmt=args.format or cfg.read_format,
            max_files_per_trigger=cfg.file_read_concurrency,
            microbatch_partitions=cfg.microbatch_partitions,
            table_source=make_table_source(cfg, args.root),
            auto_compact_min_files=cfg.auto_compact_min_files,
            merge_mode=cfg.merge_mode,
            mor_max_delete_files=cfg.mor_max_delete_files,
            mor_max_delete_ratio=cfg.mor_max_delete_ratio,
            bloom_filters=cfg.bloom_filters,
        )
        print(json.dumps(out))
        return 0
    if args.cmd == "daemon":
        from .sources.discovery import make_table_source
        from .streaming.ingest import ConnectorDaemon

        daemon = ConnectorDaemon(
            spark,
            args.root,
            args.warehouse,
            fmt=args.format or cfg.read_format,
            max_files_per_trigger=cfg.file_read_concurrency,
            table_source=make_table_source(cfg, args.root),
            processing_time=cfg.merge_frequency,
            microbatch_partitions=cfg.microbatch_partitions,
            auto_compact_min_files=cfg.auto_compact_min_files,
            merge_mode=cfg.merge_mode,
            mor_max_delete_files=cfg.mor_max_delete_files,
            mor_max_delete_ratio=cfg.mor_max_delete_ratio,
            bloom_filters=cfg.bloom_filters,
        ).start()
        try:
            dead = daemon.await_any_termination(timeout=args.duration)
            # sample health BEFORE stop(): after it every stream reads 0
            # live and a healthy run would be indistinguishable from a
            # fully-dead one
            out["health"] = daemon.poll()
        finally:
            daemon.stop()
        daemon.poll()  # reap any terminal failures surfaced by stop()
        out["failures"] = daemon.failures
        out["terminated_table"] = dead
        out["targets"] = daemon.targets
        print(json.dumps(out))
        return 1 if daemon.failures else 0

    from .table import IcepackTable

    if args.cmd == "init":
        from .sources.generator import MERGED_IMAGE_SCHEMA

        part = args.partition_by.split(",") if args.partition_by else None
        bloom = args.bloom_cols.split(",") if args.bloom_cols else None
        t = IcepackTable.create(
            spark, args.table, MERGED_IMAGE_SCHEMA, partition_by=part,
            bloom_cols=bloom,
        )
        out["version"] = t.head_version()
    elif args.cmd == "ingest":
        t = IcepackTable.load(spark, args.table)
        df = spark.read.parquet(args.batch)
        out["version"] = t.append(df, num_files=args.num_files)
    elif args.cmd == "merge":
        t = IcepackTable.load(spark, args.table)
        batch = spark.read.parquet(args.batch)
        if (args.mode or cfg.merge_mode) == "mor":
            from .operators.mor import merge_into_table_mor

            out["version"] = merge_into_table_mor(
                t, batch, schema_evolution=cfg.schema_evolution
            )
        else:
            from .operators.table_merge import merge_into_table

            out["version"] = merge_into_table(
                t, batch, schema_evolution=cfg.schema_evolution
            )
    elif args.cmd == "apply-deletes":
        from .operators.mor import apply_deletes, maybe_apply_deletes

        t = IcepackTable.load(spark, args.table)
        if args.if_needed:
            out["version"] = maybe_apply_deletes(
                t,
                max_delete_files=(
                    args.max_delete_files
                    if args.max_delete_files is not None
                    else cfg.mor_max_delete_files
                ),
                max_delete_ratio=(
                    args.max_delete_ratio
                    if args.max_delete_ratio is not None
                    else cfg.mor_max_delete_ratio
                ),
            )
        else:
            out["version"] = apply_deletes(t)
    elif args.cmd == "compact":
        from .operators.compaction import compact

        t = IcepackTable.load(spark, args.table)
        out["version"] = compact(
            t, target_bytes=args.target_mb * 1024 * 1024, job_id=args.job_id
        )
    elif args.cmd == "cluster":
        from .operators.clustering import cluster

        t = IcepackTable.load(spark, args.table)
        out["version"] = cluster(
            t, curve=args.curve, num_files=args.num_files, job_id=args.job_id,
            incremental=args.incremental,
        )
    elif args.cmd == "autocompact":
        from .operators.compaction import maybe_compact

        t = IcepackTable.load(spark, args.table)
        out["version"] = maybe_compact(
            t,
            min_num_files=args.min_num_files,
            target_bytes=args.target_mb * 1024 * 1024,
            job_id=args.job_id,
        )
    elif args.cmd == "expire":
        from .operators.expire import expire_snapshots

        t = IcepackTable.load(spark, args.table)
        report = expire_snapshots(t, keep_last=args.keep_last)
        out["expired"] = report["expired_snapshots"]
        out["deleted_files"] = report["n_deleted_files"]
        out["delete_failures"] = report.get("n_delete_failures", 0)
    elif args.cmd == "restore":
        t = IcepackTable.load(spark, args.table)
        out["version"] = t.rollback(args.version)
        out["restored_version"] = args.version
    elif args.cmd == "clone":
        t = IcepackTable.load(spark, args.table)
        c = t.clone(args.dest)
        out["dest"] = args.dest
        out["cloned_version"] = c.snapshot().summary["cloned_version"]
        out["rows"] = c.count_rows()
    elif args.cmd == "constraint":
        t = IcepackTable.load(spark, args.table)
        if args.add:
            out["version"] = t.add_check_constraint(args.add[0], args.add[1])
        elif args.drop:
            out["version"] = t.drop_check_constraint(args.drop)
        out["constraints"] = t.check_constraints()
    elif args.cmd == "branch":
        t = IcepackTable.load(spark, args.table)
        if args.create:
            out["version"] = t.create_branch(args.create, version=args.at)
            out["branch"] = args.create
        elif args.drop:
            t.drop_branch(args.drop)
            out["dropped"] = args.drop
        out["refs"] = t.refs()
    elif args.cmd == "tag":
        t = IcepackTable.load(spark, args.table)
        if args.create:
            out["version"] = t.create_tag(args.create, version=args.at)
            out["tag"] = args.create
        elif args.drop:
            t.drop_tag(args.drop)
            out["dropped"] = args.drop
        out["refs"] = t.refs()
    elif args.cmd == "publish":
        t = IcepackTable.load(spark, args.table)
        out["version"] = t.fast_forward(args.branch, to_branch=args.to)
        if not args.keep_branch:
            t.drop_branch(args.branch)
        out["published"] = args.branch
        out["to"] = args.to
    elif args.cmd == "delete":
        from .operators.rowops import delete_where, delete_where_mor

        t = IcepackTable.load(spark, args.table)
        filters = [tuple(f) for f in json.loads(args.filters)] if args.filters else None
        op = delete_where_mor if args.mode == "mor" else delete_where
        out.update(op(t, filters, residual_sql=args.where))
    elif args.cmd == "update":
        from .operators.rowops import update_where, update_where_mor

        t = IcepackTable.load(spark, args.table)
        filters = [tuple(f) for f in json.loads(args.filters)] if args.filters else None
        op = update_where_mor if args.mode == "mor" else update_where
        out.update(
            op(
                t, json.loads(args.assignments), filters, residual_sql=args.where
            )
        )
    elif args.cmd == "orphans":
        from .operators.expire import remove_orphans

        t = IcepackTable.load(spark, args.table)
        report = remove_orphans(
            t, grace_seconds=args.grace_seconds, dry_run=args.dry_run
        )
        out["orphans"] = report["n_orphans"]
        out["files_listed"] = report["n_files_listed"]
        out["walk_seconds"] = report["walk_seconds"]
        out["delete_failures"] = report.get("n_delete_failures", 0)
        out["dry_run"] = report["dry_run"]
    elif args.cmd == "describe":
        t = IcepackTable.load(spark, args.table)
        out.update(t.describe())
    elif args.cmd == "sql":
        from .sql import IcepackSQL
        from .table.catalog import Catalog

        df = IcepackSQL(spark, Catalog(spark, args.warehouse)).execute(args.execute)
        if args.out:
            df.write.mode("overwrite").parquet(args.out)
        shown = df.limit(args.limit + 1).collect()
        out["rows"] = [
            {
                k: v if isinstance(v, (int, float, bool, str, type(None))) else str(v)
                for k, v in r.asDict().items()
            }
            for r in shown[: args.limit]
        ]
        out["truncated"] = len(shown) > args.limit
    elif args.cmd == "scan":
        t = IcepackTable.load(spark, args.table)
        df = t.scan(
            version=args.version, as_of_timestamp_ms=args.as_of_ms, ref=args.ref
        )
        v = (t.ref_version(args.ref) if args.ref is not None
             else t.version_as_of(args.as_of_ms) if args.as_of_ms is not None
             else args.version if args.version is not None
             else t.head_version())
        if args.out:
            df.write.mode("overwrite").parquet(args.out)
        out["rows"] = df.count()
        out["files"] = len(t.files(v))
        out["version"] = v
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    if not __package__:
        # spark-submit runs this file as a top-level script with no package
        # context; bootstrap the package (shipped via --py-files or present
        # next to the repo root) and re-enter through it so the relative
        # imports above resolve.
        import os as _os

        sys.path.insert(0, _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))))
        from datastream_deltalake_connector_spark.jobs import main as _main

        sys.exit(_main())
    sys.exit(main())
