#!/usr/bin/env python3
"""Benchmark of the icepack engine: two closed-loop, single-client workloads.

    python3 perfbench/run.py --workload cdc_connector --seed 1 --seconds 18 --trace 0

Run from the repository root. The engine is imported from the checkout, so
nothing is installed or built. Inputs are generated from ``--seed`` before
the clock starts and cached under ``.perfbench/cache``; each run works in a
fresh directory under ``.perfbench/work``, which is removed at exit, and
writes its full payload (every op, every span, host facts) to
``.perfbench/out/<workload>-s<seed>-t<trace>.json``.

Standard output ends with one line per metric (name, value, unit) and then
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``.
With ``--trace 0`` the metrics are the end-to-end ones; ``--trace 1`` wraps
the engine's layer entry points in spans and reports the per-layer ones.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
STATE = os.path.join(REPO, ".perfbench")
DRIVER_MEMORY_MB = 4096
# A fresh JVM per run: C1-only JIT reaches its code quality within the
# warm-up instead of spending the measured span on C2 compiles, a fixed-size
# heap with a stop-the-world collector keeps GC threads off the cores between
# collections, and no perf-data file is written outside the checkout.
JVM_OPTIONS = [
    "-XX:TieredStopAtLevel=1",
    "-XX:ReservedCodeCacheSize=256m",
    "-XX:+UseParallelGC",
    "-XX:-UsePerfData",
]


def pin_environment(work: str) -> None:
    """Session pinning done from the benchmark side, before the JVM starts:
    one BLAS thread per process, Spark scratch and every temp file on the
    checkout's own disk, and the engine importable by Python workers."""
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[var] = "1"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, HERE, os.environ.get("PYTHONPATH")) if p
    )


def start_spark(work: str, nproc: int, ram_mb: int):
    from datastream_deltalake_connector_spark.session import get_spark

    memory_mb = min(DRIVER_MEMORY_MB, ram_mb // 3)
    tmp = os.path.join(work, "tmp")
    return get_spark(
        app_name="perfbench",
        cores=nproc,
        driver_memory=f"{memory_mb}m",
        extra_conf={
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.driver.extraJavaOptions": " ".join(JVM_OPTIONS + [f"-Djava.io.tmpdir={tmp}", f"-Xms{memory_mb}m"]),
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:  # a JVM that will not exit is killed
            proc.kill()
            proc.wait(timeout=30)


# ------------------------------------------------------------------ metrics
def summarize(run, wl, shape: dict, setup_s: float) -> tuple[dict, dict, dict]:
    """End-to-end metrics, the op timings, and the per-op-kind statistics
    behind them.

    The op timings are not end-to-end metrics: on a shared 4-vCPU host the
    per-core speed drifts by up to 2x within minutes, so ten runs of the
    same code spread by 14-59% between quartiles on the timings, past the
    largest bound a gate may use. They are printed and kept in the details
    file, and the traced run reports them with the per-layer metrics."""
    timed = run.timed()
    stats = {}
    for kind in sorted({o["kind"] for o in timed}):
        # no op kind reaches the 100 samples a p90 with ten samples beyond
        # it needs, so every latency is reported as a median
        sec = [o["seconds"] for o in timed if o["kind"] == kind]
        stats[kind] = {"n": len(sec), "p50_s": statistics.median(sec), "total_s": sum(sec)}

    def rate(kinds, key):
        ops = [o for o in timed if o["kind"] in kinds]
        seconds = sum(o["seconds"] for o in ops)
        return sum(o.get(key, 0) for o in ops) / seconds if seconds else 0.0

    writes = [o for o in timed if o["kind"] == wl.WRITE]
    changes = sum(o.get("changes", 0) for o in writes)
    metrics = {
        "setup_s": (setup_s, "s"),
        "space_amp": (shape["root_bytes"] / max(shape["live_bytes"], 1), "ratio"),
        # data and delete files the write ops added, per change event
        "written_kb_per_change": (
            sum(o.get("added_bytes", 0) for o in writes) / 1024 / changes if changes else 0.0, "kB"
        ),
    }
    timings = {
        "op.write_p50_s": stats[wl.WRITE]["p50_s"],
        "op.write_rows_per_s": rate(wl.BULK, wl.BULK_ROWS),
        "op.read_p50_s": stats[wl.READ]["p50_s"],
        "op.scan_rows_per_s": rate(wl.SCAN, "scanned_rows"),
    }
    return metrics, timings, stats


def layer_metrics(run, workload, peaks: dict) -> tuple[dict, dict]:
    """Per-layer metrics from the traced run's spans and counters."""
    spans = [s for s in run.tracer.spans if s["end"] is not None]
    timed_ids = {o["id"] for o in run.timed()}
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)

    def covered(s: dict) -> float:
        """Length of the part of ``s`` its children cover."""
        iv = sorted((max(c["start"], s["start"]), min(c["end"], s["end"])) for c in children.get(s["id"], []))
        total, cur_s, cur_e = 0.0, None, None
        for a, b in iv:
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    total += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            total += cur_e - cur_s
        return total

    self_s: dict[str, float] = {}
    by_kind: dict[str, dict] = {}
    for s in spans:
        if s["op"] not in timed_ids:
            continue
        dur = s["end"] - s["start"]
        own = dur - covered(s)
        kind = s["op"].rsplit("-", 1)[0]
        k = by_kind.setdefault(kind, {"wall_s": 0.0, "unattributed_s": 0.0, "spans": 0, "self_s": {}})
        k["spans"] += 1
        if s["name"].startswith("op."):
            k["wall_s"] += dur
            k["unattributed_s"] += own
        else:
            self_s[s["name"]] = self_s.get(s["name"], 0.0) + own
            k["self_s"][s["name"]] = k["self_s"].get(s["name"], 0.0) + own
    per_call = run.tracer.wrapper_cost_s()
    for kind, k in by_kind.items():
        k["unattributed_share"] = k["unattributed_s"] / k["wall_s"] if k["wall_s"] else 0.0
        k["overhead_est_s"] = k["spans"] * per_call
        ops = run.timed(kind)
        k["spark"] = {c: sum(o["spark"][c] for o in ops) for c in ("jobs", "tasks", "failed_tasks")}

    timed = run.timed()
    prune = [s for s in spans if s["name"] == "operators.prune_candidates" and s["op"] in timed_ids]
    files_in = sum(s.get("files_in", 0) for s in prune)
    merges = [o for o in timed if o["kind"] == workload.WRITE]
    maint = [o for o in timed if o["kind"] in ("apply_deletes", "compact", "cluster")]
    scans = [o for o in timed if o["kind"] == "scan"]
    source_scans = [o for o in timed if o["kind"] == "source_scan"]
    commits = [s for s in spans if s["name"] == "table.commit" and s["op"] in timed_ids]
    streams = [s for s in spans if s["name"].startswith("streaming.") and s["op"] in timed_ids]
    spark = {c: sum(k["spark"][c] for k in by_kind.values()) for c in ("jobs", "tasks", "failed_tasks")}
    wall = sum(k["wall_s"] for k in by_kind.values())
    codec = run.extra.get("codec", {})

    def per_image(ops):
        ops = [o for o in ops if "xor_udf" in o]  # image scans only
        return sum(o["scanned_rows"] for o in ops) / sum(o["seconds"] for o in ops) if ops else 0.0

    m = {name: self_s.get(name.rsplit(".", 1)[0], 0.0) for name in SELF_TIME_METRICS}
    m.update({
        "streaming.microbatches": sum(s.get("microbatches", 0) for s in streams if "merge" in s["name"]),
        "operators.prune_kept_ratio": sum(s.get("files_kept", 0) for s in prune) / files_in if files_in else 0.0,
        "operators.files_rewritten": sum(o.get("removed_data_files", 0) for o in merges),
        "operators.mb_rewritten": sum(o.get("added_data_bytes", 0) for o in maint) / 2**20,
        "operators.maint_mb_per_s": (
            sum(o.get("added_data_bytes", 0) for o in maint) / 2**20 / sum(o["seconds"] for o in maint)
            if maint else 0.0
        ),
        "table.manifest_entries": mean_of(timed, "manifest_entries"),
        "table.delete_files_pending": mean_of(timed, "delete_files_pending"),
        "table.commit_conflicts": sum(1 for s in commits if s.get("error") == "ConflictError"),
        "table.scan.read_s": sum(o.get("read_pass_s", 0.0) for o in scans),
        "sources.pyds.read_s": sum(o.get("read_pass_s", 0.0) for o in source_scans),
        "table.scan.images_per_s": per_image(scans),
        "sources.pyds.images_per_s": per_image(source_scans),
        "functions.decode_phash.self_s": sum(
            o["seconds"] - o["read_pass_s"] for o in scans + source_scans if "read_pass_s" in o
        ),
        "functions.decode_us_per_image": codec.get("decode_us_per_image", 0.0),
        "functions.phash_us_per_image": codec.get("phash_us_per_image", 0.0),
        "spark.jobs": spark["jobs"],
        "spark.tasks": spark["tasks"],
        "spark.failed_tasks": spark["failed_tasks"],
        "rss.tree_peak_mb": peaks["tree"],
        "rss.jvm_peak_mb": peaks["jvm"],
        "rss.python_peak_mb": peaks["python"],
        "trace.unattributed_share": sum(k["unattributed_s"] for k in by_kind.values()) / wall if wall else 0.0,
        "trace.overhead_share": sum(k["overhead_est_s"] for k in by_kind.values()) / wall if wall else 0.0,
    })
    return m, by_kind


def mean_of(ops: list[dict], key: str) -> float:
    vals = [o[key] for o in ops if key in o]
    return sum(vals) / len(vals) if vals else 0.0


SELF_TIME_METRICS = [
    "sources.read_table_batch.self_s",
    "sources.from_df.self_s",
    "sources.list_tables.self_s",
    "streaming.ingest_table_to_log.self_s",
    "streaming.merge_log_to_table.self_s",
    "operators.merge_into_table.self_s",
    "operators.merge_into_table_mor.self_s",
    "operators.prune_candidates.self_s",
    "operators.apply_deletes.self_s",
    "operators.compact.self_s",
    "operators.cluster.self_s",
    "operators.expire_snapshots.self_s",
    "table.files.self_s",
    "table.commit.self_s",
    "table.write_data_files.self_s",
    "table.collect_file_entries.self_s",
    "table.delete_hit_candidates.self_s",
    "table.scan.self_s",
    "sql.execute.self_s",
]

UNITS = {"mb_per_s": "MB/s", "_per_s": "1/s", "_s": "s", "_mb": "MB", "mb_rewritten": "MB",
         "_share": "ratio", "_ratio": "ratio", "_us_per_image": "us", "_kb_per_change": "kB"}


def unit_of(name: str) -> str:
    return next((u for suffix, u in UNITS.items() if name.endswith(suffix)), "count")


def overhead_vs_untraced(out_dir: str, workload: str, seed: int, kinds: dict) -> dict:
    """Traced minus untraced p50 per op kind, when this checkout holds an
    untraced run of the same workload and seed."""
    path = os.path.join(out_dir, f"{workload}-s{seed}-t0.json")
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        untraced = json.load(f)["op_kinds"]
    return {k: v["p50_s"] - untraced[k]["p50_s"] for k, v in kinds.items() if k in untraced}


# --------------------------------------------------------------------- main
def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path.insert(0, REPO)
    sys.path.insert(0, HERE)
    import host
    import inputs
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    try:
        import datastream_deltalake_connector_spark  # noqa: F401
    except ImportError as exc:
        print(f"the engine package is not importable from {REPO}: {exc}", file=sys.stderr)
        return 2

    facts = host.facts()
    work = os.path.join(STATE, "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    pin_environment(work)
    probe_before = host.cpu_probe_ms()
    try:
        return run(args, facts, work, probe_before, host, inputs, workloads)
    finally:
        killed = host.reap_descendants()
        if killed:
            print(f"killed {killed} processes left at exit", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)


def run(args, facts, work, probe_before, host, inputs, workloads) -> int:
    from tracing import SparkJobs, Tracer

    r = workloads.Run(work, os.path.join(STATE, "cache"), args.seed, args.seconds)
    wl = workloads.WORKLOADS[args.workload](r)
    r.workload = wl
    t0 = time.perf_counter()
    inputs_dir, manifest = inputs.cached(r.cache, wl.name, args.seed, wl.spec(), wl.build_inputs)
    gen_s = time.perf_counter() - t0

    # the sampler feeds only per-layer metrics: untraced runs go without it
    sampler = host.RssSampler() if args.trace else contextlib.nullcontext()
    with sampler:
        r.spark = start_spark(work, facts["nproc"], facts["ram_mb"])
        try:
            r.spark.sparkContext.setLogLevel("ERROR")
            session_s = time.perf_counter() - T_START - gen_s
            if args.trace:
                r.tracer, r.jobs = Tracer(), SparkJobs(r.spark)
                r.tracer.install()
            t0 = time.perf_counter()
            wl.setup(inputs_dir, manifest)
            checks_s = sum(o["check_seconds"] for o in r.ops)
            setup_s = session_s + (time.perf_counter() - t0) - checks_s
            setup_failed = [o for o in r.ops if not o["ok"]]
            if setup_failed:
                print(f"setup failed: {setup_failed[0].get('error')}", file=sys.stderr)
                return 1
            wl.ops()
            if args.trace and hasattr(wl, "codec_sample"):
                r.extra["codec"] = wl.codec_sample()
            r.extra["shape"] = wl.finish()
            versions = {
                "spark": r.spark.version,
                "java": r.spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
            }
        finally:
            if r.tracer:
                r.tracer.uninstall()
            stop_spark(r.spark)
    peaks = {k: v / 2**20 for k, v in sampler.peak.items()} if args.trace else None
    probe_after = host.cpu_probe_ms()

    timed = r.timed()
    failed = sum(1 for o in timed if not o["ok"])
    correct = failed == 0 and bool(timed)
    e2e, timings, kinds = summarize(r, wl, r.extra["shape"], setup_s)
    out_dir = os.path.join(STATE, "out")
    os.makedirs(out_dir, exist_ok=True)
    details = {
        "workload": wl.name,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "inputs_digest": manifest["digest"],
        "inputs_generation_s": gen_s,
        "spec": wl.spec(),
        "host": {**facts, **versions, "cpu_probe_ms_before": probe_before, "cpu_probe_ms_after": probe_after},
        "setup": {"session_s": session_s, "setup_checks_s": checks_s},
        "op_kinds": kinds,
        "end_to_end": {k: v for k, (v, _u) in e2e.items()},
        "op_timings": timings,
        "table": r.extra["shape"],
        "peak_rss_mb": peaks,
        "ops": r.ops,
    }
    if args.trace:
        layers, by_kind = layer_metrics(r, wl, peaks)
        layers.update(timings)
        details["per_layer"] = layers
        details["trace_by_op_kind"] = by_kind
        details["trace_overhead_vs_untraced"] = overhead_vs_untraced(out_dir, wl.name, args.seed, kinds)
        details["spans"] = r.tracer.spans
        metrics = {k: (v, unit_of(k)) for k, v in layers.items()}
    else:
        metrics = e2e
    out_path = os.path.join(out_dir, f"{wl.name}-s{args.seed}-t{args.trace}.json")
    with open(out_path, "w") as f:
        json.dump(details, f, indent=1, default=str)

    print(f"inputs {manifest['digest'][:16]}  host nproc={facts['nproc']} ram={facts['ram_mb']}MB "
          f"spark={versions['spark']} java={versions['java']} "
          f"probe={probe_before:.1f}/{probe_after:.1f}ms  details {os.path.relpath(out_path, REPO)}")
    for kind, k in sorted(kinds.items()):
        line = f"op {kind:<14} n={k['n']:<3} p50 {k['p50_s']:.4f} s"
        if args.trace and kind in by_kind:
            t = by_kind[kind]
            line += (f"  unattributed {t['unattributed_share']:.1%}"
                     f"  wrapper cost {t['overhead_est_s'] * 1000:.2f} ms")
            if kind in details["trace_overhead_vs_untraced"]:
                line += f"  traced-untraced p50 {details['trace_overhead_vs_untraced'][kind]:+.4f} s"
        print(line)
    for o in timed:
        if not o["ok"]:
            print(f"FAILED {o['id']}: {o.get('error')}")
    if not args.trace:
        for name, value in timings.items():
            print(f"timing {name} {value:.6g} {unit_of(name)}")
    for name, (value, unit) in metrics.items():
        print(f"{name} {value:.6g} {unit}")
    print(json.dumps({
        "correct": correct,
        "attempted": len(timed),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
