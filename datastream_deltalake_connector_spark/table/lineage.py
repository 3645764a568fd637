"""Per-partition lineage journal for resumable maintenance jobs.

The rewriting maintenance jobs (compaction, clustering) checkpoint
per-partition lineage (files-in → files-out + row counts) so they resume
exactly. This is the engine's analogue of the reference's Structured
Streaming checkpointing (reference: DatastreamIO.scala:73,
DatastreamDeltaConnector.scala:60-62, README.md:142) — but at task
granularity, not stream-offset granularity. Merges and apply-deletes are a
single job and a single commit, so they keep no journal.

Journal = append-only JSONL under <table>/metadata/lineage/<job_id>.jsonl.
Each completed unit of work (a compaction bin, a cluster range) appends one
record *after* its output files are durably staged; the final table commit
appends a ``commit`` record. Each task record carries ``base``, the
snapshot version its output read: the rewrites read through the deletes
pending at that version, so a resumed commit must require that no delete
file landed since the oldest base it reuses. A resumed job replays the
journal, skips completed tasks, and reuses their staged outputs verbatim
(:meth:`LineageJournal.staged`); a record without ``base`` is re-staged.
"""

from __future__ import annotations

import json
import os
import time
from typing import Any


class LineageJournal:
    def __init__(self, table_root: str, job_id: str):
        self.dir = os.path.join(table_root, "metadata", "lineage")
        os.makedirs(self.dir, exist_ok=True)
        self.path = os.path.join(self.dir, f"{job_id}.jsonl")
        self.job_id = job_id

    def records(self) -> list[dict[str, Any]]:
        if not os.path.exists(self.path):
            return []
        out = []
        with open(self.path) as f:
            for line in f:
                line = line.strip()
                if line:
                    out.append(json.loads(line))
        return out

    def completed(self, stage: str) -> dict[str, dict[str, Any]]:
        """task_id → record for every completed task of a stage."""
        return {
            r["task_id"]: r
            for r in self.records()
            if r.get("stage") == stage and r.get("status") == "done"
        }

    def committed(self) -> bool:
        return any(r.get("stage") == "commit" for r in self.records())

    def staged(self, table, rec: dict[str, Any]) -> list | None:
        """A completed task's outputs as manifest entries, re-read from their
        footers, or None when the task must be staged again: its record
        has no ``base`` or an output file is gone."""
        outs = rec["files_out"]
        if "base" not in rec or not all(
            os.path.exists(table.data_path(p)) for p in outs
        ):
            return None
        stats = set(table.stats_cols())
        return [table._footer_entry(table.data_path(p), p, stats) for p in outs]

    def log_task(
        self,
        stage: str,
        task_id: str,
        base: int,
        files_in: list[str],
        files_out: list[str],
        rows_in: int | None = None,
        rows_out: int | None = None,
        **extra: Any,
    ) -> None:
        self._append(
            {
                "stage": stage,
                "task_id": task_id,
                "status": "done",
                "base": base,
                "files_in": files_in,
                "files_out": files_out,
                "rows_in": rows_in,
                "rows_out": rows_out,
                "ts_ms": int(time.time() * 1000),
                **extra,
            }
        )

    def log_commit(self, version: int, **extra: Any) -> None:
        self._append(
            {
                "stage": "commit",
                "task_id": "commit",
                "status": "done",
                "version": version,
                "ts_ms": int(time.time() * 1000),
                **extra,
            }
        )

    def _append(self, record: dict[str, Any]) -> None:
        with open(self.path, "a") as f:
            f.write(json.dumps(record) + "\n")
            f.flush()
            os.fsync(f.fileno())
