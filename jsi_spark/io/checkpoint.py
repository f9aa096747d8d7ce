"""Run-level checkpoint state: which partition buckets are committed.

The resumability contract (north_rule: "resumable from checkpoint with
per-partition lineage + metrics tables"): a run processes partition
buckets; each committed bucket is recorded atomically; a restarted run
skips committed buckets and re-processes only pending ones. Output
tables are snapshot-committed (io.tableio), so a killed run leaves no
visible partial data — the bucket either committed everywhere or not
at all.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from jsi_spark.io.tableio import atomic_write_json


class RunState:
    def __init__(self, out_dir: str, run_id: str | None = None):
        os.makedirs(out_dir, exist_ok=True)
        self.path = os.path.join(out_dir, "run_state.json")
        state = self._load()
        if state is None:
            state = {"run_id": run_id or f"run-{uuid.uuid4().hex[:12]}",
                     "completed_parts": {}, "global_done": False}
            self._save(state)
        self.state = state

    def _load(self):
        if not os.path.exists(self.path):
            return None
        with open(self.path) as f:
            return json.load(f)

    def _save(self, state) -> None:
        atomic_write_json(self.path, state, indent=1)

    @property
    def run_id(self) -> str:
        return self.state["run_id"]

    def completed_parts(self) -> set[int]:
        return {int(p) for p in self.state["completed_parts"]}

    def commit_parts(self, parts: list[int], snapshot_id: str,
                     started_at: str) -> None:
        finished = _now()
        for p in parts:
            self.state["completed_parts"][str(p)] = {
                "snapshot_id": snapshot_id, "status": "committed",
                "started_at": started_at, "finished_at": finished}
        self._save(self.state)

    @property
    def global_done(self) -> bool:
        return self.state["global_done"]

    def mark_global_done(self) -> None:
        self.state["global_done"] = True
        self._save(self.state)


def _now() -> str:
    return time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())
