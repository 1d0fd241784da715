"""Checkpoint manifest — per-stage lineage + idempotent resume.

The reference gets resumability operationally: every run re-reads a trailing
lookback window, trims the overlap head, and the store dedups by
last-write-wins (reference harmonizers/__init__.py:387-388, launcher.py:40-44).
This engine makes it explicit (north rule): after each stage commits its
table snapshot, a record

  (run_id, stage, tier, snapshot_id, watermark, wall_ms, committed_at)

is published as its own file in the manifest directory with the catalog's
put-if-absent primitive (``sources.tables.publish_once``). Concurrent runs
on one warehouse create distinct files, so none can drop another's record;
for one (run_id, tier, stage) the first committer wins and is never
overwritten (one log entry per commit, as Delta Lake's transaction log).
A restarted run replays the plan but skips every (stage, tier) already
recorded for the same run_id — and because every write is either an
idempotent dynamic-partition overwrite or an append deduped by
last-write-wins on read, a crash *between* data commit and manifest commit
only causes a harmless re-write.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import asdict, dataclass, field
from urllib.parse import quote

from timeseries_harmonizer_spark.sources.tables import publish_once


@dataclass
class StageRecord:
    run_id: str
    stage: str
    tier: str
    snapshot_id: int | None = None
    watermark: str | None = None
    wall_ms: int | None = None
    committed_at: float = field(default_factory=time.time)


class Manifest:
    """A directory holding one record file per (run_id, tier, stage)."""

    def __init__(self, path: str):
        self.path = path
        os.makedirs(path, exist_ok=True)

    def _record_path(self, run_id: str, tier: str, stage: str) -> str:
        # one unambiguous path segment: a run id holding '/' or '..' stays
        # inside the manifest directory
        key = quote(json.dumps([run_id, tier, stage]), safe="")
        return os.path.join(self.path, key + ".json")

    def records(self) -> list[StageRecord]:
        recs = []
        for f in sorted(os.listdir(self.path)):
            if f.endswith(".json"):
                with open(os.path.join(self.path, f)) as fh:
                    recs.append(StageRecord(**json.load(fh)))
        return sorted(recs, key=lambda r: r.committed_at)

    def is_done(self, run_id: str, stage: str, tier: str) -> bool:
        return os.path.exists(self._record_path(run_id, tier, stage))

    def commit(self, rec: StageRecord) -> bool:
        """Publish ``rec``; False if its (run_id, tier, stage) already has a
        record, which is left unchanged."""
        return publish_once(
            self._record_path(rec.run_id, rec.tier, rec.stage), asdict(rec)
        )


class StageRunner:
    """Wraps stage execution with manifest bookkeeping + resume-skip."""

    def __init__(self, manifest: Manifest, run_id: str, tier: str):
        self.manifest = manifest
        self.run_id = run_id
        self.tier = tier

    def run(self, stage: str, fn, watermark: str | None = None):
        """fn() -> snapshot_id. Skips if the stage already committed for
        this (run_id, tier)."""
        if self.manifest.is_done(self.run_id, stage, self.tier):
            return None
        t0 = time.time()
        snap = fn()
        self.manifest.commit(
            StageRecord(
                run_id=self.run_id,
                stage=stage,
                tier=self.tier,
                snapshot_id=snap,
                watermark=watermark,
                wall_ms=int((time.time() - t0) * 1000),
            )
        )
        return snap
