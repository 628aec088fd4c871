"""Checkpoint manifest: per-stage lineage + metrics, idempotent commits.

The reference's resumability is "skip if the output file exists"
(/root/reference/src/ml4logs/data/utils.py:23-25, __main__.py:47-49).
The distributed analog (north rule): every stage commit appends a
manifest record keyed by (stage, sink, input_fingerprint); a rerun
skips stages whose key is that of the sink's newest committed record AND
whose sink is committed on disk — so a killed run resumes from the last
committed stage, and already-committed sinks are never rewritten. Only
the newest record counts: after edits A -> B -> A, the sink holds B's
table, so A's older record must not resume it.

Every ``save`` step of a config (plans/config_runner.py, and so
``run_pipeline``) commits through ``run_stage``: the step's ``stage``
label, its ``out`` sink, and a fingerprint of the input files plus the
config's steps up to it. ``build`` runs only when that key did not
write the sink's current table, and ``record`` returns that record, whose
``row_count`` the runner reports whether the stage ran or resumed.

The manifest is JSONL next to the warehouse (tiny, driver-side — the
analog of an Iceberg snapshot log; with Iceberg present the snapshot id
would be recorded instead of the _COMMITTED marker). Each record also
carries per-partition lineage: row counts per routed partition, wall
time, and the input fingerprint, satisfying "checkpoints per-partition
lineage and metrics to a manifest table". The commit does not read its
sink back: the row counts are summed from the written parquet footers,
keyed by the partition directory names (``Warehouse.counts``).
"""

from __future__ import annotations

import json
import os
import time
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame

from ml4logs_spark.sources.tables import Warehouse


def input_fingerprint(paths: list[str]) -> str:
    """Cheap deterministic fingerprint of input state: file names+sizes."""
    import hashlib

    h = hashlib.md5()
    for p in sorted(paths):
        if os.path.isdir(p):
            for root, _, files in sorted(os.walk(p)):
                for f in sorted(files):
                    if f.startswith(("_", ".")):
                        continue
                    fp = os.path.join(root, f)
                    h.update(f"{fp}:{os.path.getsize(fp)}".encode())
        elif os.path.exists(p):
            h.update(f"{p}:{os.path.getsize(p)}".encode())
    return h.hexdigest()


@dataclass
class Manifest:
    warehouse: Warehouse
    records: list[dict] = field(default_factory=list)

    @property
    def path(self) -> str:
        return os.path.join(self.warehouse.root, "_manifest.jsonl")

    def load(self) -> list[dict]:
        if not os.path.exists(self.path):
            return []
        with open(self.path) as f:
            return [json.loads(line) for line in f if line.strip()]

    def _append(self, rec: dict) -> None:
        with open(self.path, "a") as f:
            f.write(json.dumps(rec) + "\n")
            f.flush()
            os.fsync(f.fileno())

    def latest(self, sink: str) -> dict | None:
        """The newest committed record of ``sink``: the one that wrote
        the table now on disk."""
        return next((r for r in reversed(self.load())
                     if r["sink"] == sink and r["status"] == "committed"), None)

    def record(self, stage: str, sink: str, fingerprint: str) -> dict | None:
        """``latest(sink)`` if ``(stage, fingerprint)`` wrote it, else None.
        An older matching record does not count: a later commit under
        another key has rewritten the table since."""
        r = self.latest(sink)
        if r and r["stage"] == stage and r["input_fingerprint"] == fingerprint:
            return r
        return None

    def committed(self, stage: str, sink: str, fingerprint: str) -> bool:
        return (self.record(stage, sink, fingerprint) is not None
                and self.warehouse.committed(sink))

    def run_stage(
        self,
        stage: str,
        sink: str,
        fingerprint: str,
        build: Callable[[], DataFrame],
        partition_by: list[str] | None = None,
        lineage_keys: list[str] | None = None,
    ) -> bool:
        """Build+commit one stage; returns False if skipped (resume hit).

        lineage_keys: columns whose per-value row counts are recorded as
        per-partition lineage in the manifest record. The counts come
        from ``Warehouse.counts``: on parquet, with partition columns as
        keys, from what the write left on disk, so the commit runs no
        Spark job beyond the write.
        """
        if self.committed(stage, sink, fingerprint):
            return False
        t0 = time.perf_counter()
        df = build()
        self.warehouse.write(df, sink, partition_by=partition_by)
        row_count, lineage = self.warehouse.counts(sink, lineage_keys)
        self._append({
            "stage": stage,
            "sink": sink,
            "input_fingerprint": fingerprint,
            "status": "committed",
            "row_count": row_count,
            "wall_ms": int((time.perf_counter() - t0) * 1000),
            "partition_lineage": lineage,
        })
        return True
