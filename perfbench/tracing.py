"""Spans around the library's public functions, recorded from the
benchmark's own files by rebinding module and class attributes.

Each span holds its name, start, end, parent span and operation id, plus
the range of Spark job ids submitted while it was open. Spans stay in
memory until :meth:`Tracer.dump`. Job, stage and task counts come from
``sparkContext.statusTracker()``; job ids are assigned in submission
order and the benchmark runs one client, so the jobs of a span are
exactly the ids submitted between its start and its end.
"""

from __future__ import annotations

import functools
import importlib
import json
import time

# (module, attribute path, span name): every public function the
# per-layer metrics name. Modules that bind a function at import time
# (corpus imports pack_greedy) are rebound too, so every caller sees
# the wrapper.
TARGETS = [
    ("dataval_spark.suite", "Suite.run", "suite.run"),
    ("dataval_spark.manifest", "run_resumable", "manifest.run_resumable"),
    ("dataval_spark.manifest", "validate_snapshot_increments", "manifest.validate_snapshot_increments"),
    ("dataval_spark.manifest", "completed_parts", "manifest.completed_parts"),
    ("dataval_spark.sources.snapshots", "SnapshotTable.append", "snapshots.append"),
    ("dataval_spark.sources.snapshots", "SnapshotTable.incremental_read", "snapshots.incremental_read"),
    ("dataval_spark.constraints.version_drift", "drift_between_versions", "version_drift.drift_between_versions"),
    ("dataval_spark.operators.dedup", "simhash_clusters", "dedup.simhash_clusters"),
    ("dataval_spark.operators.dedup", "dedup_keep_first", "dedup.dedup_keep_first"),
    ("dataval_spark.operators.boilerplate", "remove_boilerplate_lines", "boilerplate.remove_boilerplate_lines"),
    ("dataval_spark.operators.paragraphs", "dedup_paragraphs", "paragraphs.dedup_paragraphs"),
    ("dataval_spark.operators.spans", "remove_repeated_spans", "spans.remove_repeated_spans"),
    ("dataval_spark.operators.packing", "pack_greedy", "packing.pack_greedy"),
    ("dataval_spark.operators.corpus", "pack_greedy", "packing.pack_greedy"),
    ("dataval_spark.operators.corpus", "prepare_corpus", "corpus.prepare_corpus"),
]

# Suite.run(persist=True) returns with the flagged frame cached and
# filled; its size shows whether the frame fits in storage memory
CACHE_PROBED = {"suite.run"}


class Tracer:
    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._tracker = self._sc.statusTracker()
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._restore: list[tuple] = []
        self.op_id: int | None = None

    def next_job_id(self) -> int:
        ids = self._tracker.getJobIdsForGroup(None)
        return max(ids) + 1 if ids else 0

    def install(self) -> None:
        for mod_name, path, name in TARGETS:
            owner = importlib.import_module(mod_name)
            *outer, attr = path.split(".")
            for part in outer:
                owner = getattr(owner, part)
            orig = owner.__dict__[attr]
            setattr(owner, attr, self._wrap(orig, name))
            self._restore.append((owner, attr, orig))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._restore):
            setattr(owner, attr, orig)
        self._restore.clear()

    def _wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name) as record:
                out = fn(*args, **kwargs)
                if name in CACHE_PROBED:
                    record.update(self.cached_bytes())
                return out

        return traced

    def cached_bytes(self) -> dict:
        """Memory and disk bytes held by every cached RDD right now."""
        infos = list(self._sc._jsc.sc().getRDDStorageInfo())
        return {
            "cache_mem_bytes": sum(i.memSize() for i in infos),
            "cache_disk_bytes": sum(i.diskSize() for i in infos),
        }

    def span(self, name: str) -> "_Span":
        return _Span(self, name)

    def job_counts(self, first_job: int, end_job: int) -> dict:
        """Jobs, executed stages and completed tasks for job ids in
        [first_job, end_job). A stage skipped because its shuffle output
        was reused completes no task and is not counted."""
        stages: set[int] = set()
        for j in range(first_job, end_job):
            info = self._tracker.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        tasks = executed = 0
        for s in stages:
            info = self._tracker.getStageInfo(s)
            if info is not None and info.numCompletedTasks > 0:
                executed += 1
                tasks += info.numCompletedTasks
        return {"jobs": end_job - first_job, "stages": executed, "tasks": tasks}

    def self_time(self, span: dict) -> float:
        """Duration minus the part of it that child spans cover."""
        kids = sorted(
            (c["start"], c["end"]) for c in self.spans if c["parent"] == span["id"]
        )
        covered, reach = 0.0, span["start"]
        for start, end in kids:
            start = max(start, reach)
            if end > start:
                covered += end - start
                reach = end
        return span["end"] - span["start"] - covered

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


class _Span:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer = tracer
        self.name = name
        self.record: dict = {}

    def __enter__(self) -> dict:
        t = self.tracer
        self.record = {
            "id": len(t.spans),
            "name": self.name,
            "parent": t._stack[-1] if t._stack else None,
            "op": t.op_id,
            "first_job": t.next_job_id(),
        }
        t.spans.append(self.record)
        t._stack.append(self.record["id"])
        self.record["start"] = time.perf_counter()
        return self.record

    def __exit__(self, *exc) -> None:
        self.record["end"] = time.perf_counter()
        self.tracer._stack.pop()
        # counted at exit: the status store keeps only the most recent
        # jobs, so the ids would be gone by the end of a long run
        self.record.update(
            self.tracer.job_counts(self.record["first_job"], self.tracer.next_job_id())
        )
