"""The three benchmark workloads. Each one builds its seeded input,
runs one measured operation per :meth:`op` call and checks the
program's output; a failed check is returned as a message, never
raised, so the runner counts it against the operation."""

from __future__ import annotations

import os
import time
from contextlib import contextmanager

from pyspark.sql import functions as F

from dataval_spark import fixtures, manifest
from dataval_spark.operators import corpus
from dataval_spark.sources.snapshots import SnapshotTable
from dataval_spark.suite import transcript_suite

import inputs


class Timer:
    seconds = 0.0


@contextmanager
def timed():
    """Wall time of the block, read from ``.seconds`` after it ends."""
    t = Timer()
    start = time.perf_counter()
    try:
        yield t
    finally:
        t.seconds = time.perf_counter() - start


def tree_stats(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``; Spark's checksum and marker
    files are not counted."""
    n = size = 0
    for root, _, files in os.walk(path):
        for name in files:
            if name.startswith((".", "_")):
                continue
            n += 1
            size += os.path.getsize(os.path.join(root, name))
    return n, size


class Workload:
    name = ""
    # what items_per_s counts
    item = ""
    # warm-up cap; the caps keep a run inside the time budget (NOTES.md)
    max_warm = 0

    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.work = work
        self.seed = seed

    def build(self) -> None:
        """Make the inputs and whatever state the first operation needs."""
        raise NotImplementedError

    def op(self) -> dict:
        """One measured operation: {"seconds", "items", "failures"}
        plus workload-specific timings."""
        raise NotImplementedError

    def exhausted(self) -> bool:
        """True when the inputs allow no further operation."""
        return False

    def finish(self, traced: bool) -> list[str]:
        """Checks that need the whole run's output."""
        return []

    def layer_stats(self) -> dict:
        """Per-layer numbers the spans do not give (file and byte counts)."""
        return {}


class ValidateFull(Workload):
    """The north-star bulk job: every turn of a committed table validated
    by ``run_resumable`` under a fresh run id, verdicts written."""

    name = "validate_full"
    item = "turns"
    max_warm = 4

    def build(self) -> None:
        base = os.path.join(self.work, "full")
        self.table = SnapshotTable(self.spark, os.path.join(base, "table"))
        self.table.append(
            inputs.transcripts(self.spark, inputs.FULL_CONVS, self.seed, skew=True)
            .repartition("part"),
            partition_by=["part"],
        )
        self.n_rows = self.table.read().count()
        self.manifest_path = os.path.join(base, "manifest")
        self.verdicts_path = os.path.join(base, "verdicts")
        self.suite = transcript_suite()
        self.passes = 0

    def op(self) -> dict:
        self.passes += 1
        self.run_id = f"pass-{self.passes}"
        with timed() as t:
            res = manifest.run_resumable(
                self.spark, self.table.read(), self.suite, self.manifest_path,
                self.run_id, verdicts_path=self.verdicts_path,
            )
        failures = []
        if res is None:
            failures.append("run_resumable returned None for a fresh run id")
        else:
            by_part = {m["part"]: m for m in res.partition_metrics}
            if res.summary()["n_rows"] != self.n_rows:
                failures.append(f"validated {res.summary()['n_rows']} of {self.n_rows} rows")
            if not by_part.get(fixtures.CLEAN_PART, {}).get("passed"):
                failures.append("CLEAN_PART did not pass")
            if not by_part.get(fixtures.DRIFT_PART, {}).get("drifted"):
                failures.append("DRIFT_PART was not flagged as drifted")
        return {"seconds": t.seconds, "items": self.n_rows, "failures": failures}

    def finish(self, traced: bool) -> list[str]:
        failures = []
        verdicts = self.spark.read.parquet(self.verdicts_path)
        n = verdicts.count()
        if n != self.n_rows:
            failures.append(f"{n} verdict rows for {self.n_rows} input rows")
        dirty = verdicts.where(
            (F.col("part") == fixtures.CLEAN_PART) & (F.col("dataval") != 0)
        ).count()
        if dirty:
            failures.append(f"{dirty} CLEAN_PART verdicts with dataval != 0")
        again = manifest.run_resumable(
            self.spark, self.table.read(), self.suite, self.manifest_path,
            self.run_id, verdicts_path=self.verdicts_path,
        )
        if again is not None:
            failures.append("re-run with the same run_id did not return None")
        return failures

    def layer_stats(self) -> dict:
        _, vbytes = tree_stats(self.verdicts_path)
        return {
            "manifest.verdict_bytes_per_turn": vbytes / self.n_rows,
            "manifest.files": tree_stats(self.manifest_path)[0],
        }


class ValidateIncrements(Workload):
    """Continuous validation, one writer: append an increment, then
    validate exactly that delta with the drift gate on."""

    name = "validate_increments"
    item = "turns"
    max_warm = 1
    drift_columns = ["length(text)"]

    def build(self) -> None:
        base = os.path.join(self.work, "increments")
        self.root = os.path.join(base, "table")
        self.table = SnapshotTable(self.spark, self.root)
        # one file per batch, so each append is one write task
        self.batch_dir = os.path.join(base, "batches")
        inputs.batches(self.spark, self.seed).repartition("batch").write.partitionBy(
            "batch"
        ).parquet(self.batch_dir)
        counts = self.spark.read.parquet(self.batch_dir).groupBy("batch").count().collect()
        self.batch_rows = {r["batch"]: r["count"] for r in counts}
        self.table.append(self.batch(0), partition_by=["part"])
        self.table_rows = self.batch_rows[0]
        self.manifest_path = os.path.join(base, "manifest")
        self.verdicts_path = os.path.join(base, "verdicts")
        self.suite = transcript_suite()
        self.next_batch = 1
        self.appends: list[dict] = []
        self.lost = 0
        # the first call validates the whole base table and seeds the
        # watermark and the drift histograms; increments follow
        self.validate()

    def validate(self):
        return manifest.validate_snapshot_increments(
            self.spark, self.root, self.suite, self.manifest_path,
            verdicts_path=self.verdicts_path, drift_columns=self.drift_columns,
        )

    def batch(self, k: int):
        return self.spark.read.parquet(os.path.join(self.batch_dir, f"batch={k}"))

    def exhausted(self) -> bool:
        return self.next_batch >= len(self.batch_rows)

    def op(self) -> dict:
        k = self.next_batch
        self.next_batch += 1
        delta = self.batch(k)
        meta_before = tree_stats(os.path.join(self.root, "meta"))
        data_before = tree_stats(os.path.join(self.root, "data"))
        with timed() as commit:
            version = self.table.append(delta)
        meta_after = tree_stats(os.path.join(self.root, "meta"))
        data_after = tree_stats(os.path.join(self.root, "data"))
        self.appends.append({
            "files": data_after[0] - data_before[0],
            "data_bytes": data_after[1] - data_before[1],
            "meta_bytes": meta_after[1] - meta_before[1],
            "rows": self.batch_rows[k],
        })
        self.table_rows += self.batch_rows[k]
        with timed() as val:
            res = self.validate()
        failures = []
        if res is None:
            failures.append(f"increment {k} (v{version}) was not validated")
        else:
            if res.summary()["n_rows"] != self.batch_rows[k]:
                failures.append(
                    f"increment {k}: validated {res.summary()['n_rows']} "
                    f"of {self.batch_rows[k]} delta rows"
                )
            if not (res.drift and res.drift["records"]):
                failures.append(f"increment {k}: no drift record")
        sentinels = (
            manifest.read_manifest(self.spark, self.manifest_path)
            .where(
                (F.col("part") == manifest.COMPLETE_PART)
                & F.col("run_id").endswith(f"-v{version}")
            )
            .count()
        )
        if sentinels != 1:
            failures.append(f"v{version}: {sentinels} completion sentinels, expected 1")
        return {
            "seconds": commit.seconds + val.seconds,
            "validate_s": val.seconds,
            "commit_s": commit.seconds,
            "items": self.batch_rows[k],
            "failures": failures,
        }

    def finish(self, traced: bool) -> list[str]:
        # Reported, not checked: each delta's verdict write overwrites
        # whole ``part`` directories of the shared verdicts path, so
        # earlier verdicts of those partitions are lost (see NOTES.md)
        self.lost = self.table_rows - self.spark.read.parquet(self.verdicts_path).count()
        return []

    def layer_stats(self) -> dict:
        n = max(len(self.appends), 1)
        rows = max(sum(a["rows"] for a in self.appends), 1)
        return {
            "snapshots.files_per_append": sum(a["files"] for a in self.appends) / n,
            "snapshots.meta_bytes_per_commit": sum(a["meta_bytes"] for a in self.appends) / n,
            "snapshots.data_bytes_per_turn": sum(a["data_bytes"] for a in self.appends) / rows,
            "manifest.verdict_bytes_per_turn": tree_stats(self.verdicts_path)[1] / self.table_rows,
            "manifest.files": tree_stats(self.manifest_path)[0],
            "manifest.verdict_rows_lost": self.lost,
        }


class CorpusPrep(Workload):
    """Training-corpus preparation over seeded synthetic documents."""

    name = "corpus_prep"
    item = "docs"

    def build(self) -> None:
        base = os.path.join(self.work, "corpus")
        docs, bench, self.planted = inputs.documents(self.seed)
        self.spark.createDataFrame(
            docs, "doc_id long, text string, lang string"
        ).write.parquet(os.path.join(base, "docs"))
        self.spark.createDataFrame(bench, "doc_id long, text string").write.parquet(
            os.path.join(base, "bench")
        )
        self.docs = self.spark.read.parquet(os.path.join(base, "docs"))
        self.bench = self.spark.read.parquet(os.path.join(base, "bench"))
        self.n_docs = len(docs)
        self.packed_counts: list[int] = []
        self.exact_counts: list[int] = []
        self.funnel: dict = {}

    def op(self) -> dict:
        with timed() as t:
            prep = corpus.prepare_corpus(
                self.docs, benchmark=self.bench, min_tokens=5,
                strip_boilerplate=True, paragraph_dedup=True, remove_spans=True,
                split_long=True, window_tokens=512, pack_shards=4,
            )
            with timed() as count:
                packed = prep["packed"].count()
        self.last = prep
        # exact_deduped is cached by prepare_corpus, so these reads are cheap
        exact = prep["exact_deduped"]
        self.exact_counts.append(exact.count())
        self.packed_counts.append(packed)
        kept = exact.where(F.col("doc_id").isin(*self.planted)).count()
        failures = []
        if kept:
            failures.append(f"{kept} planted exact duplicates survived exact dedup")
        if len(set(self.packed_counts)) > 1 or len(set(self.exact_counts)) > 1:
            failures.append(
                f"packed rows {self.packed_counts} or exact-dedup rows "
                f"{self.exact_counts} differ between calls on the same input"
            )
        return {
            "seconds": t.seconds,
            "count_s": count.seconds,
            "items": self.n_docs,
            "failures": failures,
        }

    def finish(self, traced: bool) -> list[str]:
        """Counts the last call's packed rows again: re-running the same
        plans must give what the call gave. The whole funnel
        (``stats()``) costs several more passes, so only the traced run
        counts it."""
        failures = []
        again = self.last["packed"].count()
        if again != self.packed_counts[-1]:
            failures.append(f"packed rows {again} on a re-run, {self.packed_counts[-1]} in the call")
        if not traced:
            return failures
        self.funnel = f = self.last["stats"]()
        if f["n_exact_deduped"] != self.exact_counts[-1]:
            failures.append(f"funnel {f} disagrees with exact-dedup rows {self.exact_counts}")
        stages = [f[k] for k in ("n_input", "n_quality_pass", "n_exact_deduped",
                                 "n_near_deduped", "n_decontaminated")]
        if f["n_input"] != self.n_docs or stages != sorted(stages, reverse=True):
            failures.append(f"funnel {f} does not shrink from {self.n_docs} input docs")
        return failures

    def layer_stats(self) -> dict:
        return {"corpus.stage_rows": sum(self.funnel.values())}


WORKLOADS = {w.name: w for w in (ValidateFull, ValidateIncrements, CorpusPrep)}
