#!/usr/bin/env python3
"""The repository benchmark: one workload per run, one client in a
closed loop, driving the dataval_spark library API in this process on
``local[<cores>]``.

    python3 perfbench/run.py --workload validate_increments --seed 1 --seconds 20 --trace 0

Run from the root of a checkout: the program is imported from there.
Every end-to-end metric is printed by name and unit, then the last line
of standard output is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``). The exit code is non-zero when
any output check fails. See NOTES.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# end-to-end: (name, unit). items_per_s counts turns validated on the
# two validation workloads and documents prepared on corpus_prep.
END_TO_END = [
    ("items_per_s", "1/s"),
    ("op_p50_s", "s"),
    ("peak_rss_mb", "MB"),
    ("setup_s", "s"),
]
PER_LAYER = [
    ("suite.run_s", "s"),
    ("suite.jobs", "count"),
    ("suite.cache_mem_bytes", "bytes"),
    ("suite.cache_disk_bytes", "bytes"),
    ("manifest.run_resumable_self_s", "s"),
    ("manifest.verdict_bytes_per_turn", "bytes"),
    ("manifest.validate_snapshot_increments_self_s", "s"),
    ("manifest.completed_parts_s", "s"),
    ("manifest.files", "count"),
    ("manifest.increment_jobs", "count"),
    ("manifest.verdict_rows_lost", "count"),
    ("snapshots.incremental_read_s", "s"),
    ("version_drift.drift_between_versions_s", "s"),
    ("version_drift.jobs", "count"),
    ("snapshots.append_s", "s"),
    ("snapshots.files_per_append", "count"),
    ("snapshots.meta_bytes_per_commit", "bytes"),
    ("snapshots.data_bytes_per_turn", "bytes"),
    ("dedup.simhash_clusters_s", "s"),
    ("dedup.simhash_clusters_jobs", "count"),
    ("dedup.dedup_keep_first_s", "s"),
    ("boilerplate.remove_boilerplate_lines_s", "s"),
    ("paragraphs.dedup_paragraphs_s", "s"),
    ("spans.remove_repeated_spans_s", "s"),
    ("packing.pack_greedy_s", "s"),
    ("corpus.packed_count_s", "s"),
    ("corpus.stage_rows", "count"),
    ("session.jobs", "count"),
    ("session.stages", "count"),
    ("session.tasks", "count"),
    ("trace.op_p50_s", "s"),
]

# Warm-up runs the measured operation until two consecutive ones agree
# within WARM_AGREE, at most the workload's max_warm times.
WARM_AGREE = 0.10
DRIVER_MEMORY = "2g"


def parse_args() -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["validate_full", "validate_increments", "corpus_prep"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args()


def host_settings(work: str) -> dict:
    """Spark settings that fit this host, exported before the JVM starts
    so the library's session builder picks them up."""
    settings = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "TMPDIR": os.path.join(work, "tmp"),
    }
    for path in (settings["SPARK_LOCAL_DIRS"], settings["TMPDIR"]):
        os.makedirs(path, exist_ok=True)
    os.environ.update(settings)
    # spark-submit first runs a small launcher JVM; keep its scratch
    # files (hsperfdata, java.io.tmpdir) out of /tmp too
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_scratch_opts()
    return settings


def jvm_scratch_opts() -> str:
    return f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"


def start_spark(work: str):
    from dataval_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # keep the JVM's scratch files inside the work directory
            "spark.driver.extraJavaOptions": jvm_scratch_opts(),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit; the JVM ends when
    its stdin closes."""
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def reset_peak_rss(pids: list[int]) -> None:
    for pid in pids:
        with open(f"/proc/{pid}/clear_refs", "w") as f:
            f.write("5")


def peak_rss_mb(pids: list[int]) -> float:
    kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            kb += next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return kb / 1024


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def run_op(wl, tracer, ops: list[dict]) -> dict:
    """Run one operation; an exception counts as a failed operation."""
    try:
        if tracer is None:
            rec = wl.op()
        else:
            tracer.op_id = len(ops)
            with tracer.span("op") as span:
                rec = wl.op()
            rec["span"] = span
    except Exception:
        traceback.print_exc()
        rec = {"seconds": math.nan, "items": 0, "failures": ["operation raised"], "raised": True}
    for msg in rec["failures"]:
        print(f"perfbench: CHECK FAILED: {msg}", file=sys.stderr)
    ops.append(rec)
    return rec


def run_loop(wl, seconds: float, tracer, ops: list[dict]) -> list[dict]:
    """Closed loop: the next operation starts when the previous ends, if
    it is expected (from the previous one's duration) to end inside the
    window. The first always runs, so every run measures at least one."""
    mine: list[dict] = []
    t0 = time.perf_counter()
    while not wl.exhausted():
        if mine and time.perf_counter() - t0 + mine[-1]["seconds"] > seconds:
            break
        rec = run_op(wl, tracer, ops)
        mine.append(rec)
        if rec.get("raised"):
            break
    return mine


def warm_up(wl, ops: list[dict]) -> list[float]:
    times: list[float] = []
    while len(times) < wl.max_warm:
        rec = run_op(wl, None, ops)
        if rec.get("raised"):
            break
        times.append(rec.get("validate_s", rec["seconds"]))
        if len(times) >= 2 and abs(times[-1] - times[-2]) <= WARM_AGREE * times[-2]:
            break
    return times


def end_to_end(measured: list[dict], setup_s: float, rss: float) -> dict:
    ok = [r for r in measured if not r.get("raised")]
    return {
        "items_per_s": median([r["items"] / r["seconds"] for r in ok]),
        "op_p50_s": median([r.get("validate_s", r["seconds"]) for r in ok]),
        "peak_rss_mb": rss,
        "setup_s": setup_s,
    }


def per_layer(wl, tracer, traced: list[dict]) -> dict:
    """Median over traced operations of each layer's per-operation total."""
    by_op: dict[int, list[dict]] = {}
    for s in tracer.spans:
        by_op.setdefault(s["op"], []).append(s)
    ops = [r for r in traced if "span" in r]

    def per_op(fn) -> float:
        return median([fn(by_op.get(r["span"]["op"], []), r) for r in ops])

    def total(name: str, key: str | None = None):
        def f(spans, _rec):
            picked = [s for s in spans if s["name"] == name]
            if key == "self":
                return sum(tracer.self_time(s) for s in picked)
            if key is None:
                return sum(s["end"] - s["start"] for s in picked)
            return sum(s.get(key, 0) for s in picked)
        return per_op(f)

    def peak(name: str, key: str):
        return per_op(lambda spans, _r: max([s.get(key, 0) for s in spans if s["name"] == name], default=0))

    out = {
        "suite.run_s": total("suite.run"),
        "suite.jobs": total("suite.run", "jobs"),
        "suite.cache_mem_bytes": peak("suite.run", "cache_mem_bytes"),
        "suite.cache_disk_bytes": peak("suite.run", "cache_disk_bytes"),
        "manifest.run_resumable_self_s": total("manifest.run_resumable", "self"),
        "manifest.validate_snapshot_increments_self_s": total("manifest.validate_snapshot_increments", "self"),
        "manifest.completed_parts_s": total("manifest.completed_parts"),
        "manifest.increment_jobs": total("manifest.validate_snapshot_increments", "jobs"),
        "snapshots.incremental_read_s": total("snapshots.incremental_read"),
        "version_drift.drift_between_versions_s": total("version_drift.drift_between_versions"),
        "version_drift.jobs": total("version_drift.drift_between_versions", "jobs"),
        "snapshots.append_s": total("snapshots.append"),
        "dedup.simhash_clusters_s": total("dedup.simhash_clusters"),
        "dedup.simhash_clusters_jobs": total("dedup.simhash_clusters", "jobs"),
        "dedup.dedup_keep_first_s": total("dedup.dedup_keep_first"),
        "boilerplate.remove_boilerplate_lines_s": total("boilerplate.remove_boilerplate_lines"),
        "paragraphs.dedup_paragraphs_s": total("paragraphs.dedup_paragraphs"),
        "spans.remove_repeated_spans_s": total("spans.remove_repeated_spans"),
        "packing.pack_greedy_s": total("packing.pack_greedy"),
        "corpus.packed_count_s": per_op(lambda _s, r: r.get("count_s", 0.0)),
        "session.jobs": total("op", "jobs"),
        "session.stages": total("op", "stages"),
        "session.tasks": total("op", "tasks"),
        # the traced run's op_p50_s; its excess over the untraced run's
        # op_p50_s on the same seed is the tracing overhead
        "trace.op_p50_s": median([r.get("validate_s", r["seconds"]) for r in ops]),
    }
    out.update(wl.layer_stats())
    return {name: out.get(name, 0) for name, _ in PER_LAYER}


def main() -> int:
    args = parse_args()
    sys.path[:0] = [ROOT, HERE]
    try:
        import dataval_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program ({e}); run from the root of a checkout",
              file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    settings = host_settings(work)
    spark = None
    try:
        spark = start_spark(work)
        session_s = time.perf_counter() - START
        settings["spark.sql.shuffle.partitions"] = spark.conf.get("spark.sql.shuffle.partitions")
        settings["spark.sql.files.maxPartitionBytes"] = spark.conf.get("spark.sql.files.maxPartitionBytes")
        settings["master"] = spark.sparkContext.master
        from workloads import WORKLOADS, timed

        wl = WORKLOADS[args.workload](spark, os.path.join(work, "data"), args.seed)
        ops: list[dict] = []
        with timed() as build:
            wl.build()
        with timed() as warm:
            warm_times = warm_up(wl, ops)
        setup_s = time.perf_counter() - START

        pids = [os.getpid(), spark.sparkContext._gateway.proc.pid]
        # collect the set-up's garbage first, so the measured peak does
        # not depend on how full the heap happened to be
        spark._jvm.System.gc()
        reset_peak_rss(pids)
        tracer = None
        if args.trace:
            from tracing import Tracer

            tracer = Tracer(spark)
            tracer.install()
        measured = run_loop(wl, args.seconds, tracer, ops)
        if tracer is not None:
            tracer.uninstall()
        rss = peak_rss_mb(pids)

        try:
            final = wl.finish(traced=bool(args.trace))
        except Exception:
            traceback.print_exc()
            final = ["the end-of-run checks raised"]
        for msg in final:
            print(f"perfbench: CHECK FAILED: {msg}", file=sys.stderr)
        attempted = len(ops)
        failed = sum(1 for r in ops if r["failures"])
        if final and ops and not ops[-1]["failures"]:
            failed += 1
        correct = failed == 0 and bool(measured)

        e2e = end_to_end(measured, setup_s, rss)
        print(f"workload {wl.name} seed {args.seed} trace {args.trace}")
        print("settings " + " ".join(f"{k}={v}" for k, v in settings.items()))
        print(f"setup session_s={session_s:.3f} build_s={build.seconds:.3f} "
              f"warm_s={warm.seconds:.3f} warm_passes={len(warm_times)} "
              f"warm_op_s={','.join(f'{w:.3f}' for w in warm_times)}")
        print(f"samples {len(measured)} measured, {attempted} attempted; items are {wl.item}")
        lines = [
            ("setup_s", setup_s, "s"),
            ("peak_rss_mb", rss, "MB"),
            ("ops_failed_ratio", failed / attempted if attempted else 1.0, "ratio"),
            ("items_per_s", e2e["items_per_s"], "1/s"),
            ("op_p50_s", e2e["op_p50_s"], "s"),
        ]
        ok = [r for r in measured if not r.get("raised")]
        if wl.name == "validate_full":
            lines.append(("validate_turns_per_s", e2e["items_per_s"], "1/s"))
        elif wl.name == "validate_increments":
            lines.append(("increment_validate_p50_s", e2e["op_p50_s"], "s"))
            lines.append(("commit_p50_s", median([r["commit_s"] for r in ok]), "s"))
            lines.append(("manifest.verdict_rows_lost", wl.lost, "count"))
        else:
            lines.append(("corpus_docs_per_s", e2e["items_per_s"], "1/s"))
        for name, value, unit in lines:
            print(f"metric {name} {value:.6g} {unit}")

        if tracer is not None:
            spans_path = os.path.join(ROOT, ".perfbench_work", f"spans-{wl.name}-{args.seed}.json")
            tracer.dump(spans_path)
            print(f"spans {spans_path}")
            metrics = per_layer(wl, tracer, measured)
            units = dict(PER_LAYER)
        else:
            metrics = e2e
            units = dict(END_TO_END)
        for name, value in metrics.items():
            if name not in {line[0] for line in lines}:
                print(f"metric {name} {value:.6g} {units[name]}")
        print(json.dumps({
            "correct": correct,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }))
        return 0 if correct else 1
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
