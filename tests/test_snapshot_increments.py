"""validate_snapshot_increments: the continuous-validation loop over a
growing snapshot table — validate exactly the rows appended since the
last fully-validated snapshot, resumable through the manifest, with a
sound fallback to full re-validation when rows changed."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from dataval_spark.fixtures import transcripts
from dataval_spark.manifest import (
    COMPLETE_PART,
    read_manifest,
    run_resumable,
    suite_hash,
    validate_snapshot_increments,
)
from dataval_spark.sources.snapshots import SnapshotTable
from dataval_spark.suite import transcript_suite


def _sentinels(spark, mp):
    m = read_manifest(spark, mp)
    if m is None:
        return []
    return sorted(
        (r.run_id, json.loads(r.metrics_json))
        for r in m.where(F.col("part") == COMPLETE_PART).collect()
    )


def test_first_run_full_then_delta_then_idempotent(spark, tmp_path):
    table = str(tmp_path / "tbl")
    mp = str(tmp_path / "manifest")
    t = SnapshotTable(spark, table)
    suite = transcript_suite()

    # empty table: nothing to do, no manifest writes
    assert validate_snapshot_increments(spark, table, suite, mp) is None

    b1 = transcripts(spark, n_convs=40, seed=3, n_parts=2)
    t.append(b1, partition_by=["part"])
    r1 = validate_snapshot_increments(spark, table, suite, mp)
    assert sum(m["n_rows"] for m in r1.partition_metrics) == b1.count()
    [(rid, meta)] = _sentinels(spark, mp)
    assert rid.endswith("-v0") and meta["mode"] == "full" and meta["to_version"] == 0

    # up to date: None, no new sentinel
    assert validate_snapshot_increments(spark, table, suite, mp) is None
    assert len(_sentinels(spark, mp)) == 1

    # append -> only the delta is validated
    b2 = transcripts(spark, n_convs=15, seed=9, n_parts=2)
    t.append(b2, partition_by=["part"])
    r2 = validate_snapshot_increments(spark, table, suite, mp)
    assert sum(m["n_rows"] for m in r2.partition_metrics) == b2.count()
    sents = _sentinels(spark, mp)
    assert [s[0][-3:] for s in sents] == ["-v0", "-v1"]
    assert sents[1][1] == {"from_version": 0, "to_version": 1, "mode": "delta"}


def test_row_change_falls_back_to_full(spark, tmp_path):
    table = str(tmp_path / "tbl")
    mp = str(tmp_path / "manifest")
    t = SnapshotTable(spark, table)
    suite = transcript_suite()
    b1 = transcripts(spark, n_convs=30, seed=3, n_parts=2)
    t.append(b1, partition_by=["part"])
    validate_snapshot_increments(spark, table, suite, mp)

    # a delete poisons the (0, cur] range -> full re-validation
    t.delete_where({"turn_idx": (0, 0)}, partition_by=["part"])
    r = validate_snapshot_increments(spark, table, suite, mp)
    n_now = t.read().count()
    assert sum(m["n_rows"] for m in r.partition_metrics) == n_now
    last = _sentinels(spark, mp)[-1][1]
    assert last["mode"] == "full" and last["to_version"] == t.current_version()


def test_crash_before_sentinel_resumes_without_recompute(spark, tmp_path):
    """Partition rows committed but no sentinel = a crashed increment:
    the next call re-runs the SAME increment run_id, skips committed
    partitions (run_resumable), and writes the sentinel."""
    table = str(tmp_path / "tbl")
    mp = str(tmp_path / "manifest")
    t = SnapshotTable(spark, table)
    suite = transcript_suite()
    b1 = transcripts(spark, n_convs=30, seed=3, n_parts=4)
    t.append(b1, partition_by=["part"])

    # simulate the crash: commit the partition rows directly, no sentinel
    run_resumable(spark, t.read(), suite, mp, f"snap-{suite_hash(suite)[:8]}-v0")
    assert _sentinels(spark, mp) == []

    r = validate_snapshot_increments(spark, table, suite, mp)
    # every partition was already committed -> nothing recomputed
    assert r is None
    [(rid, meta)] = _sentinels(spark, mp)
    assert rid.endswith("-v0")
    # and the table is now up to date
    assert validate_snapshot_increments(spark, table, suite, mp) is None
    # manifest holds exactly one row per partition plus one sentinel
    m = read_manifest(spark, mp)
    assert m.where(F.col("part") != COMPLETE_PART).count() == 4


def test_suite_change_revalidates_from_scratch(spark, tmp_path):
    """The watermark is keyed on suite_hash: a different suite sees no
    completed increments and validates the full current snapshot."""
    from dataval_spark.constraints.core import NotNull
    from dataval_spark.suite import Suite

    table = str(tmp_path / "tbl")
    mp = str(tmp_path / "manifest")
    t = SnapshotTable(spark, table)
    t.append(transcripts(spark, n_convs=20, seed=3, n_parts=2), partition_by=["part"])
    s1 = transcript_suite()
    validate_snapshot_increments(spark, table, s1, mp)

    s2 = Suite([NotNull("text")], part_col="part")
    assert suite_hash(s2) != suite_hash(s1)
    r = validate_snapshot_increments(spark, table, s2, mp)
    assert r is not None and sum(m["n_rows"] for m in r.partition_metrics) == t.read().count()
    sents = _sentinels(spark, mp)
    assert len(sents) == 2  # one completion per suite


def test_cli_validate_increments(spark, tmp_path, capsys):
    from dataval_spark.cli import main as cli_main

    table = str(tmp_path / "tbl")
    mp = str(tmp_path / "manifest")
    t = SnapshotTable(spark, table)
    t.append(transcripts(spark, n_convs=30, seed=3, n_parts=2), partition_by=["part"])

    rc = cli_main(["--input", table, "--validate-increments", "--manifest", mp,
                   "--cpus", "4"])
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc in (0, 3) and out["up_to_date"] is False and out["n_rows"] > 0

    # idempotent second call: up to date, exit 0
    rc = cli_main(["--input", table, "--validate-increments", "--manifest", mp,
                   "--cpus", "4"])
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0 and out["up_to_date"] is True

    # append -> delta only
    b2 = transcripts(spark, n_convs=10, seed=11, n_parts=2)
    t.append(b2, partition_by=["part"])
    rc = cli_main(["--input", table, "--validate-increments", "--manifest", mp,
                   "--cpus", "4"])
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["n_rows"] == b2.count()

    # guards: missing manifest / non-snapshot input
    rc = cli_main(["--input", table, "--validate-increments", "--cpus", "4"])
    assert rc == 2 and "requires --manifest" in capsys.readouterr().err
    plain = str(tmp_path / "plain")
    transcripts(spark, n_convs=5, seed=1, n_parts=2).write.parquet(plain)
    rc = cli_main(["--input", plain, "--validate-increments", "--manifest", mp,
                   "--cpus", "4"])
    assert rc == 2 and "snapshot" in capsys.readouterr().err


def test_continuous_drift_gate_rides_increments(spark, tmp_path):
    """drift_columns adds the cross-version drift gate to the loop:
    the first (full) pass only seeds the baseline histograms beside the
    manifest; a clean delta passes with mode 'incremental' and reuses
    the persisted histograms (no base rescan); a planted 3x-length
    shift on one partition is flagged on exactly that partition."""
    table = str(tmp_path / "tbl")
    mp = str(tmp_path / "manifest")
    t = SnapshotTable(spark, table)
    suite = transcript_suite()
    cols = ["length(text)"]

    b1 = transcripts(spark, n_convs=60, seed=3, n_parts=2)
    t.append(b1, partition_by=["part"])
    r1 = validate_snapshot_increments(
        spark, table, suite, mp, drift_columns=cols
    )
    assert getattr(r1, "drift", None) is None  # baseline seeded, no ref
    hists_path = f"{mp}_drift_hists.json"
    import os

    assert os.path.exists(hists_path)
    assert json.loads(open(hists_path).read())["cur_version"] == 0

    # clean delta: same generator, different seed -> same distribution
    b2 = transcripts(spark, n_convs=30, seed=11, n_parts=2)
    t.append(b2, partition_by=["part"])
    r2 = validate_snapshot_increments(
        spark, table, suite, mp, drift_columns=cols
    )
    d2 = r2.drift
    assert d2 is not None and d2["mode"] == "incremental"
    assert {r["bins_source"] for r in d2["records"]} == {"ref_hists"}
    assert not d2["any_drifted"]
    assert json.loads(open(hists_path).read())["cur_version"] == 1

    # planted shift: partition 0's new rows are ~3x longer
    b3 = (
        transcripts(spark, n_convs=30, seed=13, n_parts=2)
        .where(F.col("part") == 0)
        .withColumn("text", F.concat(F.col("text"), F.col("text"), F.col("text")))
    )
    t.append(b3, partition_by=["part"])
    r3 = validate_snapshot_increments(
        spark, table, suite, mp, drift_columns=cols
    )
    d3 = r3.drift
    assert d3 is not None and d3["any_drifted"]
    flagged = {
        r["part"]
        for r in d3["records"]
        if r.get("drifted") and r["part"] != "*"
    }
    assert flagged == {"0"}


def test_verdicts_cover_every_row_across_increments(spark, tmp_path):
    """Each increment writes its verdicts under its own
    snapshot_version=<N> directory, so a delta touching the same parts
    as earlier versions never replaces their verdicts; a full
    re-validation supersedes every other version's verdicts."""
    table = str(tmp_path / "tbl")
    mp = str(tmp_path / "manifest")
    vp = str(tmp_path / "verdicts")
    t = SnapshotTable(spark, table)
    suite = transcript_suite()

    t.append(transcripts(spark, n_convs=30, seed=3, n_parts=2), partition_by=["part"])
    validate_snapshot_increments(spark, table, suite, mp, verdicts_path=vp)
    for seed in (9, 11):  # both deltas cover the same parts as the base
        t.append(transcripts(spark, n_convs=12, seed=seed, n_parts=2))
        validate_snapshot_increments(spark, table, suite, mp, verdicts_path=vp)
    verdicts = spark.read.parquet(vp)
    assert verdicts.count() == t.read().count()
    assert {"snapshot_version", "part"} <= set(verdicts.columns)

    # re-running at the same version writes nothing
    assert validate_snapshot_increments(
        spark, table, suite, mp, verdicts_path=vp
    ) is None
    assert spark.read.parquet(vp).count() == t.read().count()

    # a row change forces a full pass that leaves only current rows
    t.delete_where({"turn_idx": (0, 0)}, partition_by=["part"])
    r = validate_snapshot_increments(spark, table, suite, mp, verdicts_path=vp)
    assert r is not None and _sentinels(spark, mp)[-1][1]["mode"] == "full"
    verdicts = spark.read.parquet(vp)
    assert verdicts.count() == t.read().count()
    versions = verdicts.select("snapshot_version").distinct().collect()
    assert [row.snapshot_version for row in versions] == [t.current_version()]
