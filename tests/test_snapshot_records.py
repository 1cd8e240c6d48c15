"""Characterization of the per-operation record rules of SnapshotTable:
which keys each commit writes, how the scoped lists (deletes / renames /
retired / defaults) follow the files a record keeps, and how
``stream_state`` and ``bloom_columns`` carry along the chain."""

from __future__ import annotations

from pyspark.sql import functions as F

from dataval_spark.sources.snapshots import SnapshotTable

BASE_KEYS = {
    "version",
    "parent",
    "operation",
    "schema",
    "schema_fields",
    "manifests",
    "partition_spec",
    "bloom_columns",
    "committed_at",
}


def _df(spark, lo, hi):
    return (
        spark.range(lo, hi)
        .select(
            F.col("id"),
            F.concat(F.lit("c-"), F.col("id").cast("string")).alias("conv_id"),
            (F.col("id") * 2).alias("v"),
        )
        .coalesce(1)
    )


def _rels(t, snap):
    return sorted(rel for rel, _ in t.files(snap))


def test_record_rules_across_operations(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"), bloom_columns=["conv_id"])
    blooms = {"conv_id": 1_000_000}
    t.append(_df(spark, 0, 10))
    [f0] = _rels(t, t.snapshot())

    # append with a stream marker: the watermark map starts here
    assert t.append(_df(spark, 10, 20), stream_marker=("run", 1)) == 1
    s = t.snapshot()
    assert set(s) == BASE_KEYS | {"stream_state"}
    assert (s["version"], s["parent"], s["operation"]) == (1, 0, "append")
    assert s["stream_state"] == {"run": 1} and s["bloom_columns"] == blooms
    [f1] = sorted(set(_rels(t, s)) - {f0})

    # merge-on-read key delete: base record plus one scoped deletes entry
    assert t.delete_keys("id", [3]) == 2
    s = t.snapshot()
    assert set(s) == BASE_KEYS | {"stream_state", "deletes"}
    assert (s["parent"], s["operation"]) == (1, "delete")
    assert s["deletes"] == [{"key_col": "id", "keys": [3], "files": [f0]}]
    assert _rels(t, s) == sorted([f0, f1])
    assert s["stream_state"] == {"run": 1} and s["bloom_columns"] == blooms

    # rename DDL: every live file enters the rename and retired scopes
    assert t.rename_column("v", "w") == 3
    s = t.snapshot()
    assert set(s) == BASE_KEYS | {"stream_state", "deletes", "renames", "retired"}
    assert s["operation"] == "schema"
    assert s["deletes"] == [{"key_col": "id", "keys": [3], "files": [f0]}]
    assert s["renames"] == [{"new": "w", "old": "v", "files": sorted([f0, f1])}]
    assert s["retired"] == [{"name": "v", "files": sorted([f0, f1])}]
    assert s["stream_state"] == {"run": 1}

    # copy-on-write delete rewrites f1 only: scopes shrink to f0
    assert t.delete_where({"id": (12, 13)}) == 4
    s = t.snapshot()
    assert set(s) == BASE_KEYS | {"stream_state", "deletes", "renames", "retired"}
    assert (s["parent"], s["operation"]) == (3, "delete")
    live = _rels(t, s)
    assert f0 in live and f1 not in live and len(live) == 2
    assert s["deletes"] == [{"key_col": "id", "keys": [3], "files": [f0]}]
    assert s["renames"] == [{"new": "w", "old": "v", "files": [f0]}]
    assert s["retired"] == [{"name": "v", "files": [f0]}]
    assert s["stream_state"] == {"run": 1} and s["bloom_columns"] == blooms
    assert t.read().count() == 17

    # compact keeps no base file: every scoped list goes
    assert t.compact() == 5
    s = t.snapshot()
    assert set(s) == BASE_KEYS | {"stream_state"}
    assert (s["parent"], s["operation"]) == (4, "compact")
    assert s["stream_state"] == {"run": 1} and s["bloom_columns"] == blooms
    assert sorted(r.id for r in t.read().collect()) == [
        i for i in range(20) if i not in (3, 12, 13)
    ]

    # rollback to v0: v0's content, the chain head's watermarks
    assert t.rollback(0) == 6
    s = t.snapshot()
    v0 = t.snapshot(0)
    assert "stream_state" not in v0
    assert set(s) == BASE_KEYS | {"stream_state"}
    assert (s["version"], s["parent"], s["operation"]) == (6, 5, "rollback")
    assert s["manifests"] == v0["manifests"] and s["schema"] == v0["schema"]
    assert s["stream_state"] == {"run": 1} and s["bloom_columns"] == blooms
    assert s["committed_at"] >= v0["committed_at"]
    assert t.read().count() == 10
