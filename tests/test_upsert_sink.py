"""The keyed upsert sink's contract (``sinks.LakeUpsertSink``): the
one file-table sink the streaming runner and the sink-tier registry
rows write through."""

from __future__ import annotations

import glob

import pytest

from evmtrace_etl_spark.sinks import LakeUpsertSink, read_table


def test_lake_upsert_sink_protocol(spark, tmp_path):
    """LakeUpsertSink's upsert protocol on the snapshot log: first-write
    seeds a hive-partitioned manifest-tracked table, insert-if-absent
    keeps first writes on replay, DO-UPDATE keeps the later batch, the
    partition-omitting batch raises, and the merge prunes candidates to
    the touched partition's files (directory-derived stats, no caller
    hint)."""
    sink = LakeUpsertSink(str(tmp_path / "lake"), partition_cols=("chain",))
    b1 = spark.createDataFrame(
        [(1, "a", 10), (1, "b", 11), (2, "c", 20)],
        "chain int, h string, v long",
    )
    sink.upsert(b1, "tx", ["chain", "h"], mode="ignore")
    assert sink.read(spark, "tx").count() == 3
    # replay + one new row: first insert of every key wins
    b2 = spark.createDataFrame(
        [(1, "a", 99), (1, "d", 12)], "chain int, h string, v long"
    )
    led_files = sorted(
        glob.glob(str(tmp_path / "lake" / "tx" / "chain=2" / "*.parquet"))
    )
    sink.upsert(b2, "tx", ["chain", "h"], mode="ignore")
    t = sink.read(spark, "tx")
    assert t.count() == 4
    assert t.filter("h = 'a'").select("v").collect()[0][0] == 10
    # untouched partition chain=2 kept its files (no rewrite)
    assert sorted(
        glob.glob(str(tmp_path / "lake" / "tx" / "chain=2" / "*.parquet"))
    ) == led_files
    # DO UPDATE: later batch wins
    sink.upsert(
        spark.createDataFrame([(1, "a", -7)], "chain int, h string, v long"),
        "tx",
        ["chain", "h"],
        mode="update",
    )
    assert sink.read(spark, "tx").filter("h = 'a'").select("v").collect()[
        0
    ][0] == -7
    # partition-omitting batch rejected
    with pytest.raises(ValueError, match="partition"):
        sink.upsert(
            spark.createDataFrame([("z", 1)], "h string, v long"),
            "tx",
            ["h"],
            mode="ignore",
        )
    # and the whole table still reads through the snapshot
    assert read_table(spark, str(tmp_path / "lake" / "tx")).count() == 4
