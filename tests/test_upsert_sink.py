"""The keyed upsert sink's contract (``sinks.LakeUpsertSink``): the
one file-table sink the streaming runner and the sink-tier registry
rows write through."""

from __future__ import annotations

import datetime
import glob
from decimal import Decimal

import pytest
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from evmtrace_etl_spark import sinks
from evmtrace_etl_spark.sinks import (
    LakeUpsertSink,
    current_manifest,
    prune_files,
    read_table,
)

_WIDE = "chain_id long, h string, amt decimal(38,0), ts timestamp, n long"


def _wide_batch(spark, lo: int, hi: int, tag: str = "h"):
    """Rows ``lo..hi-1`` over two chains; every stats type the sink
    indexes (long, string, decimal(38,0), timestamp) is a key."""
    t0 = datetime.datetime(2024, 1, 1)
    return spark.createDataFrame(
        [
            (
                i % 2 + 1,
                f"{tag}{i:04d}",
                Decimal(10**30 + i),
                t0 + datetime.timedelta(seconds=i),
                i,
            )
            for i in range(lo, hi)
        ],
        _WIDE,
    ).coalesce(1)


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


def test_first_commit_writes_manifest_on_driver(spark, tmp_path, monkeypatch):
    """A new table's first commit IS its checkpoint, and that manifest
    is exactly the batch's stats rows already held on the driver: it
    lands as one driver-side parquet part with zero Spark jobs and no
    list-backed DataFrame (which would start a Python worker pool).
    The marker and the served manifest are what the distributed write
    produced, and later commits fold through a checkpoint unchanged."""
    sink = LakeUpsertSink(str(tmp_path / "lake"))
    keys = ["h", "amt", "ts", "n"]
    b1 = _wide_batch(spark, 0, 40)
    sc = spark.sparkContext
    tracker = spark._jsc.sc().statusTracker()
    commit_jobs: list[int] = []
    real_commit = sinks._commit_manifest

    def counted_commit(*a, **kw):
        group = f"first-commit-{len(commit_jobs)}"
        sc.setJobGroup(group, "manifest commit", False)
        try:
            return real_commit(*a, **kw)
        finally:
            sc.setJobGroup("", "", False)
            commit_jobs.append(len(tracker.getJobIdsForGroup(group)))

    conversions: list[int] = []
    real_create = SparkSession.createDataFrame

    def counted_create(self, *a, **kw):
        conversions.append(1)
        return real_create(self, *a, **kw)

    monkeypatch.setattr(sinks, "_commit_manifest", counted_commit)
    monkeypatch.setattr(SparkSession, "createDataFrame", counted_create)
    sink.upsert(b1, "tx", keys, mode="ignore")
    monkeypatch.undo()
    assert commit_jobs == [0]
    assert conversions == []

    tbl = str(tmp_path / "lake" / "tx")
    mdir = tbl + "/_stats_manifest"
    assert len(sinks._version_parquet_parts(spark, mdir, 0)) == 1
    marker = sinks._commit_info(spark, mdir, 0)
    assert marker["kind"] == "checkpoint" and marker["base_ckpt"] == 0
    assert marker["stats_cols"] == ["chain_id", *keys]
    # the served manifest equals the old path's: the same stats rows
    # converted to a DataFrame under the stamped manifest schema
    man = current_manifest(spark, mdir)
    mschema = sinks._manifest_schema_from(marker)
    stats_rows, _ = sinks._local_stats_rows(
        marker["added"],
        marker["stats_cols"],
        sinks.committed_schema(spark, mdir),
        ["chain_id"],
    )
    want = real_create(
        spark,
        [
            tuple(dict(r, added_version=0).get(f.name) for f in mschema.fields)
            for r in stats_rows
        ],
        mschema,
    )
    assert man.dtypes == want.dtypes
    assert sorted(man.collect()) == sorted(want.collect())
    assert len(stats_rows) == 2  # one file per chain partition

    preds = {
        "h": ("h0003", "h0007"),
        "n": (10, 12),
        "ts": (
            datetime.datetime(2024, 1, 1, 0, 0, 20),
            datetime.datetime(2024, 1, 1, 0, 0, 21),
        ),
        "chain_id": 2,
    }
    pruned = {c: sorted(prune_files(man, {c: v})) for c, v in preds.items()}
    # two appends of disjoint keys: v1 a delta, v2 the checkpoint fold
    monkeypatch.setattr(sinks, "_CHECKPOINT_EVERY", 2)
    sink.upsert(_wide_batch(spark, 100, 120, "x"), "tx", keys, mode="ignore")
    sink.upsert(_wide_batch(spark, 200, 220, "y"), "tx", keys, mode="ignore")
    head = sinks._commit_info(spark, mdir, 2)
    assert head["kind"] == "checkpoint" and head["base_ckpt"] == 2
    got = sink.read(spark, "tx")
    want_rows = (
        _wide_batch(spark, 0, 40)
        .unionByName(_wide_batch(spark, 100, 120, "x"))
        .unionByName(_wide_batch(spark, 200, 220, "y"))
    )
    assert got.columns == want_rows.columns
    assert sorted(got.collect()) == sorted(want_rows.collect())
    man2 = current_manifest(spark, mdir)
    assert man2.count() == 6
    for c, v in preds.items():
        after = sorted(prune_files(man2, {c: v}))
        if c == "chain_id":  # every append adds a chain=2 file
            assert set(pruned[c]) < set(after) and len(after) == 3
        else:
            assert after == pruned[c], c


def test_manifest_set_algebra_stays_jvm_side(spark, tmp_path):
    """The manifest's removed-file algebra filters on the driver-held
    file list (an IN-set) instead of joining a Python-backed relation:
    after a copy-on-write update that removes files, the reconstructed
    manifest's optimized plan carries no LogicalRDD, and its rows equal
    the anti-join over the log's removed lists."""
    sink = LakeUpsertSink(str(tmp_path / "lake"))
    keys = ["h", "amt", "ts", "n"]
    sink.upsert(_wide_batch(spark, 0, 40), "tx", keys, mode="ignore")
    sink.upsert(_wide_batch(spark, 0, 5), "tx", keys, mode="update")
    tbl = str(tmp_path / "lake" / "tx")
    mdir = tbl + "/_stats_manifest"
    head = sinks.manifest_version(spark, mdir)
    removed = sorted(
        f
        for v in range(1, head + 1)
        for f in sinks._commit_info(spark, mdir, v).get("removed", [])
    )
    assert removed, "the update must remove (rewrite) a file"
    man = current_manifest(spark, mdir)
    plan = man._jdf.queryExecution().optimizedPlan().toString()
    assert "LogicalRDD" not in plan, plan
    mschema = sinks._manifest_schema_from(sinks._commit_info(spark, mdir, head))
    dirs = [
        f"{mdir}/v{v}"
        for v in range(head + 1)
        if sinks._version_parquet_parts(spark, mdir, v)
    ]
    anti = spark.read.schema(mschema).parquet(*dirs).join(
        F.broadcast(spark.createDataFrame([(f,) for f in removed], "file string")),
        on="file",
        how="left_anti",
    )
    assert sorted(man.collect()) == sorted(anti.collect())
    assert sink.read(spark, "tx").count() == 40


def test_read_table_serves_committed_column_order(spark, tmp_path):
    """A hive scan puts partition columns last; ``read_table`` serves
    the committed order on the plain, predicate-pruned and time-travel
    paths alike."""
    tbl = str(tmp_path / "t")
    cols = ["chain_id", "h", "v"]
    batch = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20)], "chain_id long, h string, v long"
    )
    sinks.append_files(spark, batch, tbl, cols=["chain_id", "h"],
                       partition_by=["chain_id"])
    sinks.append_files(
        spark,
        spark.createDataFrame([(1, "c", 30)], "chain_id long, h string, v long"),
        tbl,
    )
    assert read_table(spark, tbl).columns == cols
    assert read_table(spark, tbl).count() == 3
    pruned = read_table(spark, tbl, predicates={"h": "c"})
    assert pruned.columns == cols
    assert [tuple(r) for r in pruned.collect()] == [(1, "c", 30)]
    old = read_table(spark, tbl, version=0)
    assert old.columns == cols
    assert sorted(tuple(r) for r in old.collect()) == [(1, "a", 10), (2, "b", 20)]
