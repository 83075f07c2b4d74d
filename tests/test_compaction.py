"""Small-file compaction of a hive-partitioned dataset
(``sinks.compact_partitioned_parquet``): the per-partition file
budgets, the preserved layout and exact content preservation."""

from __future__ import annotations

import os

from pyspark.sql import functions as F


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if not (f.startswith("_") or f.startswith(".")):
                total += os.path.getsize(os.path.join(root, f))
    return total


def test_compact_partitioned_preserves_layout_and_budgets(spark, tmp_path):
    src, dst = str(tmp_path / "psrc"), str(tmp_path / "pdst")
    df = spark.range(8_000).select(
        (F.col("id") % 4).alias("chain_id"),
        F.col("id").alias("v"),
        (F.col("id") * 3).alias("w"),
    )
    # 16 small files in each of the 4 partition dirs
    df.repartition(16).write.partitionBy("chain_id").parquet(src)
    from evmtrace_etl_spark.sinks import compact_partitioned_parquet

    # target = half a partition's bytes → per-partition budget n_i == 2
    per_part = max(
        _dir_bytes(os.path.join(src, f"chain_id={c}")) for c in range(4)
    )
    stats = compact_partitioned_parquet(
        spark, src, dst, ["chain_id"], target_bytes=-(-per_part // 2)
    )
    assert stats["files_in"] == 64
    assert stats["n_partitions"] == 4
    assert stats["n_target_files"] <= 8
    # hive layout preserved, each dir within its budget (salt may leave
    # a value empty, never over-full), and far fewer files than before
    for c in range(4):
        d = os.path.join(dst, f"chain_id={c}")
        assert os.path.isdir(d)
        n = sum(
            1
            for f in os.listdir(d)
            if not (f.startswith("_") or f.startswith("."))
        )
        assert 1 <= n <= 2, (c, n)
    assert stats["files_out"] < stats["files_in"]

    # content (including the partition column) preserved exactly
    got = sorted(tuple(r) for r in spark.read.parquet(dst).collect())
    want = sorted(tuple(r) for r in spark.read.parquet(src).collect())
    assert got == want

    # and a filter on the partition column still prunes directories
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        spark.read.parquet(dst).filter(F.col("chain_id") == 2).explain(
            mode="formatted"
        )
    assert "PartitionFilters" in buf.getvalue()


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


@given(
    parts=st.lists(st.integers(50, 300), min_size=2, max_size=4),
    frag=st.integers(2, 8),
    divisor=st.integers(1, 5),
)
@settings(
    max_examples=5,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_partitioned_compaction_roundtrip_property(
    spark, tmp_path_factory, parts, frag, divisor
):
    """Property: for ANY partition sizing/fragmentation/target, the
    layout-preserving compactor (a) round-trips the data exactly,
    (b) keeps the exact set of partition dirs, and (c) never exceeds
    the per-partition file budget ceil(bytes_i / target) computed here
    independently from the on-disk sizes."""
    from evmtrace_etl_spark.sinks import compact_partitioned_parquet

    base = str(tmp_path_factory.mktemp("pcomp"))
    src, dst = os.path.join(base, "src"), os.path.join(base, "dst")
    rows = [(p, p * 100_000 + i) for p, n in enumerate(parts) for i in range(n)]
    df = spark.createDataFrame(rows, "p: int, v: long")
    df.repartition(frag).write.partitionBy("p").parquet(src)

    dirs = sorted(d for d in os.listdir(src) if d.startswith("p="))
    sizes = {d: _dir_bytes(os.path.join(src, d)) for d in dirs}
    target = max(1, max(sizes.values()) // divisor)
    stats = compact_partitioned_parquet(
        spark, src, dst, ["p"], target_bytes=target
    )
    assert stats["n_partitions"] == len(dirs)

    budgets = {d: max(1, -(-b // target)) for d, b in sizes.items()}
    out_dirs = sorted(d for d in os.listdir(dst) if d.startswith("p="))
    assert out_dirs == dirs
    for d in dirs:
        n = len(
            [
                f
                for f in os.listdir(os.path.join(dst, d))
                if not (f.startswith("_") or f.startswith("."))
            ]
        )
        assert 1 <= n <= budgets[d], (d, n, budgets[d])

    got = sorted(tuple(r) for r in spark.read.parquet(dst).collect())
    want = sorted(tuple(r) for r in spark.read.parquet(src).collect())
    assert got == want
