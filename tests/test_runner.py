"""Micro-batch runner: the partition hint each sink receives."""

from __future__ import annotations

from types import SimpleNamespace

import pytest

from evmtrace_etl_spark.sources import fixtures
from evmtrace_etl_spark.streaming import runner


@pytest.mark.parametrize("uses_hints", [True, False])
def test_hint_derived_only_for_sinks_that_use_it(spark, uses_hints):
    hints = {}

    def upsert(df, table, keys, mode, touched_partitions):
        hints[table] = touched_partitions and sorted(
            touched_partitions, key=lambda p: p["chain_id"]
        )

    sink = SimpleNamespace(uses_partition_hints=uses_hints, upsert=upsert)
    runner.process_trace_batch(fixtures.traces_df(spark), sink, checksum=False)
    runner.process_block_batch(fixtures.blocks_df(spark), sink, checksum=False)
    chains = sorted({r["chain_id"] for r in fixtures.TRACE_ROWS})
    want = [{"chain_id": c} for c in chains] if uses_hints else None
    assert hints == dict.fromkeys(("transactions", "contracts", "blocks"), want)
