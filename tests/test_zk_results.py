"""Single-pass dual-output zk plan: zk_results must equal the standalone
builders (its plan shape is pinned in test_plan_shapes)."""

from __future__ import annotations

from evmtrace_etl_spark.plans.pipeline import (
    zk_contracts_deduped,
    zk_results,
    zk_transactions,
)
from evmtrace_etl_spark.sources import fixtures


def _rows(df):
    return sorted(map(repr, df.collect()))


def test_zk_results_matches_standalone(spark):
    traces = fixtures.traces_df(spark)
    tx_combined, c_combined = zk_results(traces)
    assert _rows(tx_combined) == _rows(zk_transactions(traces))
    assert _rows(c_combined) == _rows(zk_contracts_deduped(traces))
