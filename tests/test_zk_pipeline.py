"""Differential + targeted tests for the zk-trace domain pipeline.

The differential tests run the real Spark pipeline on the deterministic
fixture and compare against a pure-SQL DuckDB restatement of the same
batch semantics (plans.zk_parity).  The targeted tests pin down the
scenario outcomes FIXTURES.md §A requires, so a same-bug-both-sides
failure in the differential layer would still be caught on the cases the
reference defines.
"""

from __future__ import annotations

import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

from evmtrace_etl_spark.plans import zk_parity
from evmtrace_etl_spark.plans.pipeline import (
    blocks_passthrough,
    zk_contracts_deduped,
    zk_results,
    zk_transactions,
)
from evmtrace_etl_spark.schemas import TRACE_SCHEMA
from evmtrace_etl_spark.sources import fixtures
from evmtrace_etl_spark.sources.fixtures import (
    C1,
    C2,
    C3,
    C5,
    C6,
    C7,
    C8,
    EOA1,
    EOA2,
    P_ADD,
    P_MUL,
    P_PAIR,
    P_REC,
    TXH,
)

from .compare import assert_matches_oracle


def test_transactions_match_duckdb_oracle(spark):
    assert_matches_oracle(
        zk_parity.spark_zk_transactions(spark),
        zk_parity.zk_transactions_oracle_sql(),
    )


def test_contracts_match_duckdb_oracle(spark):
    assert_matches_oracle(
        zk_parity.spark_zk_contracts(spark),
        zk_parity.zk_contracts_oracle_sql(),
    )


def test_blocks_match_duckdb_oracle(spark):
    assert_matches_oracle(
        zk_parity.spark_blocks(spark), zk_parity.blocks_oracle_sql()
    )


_INPUTS = [None, "0x", "0x12345678", "0xaabbccdd" + "ab" * 4, "0x11223344" + "cd" * 64]
_OUTPUTS = [None, "0x" + "00" * 8, "0x" + format(0x1111, "064x")]


@st.composite
def _zk_traces(draw):
    """Up to 3 transaction sessions of 1-2 roots and 0-5 calls over a
    small address pool, so hashes, roots and addresses collide: shared
    or null transaction hashes, duplicate and ineligible roots, EOAs
    calling first-degree callers, addresses at both degrees."""
    pick = lambda xs: draw(st.sampled_from(xs))  # noqa: E731
    rows = []
    for _ in range(draw(st.integers(1, 3))):
        chain, tx, eoa = pick([1, 10]), pick([TXH[1], TXH[2], None]), pick([EOA1, EOA2])
        calls = [(eoa, pick([C1, C2, P_REC, P_PAIR]), [], pick([0, 1, None]))
                 for _ in range(draw(st.integers(1, 2)))]
        calls += [(pick([eoa, C1, C2, C3, None]),
                   pick([C1, C2, C3, P_REC, P_ADD, P_MUL, P_PAIR, None]), [i], 0)
                  for i in range(draw(st.integers(0, 5)))]
        for frm, to, path, idx in calls:
            rows.append(fixtures._t(
                len(rows), tx, frm, to, chain=chain, idx=idx, path=path,
                value=pick([None, 0, 5]), input=pick(_INPUTS),
                output=pick(_OUTPUTS), gas_used=pick([None, 1, 50, 7000]),
                error=pick([None, "Reverted"]),
            ))
    return rows


# every named case at least once: duplicate roots (keep-last E1->C2),
# C2 at both degrees, the EOA calling first-degree C1 (excluded from
# degree 2), a null transaction_hash, and a transaction with no zk call
_NAMED_CASES = [
    fixtures._t(0, TXH[1], EOA1, C1, input="0xaabbccdd" + "ab" * 4, gas_used=9),
    fixtures._t(1, TXH[1], C1, P_PAIR, input="0x" + "cd" * 192, gas_used=3, path=[0]),
    fixtures._t(2, TXH[1], C2, C1, input="0x11223344" + "cd" * 8, gas_used=5, path=[1]),
    fixtures._t(3, TXH[1], C2, P_REC, output=_OUTPUTS[2], gas_used=7, path=[2]),
    fixtures._t(4, TXH[1], EOA1, C2, value=5, gas_used=11),
    fixtures._t(5, None, EOA2, C3, gas_used=1),
    fixtures._t(6, None, C3, P_REC, output=_OUTPUTS[1], path=[0]),
    fixtures._t(7, TXH[2], EOA2, C3, chain=10, gas_used=2),
    fixtures._t(8, TXH[2], C3, P_ADD, chain=10, path=[0]),
]


@given(rows=_zk_traces())
@example(rows=_NAMED_CASES)
@settings(max_examples=12, deadline=None, derandomize=True)
def test_zk_results_match_duckdb_oracle_on_random_traces(spark, rows):
    """zk_results against the independent DuckDB restatement on
    generated trace sets (the fixture pins one input; this varies it)."""
    tx, contracts = zk_results(fixtures.arrow_df(spark, rows, TRACE_SCHEMA))
    relation = fixtures.traces_values_sql(rows)
    assert_matches_oracle(
        zk_parity.project_tx(tx), zk_parity.zk_transactions_oracle_sql(relation)
    )
    assert_matches_oracle(
        zk_parity.project_contracts(contracts),
        zk_parity.zk_contracts_oracle_sql(relation),
    )


@pytest.fixture(scope="module")
def tx_rows(spark):
    df = zk_transactions(fixtures.traces_df(spark))
    return {(r["chain_id"], r["transaction_hash"]): r for r in df.collect()}


@pytest.fixture(scope="module")
def contract_rows(spark):
    df = zk_contracts_deduped(fixtures.traces_df(spark))
    return {(r["chain_id"], r["address"]): r for r in df.collect()}


def test_commit_filter_drops_non_zk(tx_rows):
    committed = {k[1] for k in tx_rows if k[0] == 1}
    assert TXH[4] not in committed  # only ecAdd/ecMul (J1)
    assert TXH[5] not in committed  # no precompiles (J1)
    assert TXH[6] not in committed  # root missing to_address (P11)
    assert TXH[10] not in committed  # root missing transaction_index (P11)
    assert committed == {TXH[1], TXH[2], TXH[3], TXH[7], TXH[9]}


def test_tx1_depth_one(tx_rows):
    r = tx_rows[(1, TXH[1])]
    assert r["closest_address"] == [C1]  # EOA excluded from 2nd degree
    assert r["function_signature"] == "0xaabbccdd"
    assert r["ec_pairing_count"] == 2 and r["ec_recover_count"] == 1
    assert r["ec_pairing_input_sizes"] == [192, 384]
    # null-from trace (P10) contributes nothing: only C1's calls count
    assert r["gas_used_first_degree"] == 113 + 127 + 131
    assert r["gas_used_second_degree"] == 0
    assert r["ec_recover_addresses"] == ["0x" + format(0x1111, "040x")]
    assert str(r["value"]) == "1000"


def test_tx2_second_degree(tx_rows, contract_rows):
    r = tx_rows[(1, TXH[2])]
    assert r["closest_address"] == [C2]  # second degree beats first (J4)
    assert r["error"] == "Reverted"
    assert r["ec_add_count"] == 1 and r["ec_mul_count"] == 1
    assert r["gas_used_first_degree"] == 1013  # C3's sent gas
    assert r["gas_used_second_degree"] == 1009 + 1019  # C2's sent gas
    c3 = contract_rows[(1, C3)]
    assert c3["degree"] == 0 and c3["call"] == [P_PAIR]
    assert c3["function_signatures"] == ["0x11223344"]
    c2 = contract_rows[(1, C2)]
    assert c2["degree"] == 1 and c2["call"] == [C3]
    assert c2["ec_pairing_count"] == 0


def test_tx3_fan_in_and_quirks(tx_rows, contract_rows):
    r = tx_rows[(1, TXH[3])]
    assert r["ec_recover_count"] == 3
    # short output -> zero address; two real recoveries
    assert r["ec_recover_addresses"] == [
        "0x" + "0" * 40,
        "0x" + format(0x3333, "040x"),
        "0x" + format(0x4444, "040x"),
    ]
    assert r["function_signature"] == "0x00000000"  # null root input
    assert r["closest_address"] == [C5]
    # C5 is both degree 0 and degree 1 with identical signature set ->
    # keep-first dedup (D2) keeps degree 0
    assert contract_rows[(1, C5)]["degree"] == 0
    assert contract_rows[(1, C6)]["degree"] == 0
    assert contract_rows[(1, C6)]["call"] == [P_REC]


def test_tx7_duplicate_roots_keep_last(tx_rows):
    r = tx_rows[(1, TXH[7])]
    assert r["gas_used_total"] == 70007  # later seq root wins
    assert r["ec_recover_count"] == 1


def test_tx8_chain_isolation(tx_rows):
    r = tx_rows[(10, TXH[1])]
    assert r["ec_pairing_count"] == 1
    assert r["ec_recover_count"] == 0
    assert r["block_number"] == 200


def test_tx9_quirks(tx_rows, contract_rows):
    r = tx_rows[(1, TXH[9])]
    assert r["function_signature"] == "0x00000000"  # exactly-4-byte input
    assert r["ec_pairing_input_sizes"] == [0]  # null pairing calldata
    c8 = contract_rows[(1, C8)]
    assert c8["ec_pairing_count"] == 1
    assert c8["ec_pairing_input_sizes"] == [0]


def test_blocks_keep_last(spark):
    out = blocks_passthrough(fixtures.blocks_df(spark))
    rows = {(r["chain_id"], r["number"]): r for r in out.collect()}
    assert len(rows) == 4
    assert rows[(1, 100)]["gas_used"] == 1_111_111  # seq-4 duplicate wins
    assert rows[(1, 100)]["transaction_count"] == 12
    assert "seq" not in out.columns


def test_salted_edge_aggregate_matches_and_bounds_skew(spark):
    """Two-stage salted aggregate: identical results (up to array order)
    on the standard fixture, and a 1e5-row single-hot-pair fixture whose
    stage-1 output is bounded at n_salts rows per edge key."""
    from evmtrace_etl_spark.operators.trace_tree import (
        _edge_prepped,
        _salted_partials,
        edge_aggregate,
    )

    def canon(df):
        return sorted(
            (
                r.chain_id, r.transaction_hash, r.from_address, r.to_address,
                r.call_count, r.gas_sum, sorted(r.selectors),
                sorted(r.pairing_sizes), sorted(r.recovered), r.root,
            )
            for r in df.collect()
        )

    traces = fixtures.traces_df(spark)
    assert canon(edge_aggregate(traces, n_salts=8)) == canon(
        edge_aggregate(traces)
    )

    # pathological: one tx, one (from, to) pair, 1e5 traces
    n = 100_000
    hot = spark.range(n).selectExpr(
        "1 AS chain_id",
        f"'{TXH[1]}' AS transaction_hash",
        f"'{fixtures.C1}' AS from_address",
        f"'{fixtures.C2}' AS to_address",
        "id AS seq",
        "CAST(NULL AS string) AS input",
        "CAST(NULL AS string) AS output",
        "id AS gas_used",
        "array(CAST(id AS int)) AS trace_address",
        # root-trace fields the aggregate carries (no row is a root)
        "CAST(NULL AS int) AS transaction_index",
        "CAST(NULL AS decimal(38,0)) AS value",
        "CAST(NULL AS string) AS error",
        "0L AS block_number",
        "CAST(NULL AS long) AS block_timestamp",
        "CAST(NULL AS string) AS block_hash",
    )
    n_salts = 16
    partials = _salted_partials(_edge_prepped(hot), n_salts)
    # the hot key is split across exactly n_salts pre-reduced rows, so
    # the final merge consumes n_salts rows instead of 1e5
    assert partials.count() == n_salts
    out = edge_aggregate(hot, n_salts=n_salts).collect()
    assert len(out) == 1
    assert out[0].call_count == n
    assert out[0].gas_sum == n * (n - 1) // 2
