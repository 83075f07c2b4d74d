"""Trace-tree operators: the reference's fused per-transaction multi-aggregate
re-expressed as declarative DataFrame operators (SURVEY §2.3-2.4).

The reference builds five HashMaps record-at-a-time per transaction session
(reference src/types/trace_tree.rs:247-303: call_tree, gas_tree,
signature_tree, ec_pairing_input_size_tree, ec_recover_addresses) and then
derives transactions/contracts at commit time (trace_tree.rs:72-245).

Spark-first design — one heavy shuffle, then one small one:

1. ``edge_aggregate`` groups the raw traces ONCE on
   ``(chain_id, transaction_hash, from_address, to_address)``.  call_tree
   (to→from→count) and gas_tree (from→to→gas) are the SAME pair grain, so
   a single hash aggregate computes both, plus the per-pair selector set,
   pairing-input sizes, recovered addresses and the transaction's
   keep-last eligible root.  Spark's hash aggregate gives map-side partial
   aggregation and whole-stage codegen fuses the projections/filters in —
   the fusion the reference wrote by hand.
2. ``transaction_trees`` regroups the edge table, already reduced by
   orders of magnitude (one row per distinct caller/callee pair per tx),
   on ``(chain_id, transaction_hash)``: one row per committing
   transaction holding its edge list, its root and its first- and
   second-degree callers — the reference's in-memory ``TraceTree``.  At
   100 TB the only full-data shuffle is step 1; every output is then a
   projection of step 2's rows.

Batch semantics note (SURVEY §2.3): the reference's streaming sessionizer
never commits the final transaction of a stream and treats a duplicate root
as a new session.  Batch groupBy has neither artifact; duplicate
``(chain_id, transaction_hash)`` roots resolve keep-last-by-``seq``,
matching the sink dedup D1's eventual outcome.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.evm import (
    EC_PAIRING_ADDRESS,
    EC_RECOVER_ADDRESS,
    FIRST_DEGREE_FILTER_ADDRESSES,
    ec_recover_address,
    pairing_input_size,
    selector_masked,
)

TX_KEY = ["chain_id", "transaction_hash"]

#: root-trace fields a transaction output row is assembled from (A6)
_ROOT_COLS = ["from_address", "to_address", "value", "input", "transaction_index",
              "gas_used", "error", "block_number", "block_timestamp", "block_hash", "seq"]


def _edge_prepped(traces: DataFrame) -> DataFrame:
    """Null-guarded traces with the per-row derived columns the edge
    aggregate consumes (P10 guard + P6/P8/P7 projections, and the root
    payload of commit-eligible roots)."""
    guarded = traces.filter(
        F.col("from_address").isNotNull() & F.col("to_address").isNotNull()
    )
    is_pairing = F.col("to_address") == F.lit(EC_PAIRING_ADDRESS)
    is_recover = F.col("to_address") == F.lit(EC_RECOVER_ADDRESS)
    # P4 + P11 (reference trace/mod.rs:68, trace_tree.rs:73-89); the
    # guard above already requires from/to
    is_root = (
        (F.size("trace_address") == 0)
        & F.col("transaction_hash").isNotNull()
        & F.col("transaction_index").isNotNull()
    )
    return (
        guarded.withColumn("_sel", selector_masked("input", "to_address"))
        .withColumn(
            "_pair_size", F.when(is_pairing, pairing_input_size("input"))
        )
        .withColumn(
            "_recovered", F.when(is_recover, ec_recover_address("output"))
        )
        .withColumn("_root", F.when(is_root, F.struct(*_ROOT_COLS)))
    )


def _last_root(root: str) -> Column:
    """A6 keep-last: the root struct with the highest ``seq`` (rows whose
    root is null have a null ordering and are skipped by ``max_by``)."""
    return F.max_by(root, F.col(f"{root}.seq"))


def _salted_partials(prepped: DataFrame, n_salts: int) -> DataFrame:
    """Stage 1 of the salted aggregate: per (edge key, salt) partials.

    The salt (seq mod n_salts — deterministic, uniform over a hot key's
    rows) splits one pathological (tx, from, to) pair across ``n_salts``
    reducers, so no partition processes more than ~1/n_salts of the hot
    key's raw rows; sets are pre-deduped per salt before the merge."""
    salted = prepped.withColumn(
        "_salt", F.pmod(F.col("seq"), F.lit(n_salts))
    )
    return salted.groupBy(*TX_KEY, "from_address", "to_address", "_salt").agg(
        F.count(F.lit(1)).alias("_cnt"),
        F.sum(F.coalesce(F.col("gas_used"), F.lit(0))).alias("_gas"),
        F.collect_set("_sel").alias("_sels"),
        F.collect_list("_pair_size").alias("_psz"),
        F.collect_set("_recovered").alias("_recs"),
        _last_root("_root").alias("_rt"),
    )


def edge_aggregate(traces: DataFrame, n_salts: int | None = None) -> DataFrame:
    """A1+A2 (+A3/A4/A5 partials) — one pass over null-guarded traces
    (P10, reference trace_tree.rs:249) at caller/callee-pair grain.

    Output grain: (chain_id, transaction_hash, from_address, to_address).
    ``root`` carries the transaction's keep-last (max ``seq``) eligible
    root trace on the edge it lies on, null on every other edge.

    ``n_salts`` enables the two-stage salted variant (salt → partial →
    final) for skewed inputs: a single transaction with millions of
    traces on one (from, to) pair otherwise concentrates on one reducer
    — map-side partial aggregation bounds the count/sum legs but the
    hot key's final merge still lands on a single task.  With salting,
    stage 2 merges at most ``n_salts`` pre-reduced rows per edge key.
    Results are identical up to array element order (every downstream
    consumer re-sorts or re-dedups; the raw collect order was never
    deterministic to begin with).  Default off: the fixture-scale and
    typical-chain distributions don't need it.
    """
    prepped = _edge_prepped(traces)
    if n_salts is None:
        return prepped.groupBy(*TX_KEY, "from_address", "to_address").agg(
            F.count(F.lit(1)).alias("call_count"),
            F.sum(F.coalesce(F.col("gas_used"), F.lit(0))).alias("gas_sum"),
            F.collect_set("_sel").alias("selectors"),
            F.collect_list("_pair_size").alias("pairing_sizes"),
            F.collect_set("_recovered").alias("recovered"),
            _last_root("_root").alias("root"),
        )
    partials = _salted_partials(prepped, n_salts)
    return partials.groupBy(*TX_KEY, "from_address", "to_address").agg(
        F.sum("_cnt").alias("call_count"),
        F.sum("_gas").alias("gas_sum"),
        F.array_distinct(F.flatten(F.collect_list("_sels"))).alias(
            "selectors"
        ),
        F.flatten(F.collect_list("_psz")).alias("pairing_sizes"),
        F.array_distinct(F.flatten(F.collect_list("_recs"))).alias(
            "recovered"
        ),
        _last_root("_rt").alias("root"),
    )


def _callers(is_call: Callable[[Column], Column]) -> Column:
    """One degree's callers: ``array<struct<address, call>>`` holding each
    distinct caller on an ``edges`` element that passes ``is_call``, with
    the sorted set of its callees on such edges; sorted by address."""
    calls = F.filter("edges", is_call)
    return F.transform(
        F.sort_array(
            F.array_distinct(F.transform(calls, lambda e: e.from_address))
        ),
        lambda a: F.struct(
            a.alias("address"),
            F.sort_array(
                F.array_distinct(
                    F.transform(
                        F.filter(calls, lambda e: e.from_address == a),
                        lambda e: e.to_address,
                    )
                )
            ).alias("call"),
        ),
    )


def transaction_trees(edges: DataFrame) -> DataFrame:
    """One row per committing transaction: its reduced edge list
    (``edges``), its keep-last root (``root``) and its caller degrees.

    Commits only transactions with an eligible root (P4 + P11) whose tree
    calls ecRecover or ecPairing (J1, reference trace_tree.rs:67-70).

    - ``first_degree`` (J2, trace_tree.rs:93-100): callers of
      ecPairing/ecRecover with the precompiles each called.
    - ``second_degree`` (J3, trace_tree.rs:103-112): callers of a
      first-degree caller with the first-degree callees, excluding the
      transaction's EOA (root ``from_address``).  One bounded graph hop —
      the reference fixes traversal depth at 2.
    """

    def zk_call(e: Column) -> Column:
        return e.to_address.isin(FIRST_DEGREE_FILTER_ADDRESSES)

    edge = [c for c in edges.columns if c not in (*TX_KEY, "root")]
    trees = (
        edges.groupBy(*TX_KEY)
        .agg(
            F.collect_list(F.struct(*edge)).alias("edges"),
            _last_root("root").alias("root"),
        )
        .filter(F.col("root").isNotNull() & F.exists("edges", zk_call))
        .withColumn("first_degree", _callers(zk_call))
    )
    first = F.transform("first_degree", lambda c: c.address)
    return trees.withColumn(
        "second_degree",
        _callers(
            lambda e: F.array_contains(first, e.to_address)
            & (e.from_address != F.col("root.from_address"))
        ),
    )
