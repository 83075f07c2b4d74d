"""End-to-end domain plans: traces → transactions / contracts, blocks
passthrough (SURVEY §3 EP1/EP2 restated as pure batch DataFrame functions).

Each builder is ``DataFrame -> DataFrame`` and runs identically under
``spark.read`` and inside ``foreachBatch`` (streaming reuses these plans,
see evmtrace_etl_spark.streaming).

Scale shape: ONE full-data shuffle (edge_aggregate on
chain/tx/from/to), then one shuffle of the reduced edge table on
(chain_id, transaction_hash) that builds one row per transaction
(``transaction_trees``).  Both outputs are projections of those rows;
the contracts' keep-first window adds the only other shuffle.

Memory assumption: one transaction's reduced edge list — bounded by its
distinct caller/callee pairs, as the reference's per-transaction
``TraceTree`` HashMaps are — fits in one row.  Skew WITHIN a pair is
what ``edge_aggregate(n_salts=...)`` handles.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.evm import is_precompile, selector
from ..operators.relational import dedup_keep_first, dedup_keep_last
from ..operators.trace_tree import edge_aggregate, transaction_trees

#: the EC precompiles whose calls are counted (A8), as ``is_precompile`` names
_COUNTED = ["ec_recover", "ec_add", "ec_mul", "ec_pairing"]


class ZkParts:
    """The shared single-pass intermediates of the zk pipeline.

    ``edges`` is the edge aggregate (the ONE full-data shuffle, one row
    per edge); ``trees`` is one row per committing transaction built from
    it.  ``trees`` is persisted so the transaction and contract outputs —
    two actions in any real run, exactly like the reference emitting both
    from one TraceTree commit (src/types/trace_tree.rs:115-245) — scan
    the raw traces once and shuffle them once instead of twice.

    ``persist=True`` callers own the cache and MUST call ``unpersist()``
    when done (``process_trace_batch`` does).  Single-output standalone
    paths pass ``persist=False`` — one action evaluates one DataFrame,
    so nothing is left cached behind the caller's back.
    """

    def __init__(self, traces: DataFrame, persist: bool = True):
        self.edges = edge_aggregate(traces)
        self.trees = transaction_trees(self.edges)
        self._persisted = persist
        if persist:
            self.trees = self.trees.persist()

    def unpersist(self) -> None:
        if self._persisted:
            self.trees.unpersist()


def zk_results(traces: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Single-pass dual output: (transactions, contracts_deduped) sharing
    one persisted per-transaction table — the Spark restatement of the
    reference emitting Transaction + Contract rows from one commit."""
    parts = ZkParts(traces)
    return zk_transactions(traces, parts), zk_contracts_deduped(traces, parts)


def _total(edges: Column, keep: Callable[[Column], Column], field: str) -> Column:
    """Sum of ``field`` over the edges that pass ``keep`` (0 if none)."""
    return F.aggregate(
        F.filter(edges, keep), F.lit(0).cast("long"), lambda acc, e: acc + e[field]
    )


def _call_counts(edges: Column) -> list[Column]:
    """A8 — call counts into each EC precompile over ``edges``."""
    return [
        _total(edges, lambda e: is_precompile(e.to_address, p), "call_count")
        .alias(f"{p}_count")
        for p in _COUNTED
    ]


def _flat(edges: Column, field: str) -> Column:
    """All elements of the array ``field`` over ``edges``; the per-edge
    payloads are non-empty only on edges into their precompile (A4/A5)
    or, for selectors, on every edge (A3)."""
    return F.flatten(F.transform(edges, lambda e: e[field]))


def zk_transactions(traces: DataFrame, parts: ZkParts | None = None) -> DataFrame:
    """EP1 transaction output (reference Transaction assembly,
    src/types/trace_tree.rs:177-239), schema per
    ``schemas.TRANSACTION_SCHEMA`` (sink column order,
    etl_result.rs:153-159).

    closest_address (J4): second-degree callers if any survive the EOA
    exclusion, else first-degree callers (trace_tree.rs:182-187).  A
    degree's gas total (A9, trace_tree.rs:165-175) is the gas its callers
    sent to all their callees.
    """
    parts = parts or ZkParts(traces, persist=False)
    edges = F.col("edges")
    first = F.transform("first_degree", lambda c: c.address)
    second = F.transform("second_degree", lambda c: c.address)

    def gas_sent_by(callers: Column) -> Column:
        return _total(
            edges, lambda e: F.array_contains(callers, e.from_address), "gas_sum"
        )

    return parts.trees.select(
        "chain_id",
        "transaction_hash",
        "root.from_address",
        "root.to_address",
        F.when(F.size(second) > 0, second)
        .otherwise(first)
        .alias("closest_address"),
        selector("root.input").alias("function_signature"),  # P5, unmasked
        "root.transaction_index",
        "root.block_number",
        "root.block_timestamp",
        "root.block_hash",
        F.coalesce("root.value", F.lit(0).cast("decimal(38,0)")).alias("value"),
        F.coalesce("root.input", F.lit("0x")).alias("input"),
        F.coalesce("root.gas_used", F.lit(0)).alias("gas_used_total"),
        gas_sent_by(first).alias("gas_used_first_degree"),
        gas_sent_by(second).alias("gas_used_second_degree"),
        *_call_counts(edges),
        # sorted: the reference's HashMap iteration order is not emulated
        F.sort_array(_flat(edges, "pairing_sizes")).alias("ec_pairing_input_sizes"),
        F.sort_array(F.array_distinct(_flat(edges, "recovered"))).alias(
            "ec_recover_addresses"
        ),
        "root.error",
    )


def zk_contracts_deduped(
    traces: DataFrame, parts: ZkParts | None = None
) -> DataFrame:
    """EP1 contract output (reference Contract assembly J5,
    src/types/trace_tree.rs:115-163), schema per ``schemas.CONTRACT_SCHEMA``.

    One row per first-degree (degree 0) and second-degree (degree 1)
    caller of a committed transaction (U1), with the selector set called
    ON the address (A3), its per-precompile call counts (A8) and its
    pairing input sizes (A4); then the sink-level keep-first dedup D2 on
    (chain_id, address, function_signatures) — reference
    etl_result.rs:246-248.  'First' = the reference's buffer arrival
    order: commits happen in stream order (root seq) and within one
    commit first-degree rows precede second-degree (trace_tree.rs:115-118)
    — so the order is (root seq, degree), not transaction-hash order.
    """
    parts = parts or ZkParts(traces, persist=False)
    edges = F.col("edges")

    def contract(degree: int) -> Callable[[Column], Column]:
        def row(c: Column) -> Column:
            sent = F.filter(edges, lambda e: e.from_address == c.address)
            received = F.filter(edges, lambda e: e.to_address == c.address)
            return F.struct(
                c.address.alias("address"),
                F.sort_array(F.array_distinct(_flat(received, "selectors"))).alias(
                    "function_signatures"
                ),
                F.lit(degree).alias("degree"),
                *_call_counts(sent),
                F.sort_array(_flat(sent, "pairing_sizes")).alias(
                    "ec_pairing_input_sizes"
                ),
                c.call.alias("call"),
            )

        return row

    contracts = parts.trees.select(
        "chain_id",
        "root.seq",
        F.explode(
            F.concat(
                F.transform("first_degree", contract(0)),
                F.transform("second_degree", contract(1)),
            )
        ).alias("_c"),
    ).select("chain_id", "_c.*", F.struct("seq", "_c.degree").alias("_arrival"))
    return dedup_keep_first(
        contracts, ["chain_id", "address", "function_signatures"], "_arrival"
    ).drop("_arrival")


def blocks_passthrough(blocks: DataFrame) -> DataFrame:
    """EP2 — blocks flow through untransformed; the upsert key is
    (chain_id, number) with keep-last semantics (D3, reference
    etl_result.rs:303-307 + ON CONFLICT DO UPDATE at 267-281)."""
    deduped = dedup_keep_last(blocks, ["chain_id", "number"], "seq")
    return deduped.drop("seq")
