"""Seeded input generators for the benchmark.

Everything here is a pure function of ``seed`` and the size arguments,
so one seed always gives the same files.  The program under test only
ever sees the files written here.

Stream inputs are built from ``sources.fixtures.TRACE_ROWS`` /
``BLOCK_ROWS``: each *replica* is one copy of the whole fixture with
fresh transaction hashes, fresh block numbers and its contract/EOA
addresses drawn from a small hot set or freshly minted (cold), so every
FIXTURES.md scenario appears once per replica.  A replica is never split
across files, ``seq`` grows strictly across replicas, and every trace
file has a block file covering the same replicas.

Registry inputs are the four tables the benchmarked registry rows read
(``documents``, ``embeddings``, ``orders``, ``lineitem``), in the
column layout of the sf-scaled test tables.
"""

from __future__ import annotations

import json
import os
import random

from evmtrace_etl_spark.sources import fixtures

#: seq stride per replica; the fixture's own seqs are all below it
SEQ_STRIDE = 100
#: chain-1 block numbers per replica (fixture blocks 100..103)
BLOCKS_PER_REPLICA = 4
TRACE_ROWS_PER_REPLICA = len(fixtures.TRACE_ROWS)

_PRECOMPILES = {fixtures.P_REC, fixtures.P_ADD, fixtures.P_MUL, fixtures.P_PAIR}
_EOAS = {fixtures.EOA1, fixtures.EOA2, fixtures.EOA3}


def _addr(rng: random.Random) -> str:
    return "0x" + format(rng.getrandbits(160), "040x")


def _h256(rng: random.Random) -> str:
    return "0x" + format(rng.getrandbits(256), "064x")


def _block_hash(chain: int, number: int) -> str:
    return "0x" + format(chain, "016x") + format(number, "048x")


class StreamGen:
    """Replica factory for one seed.

    ``cold_share`` is the probability that a fixture address is replaced
    by a never-seen address instead of one from the hot set (``hot``
    contracts and ``hot`` EOAs, drawn once per seed).
    """

    def __init__(self, seed: int, cold_share: float, hot: int = 64):
        self.seed = seed
        self.cold_share = cold_share
        rng = random.Random(seed)
        self.hot_contracts = [_addr(rng) for _ in range(hot)]
        self.hot_eoas = [_addr(rng) for _ in range(hot)]

    def _chain1_block(self, r: int, n: int) -> int:
        return 1_000_000 + r * BLOCKS_PER_REPLICA + (n - 100)

    def _block_no(self, r: int, chain: int, n: int) -> int:
        return self._chain1_block(r, n) if chain == 1 else 2_000_000 + r

    def replica(self, r: int) -> tuple[list[dict], list[dict]]:
        """The trace rows and block rows of replica ``r``."""
        rng = random.Random(self.seed * 1_000_003 + r)
        hot_c = iter(rng.sample(self.hot_contracts, 16))
        hot_e = iter(rng.sample(self.hot_eoas, 8))
        amap: dict[str, str] = {}

        def addr(a):
            if a is None or a in _PRECOMPILES:
                return a
            if a not in amap:
                if rng.random() < self.cold_share:
                    amap[a] = _addr(rng)
                else:
                    amap[a] = next(hot_e if a in _EOAS else hot_c)
            return amap[a]

        hmap: dict[str, str] = {}
        traces = []
        for t in fixtures.TRACE_ROWS:
            d = dict(t)
            if d["transaction_hash"] is not None:
                d["transaction_hash"] = hmap.setdefault(
                    d["transaction_hash"], _h256(rng)
                )
            d["from_address"] = addr(d["from_address"])
            d["to_address"] = addr(d["to_address"])
            if d["value"] is not None:
                d["value"] = int(d["value"])
            n = self._block_no(r, d["chain_id"], d["block_number"])
            d["block_number"] = n
            d["block_timestamp"] = 1_700_000_000 + n
            d["block_hash"] = (
                None if d["block_hash"] is None
                else _block_hash(d["chain_id"], n)
            )
            d["seq"] = r * SEQ_STRIDE + d["seq"]
            traces.append(d)
        blocks = []
        for b in fixtures.BLOCK_ROWS:
            d = dict(b)
            n = self._block_no(r, d["chain_id"], d["number"])
            d["number"] = n
            d["timestamp"] = 1_700_000_000 + n
            d["hash"] = _block_hash(d["chain_id"], n)
            d["parent_hash"] = _block_hash(d["chain_id"], n - 1)
            d["miner"] = "0x" + format(0x3333 + n, "040x")
            d["seq"] = r * SEQ_STRIDE + d["seq"]
            blocks.append(d)
        return traces, blocks


def _write_lines(path: str, rows: list[dict], mtime: float) -> None:
    """Write to a hidden temp name (the file source skips names starting
    with ``.``), stamp the mtime, then rename into place, so a reader
    never lists a half-written file and lists files in seq order."""
    tmp = os.path.join(os.path.dirname(path), "." + os.path.basename(path))
    with open(tmp, "w") as fh:
        for row in rows:
            fh.write(json.dumps(row, separators=(",", ":")))
            fh.write("\n")
    os.utime(tmp, (mtime, mtime))
    os.rename(tmp, path)


def write_backlog(
    gen: StreamGen,
    trace_dir: str,
    block_dir: str,
    n_files: int,
    replicas_per_file: int,
    first_replica: int = 0,
    mtime0: float = 1_700_000_000.0,
) -> dict:
    """Stage ``n_files`` trace files and their block files.

    File ``i`` holds replicas ``[first + i*k, first + (i+1)*k)``; mtimes
    are one second apart so the file source drains them in seq order.
    Returns the true row counts."""
    os.makedirs(trace_dir, exist_ok=True)
    os.makedirs(block_dir, exist_ok=True)
    n_traces = n_blocks = 0
    for i in range(n_files):
        lo = first_replica + i * replicas_per_file
        traces: list[dict] = []
        blocks: list[dict] = []
        for r in range(lo, lo + replicas_per_file):
            t, b = gen.replica(r)
            traces += t
            blocks += b
        name = f"part-{lo:08d}.json"
        _write_lines(os.path.join(trace_dir, name), traces, mtime0 + i)
        _write_lines(os.path.join(block_dir, name), blocks, mtime0 + i)
        n_traces += len(traces)
        n_blocks += len(blocks)
    return {"trace_rows": n_traces, "block_rows": n_blocks, "files": n_files}


# ---------------------------------------------------------------------------
# registry tables
# ---------------------------------------------------------------------------

_WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window order data column join small big query filter "
    "group stream customer index vector cell graph rank edge node page "
    "token shard block chain trace"
).split()
_LANGS = ["de", "en", "es", "fr", "zh"]


def write_registry_tables(out_dir: str, seed: int, sf: float) -> dict:
    """Write documents/embeddings/orders/lineitem parquet files sized by
    ``sf`` (sf0.1: 5,000 docs, 2,000 vectors, 150,000 orders, ~600,000
    line items).  Documents include near-duplicates (a copy with one or
    two words changed) so the SimHash and dedup rows have work to do;
    embeddings are unit vectors around 10 labelled centres."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    n_docs = int(50_000 * sf)
    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.08:
            words = texts[int(rng.integers(0, i))].split()
            for _ in range(int(rng.integers(1, 3))):
                words[int(rng.integers(0, len(words)))] = _WORDS[
                    int(rng.integers(0, len(_WORDS)))
                ]
        else:
            words = [
                _WORDS[int(w)]
                for w in rng.integers(0, len(_WORDS), int(rng.integers(8, 100)))
            ]
        texts.append(" ".join(words))
    docs = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(
                [_LANGS[int(x)] for x in rng.integers(0, 5, n_docs)]
            ),
            "source": pa.array(
                [f"src{int(x)}" for x in rng.integers(0, 20, n_docs)]
            ),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    pq.write_table(docs, os.path.join(out_dir, "documents.parquet"))

    n_vec, dim, n_lab = int(20_000 * sf), 64, 10
    centres = rng.normal(size=(n_lab, dim))
    labels = rng.integers(0, n_lab, n_vec)
    vecs = centres[labels] + rng.normal(scale=0.8, size=(n_vec, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vecs = vecs.astype(np.float32)
    emb = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vec), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels.astype(np.int32), pa.int32()),
        }
    )
    pq.write_table(emb, os.path.join(out_dir, "embeddings.parquet"))

    n_ord = int(1_500_000 * sf)
    n_cust, n_supp = max(int(150_000 * sf), 10), max(int(10_000 * sf), 10)
    okeys = np.arange(1, n_ord + 1)
    day0 = np.datetime64("1992-01-01", "us")
    odates = day0 + rng.integers(0, 2400, n_ord).astype("timedelta64[D]")
    orders = pa.table(
        {
            "o_orderkey": pa.array(okeys, pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": pa.array(
                np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]
            ),
            "o_totalprice": pa.array(rng.uniform(900, 500_000, n_ord)),
            "o_orderdate": pa.array(odates, pa.timestamp("us")),
            "o_orderpriority": pa.array(
                np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                          "5-LOW"])[rng.integers(0, 5, n_ord)]
            ),
        }
    )
    pq.write_table(orders, os.path.join(out_dir, "orders.parquet"))

    per = rng.integers(1, 8, n_ord)
    n_li = int(per.sum())
    l_ok = np.repeat(okeys, per)
    l_no = np.concatenate([np.arange(1, p + 1) for p in per]).astype(np.int32)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    price = qty * rng.uniform(900, 2000, n_li)
    ship = np.repeat(odates, per) + rng.integers(1, 122, n_li).astype(
        "timedelta64[D]"
    )
    lineitem = pa.table(
        {
            "l_orderkey": pa.array(l_ok, pa.int64()),
            "l_partkey": pa.array(
                rng.integers(0, max(int(200_000 * sf), 10), n_li), pa.int64()
            ),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(l_no, pa.int32()),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(price),
            "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
            "l_returnflag": pa.array(
                np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)]
            ),
            "l_linestatus": pa.array(
                np.array(["F", "O"])[rng.integers(0, 2, n_li)]
            ),
            "l_shipdate": pa.array(ship, pa.timestamp("us")),
        }
    )
    pq.write_table(lineitem, os.path.join(out_dir, "lineitem.parquet"))
    return {
        "documents": n_docs,
        "embeddings": n_vec,
        "orders": n_ord,
        "lineitem": n_li,
    }
