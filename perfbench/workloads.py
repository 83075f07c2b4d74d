"""The benchmark's workloads.  Each drives the program only through its
public entry points and returns the runner's result object.

- ``backfill_wide``: a pre-staged, mostly-cold trace/block backlog
  drained through ``streaming.runner.start_zk_stream`` /
  ``start_block_stream`` into a fresh ``sinks.LakeUpsertSink`` (EIP-55
  checksum on, as in production).
- ``registry_hot``: one closed-loop client running the ANN, graph and
  SimHash registry rows (``registry.queries()``) over seeded tables.
"""

from __future__ import annotations

import contextlib
import os
import time

import gen
import stats
import spans

#: backlog shape: files x replicas per file; one replica is the whole
#: 33-row fixture, so 2 x 125 replicas = 8,250 trace + 1,250 block rows,
#: drained in one availableNow trigger per stream
BACKFILL_FILES = 2
BACKFILL_REPLICAS_PER_FILE = 125
BACKFILL_FILES_PER_TRIGGER = 2
BACKFILL_COLD_SHARE = 0.9

#: registry tables scale (sf0.01: 500 documents, 200 vectors, 15,000
#: orders, ~60,000 line items)
REGISTRY_SF = 0.01
#: the rows timed, grouped by the operator module that does their work:
#: the top-cost ANN row, IVF training, semantic dedup (whose join shape
#: ROADMAP tracks), and every graph and SimHash row ROADMAP names
REGISTRY_ROWS = {
    "operators.similarity": ["llm_ivf_recall", "llm_ivf_train", "llm_semantic_dedup"],
    "operators.graph": ["inv_trade_pagerank", "zk_callgraph_rank"],
    "operators.dedup": ["llm_simhash_near_dups", "llm_simhash_band_stats"],
}
#: float tolerance of the oracle check: the rows round their float
#: outputs to 6 decimals, and two engines summing in different orders
#: can land on either side of a rounding boundary
ORACLE_ATOL = 1.5e-6
#: (name, unit) of the end-to-end metrics every untraced run reports
END_TO_END = [("setup_s", "s"), ("work_cpu_s", "s")]
REGISTRY_TABLES = ("documents", "embeddings", "orders", "lineitem")


class Bench:
    """Run state shared by a workload: its arguments, the session, op
    counts and the summary notes printed to stderr."""

    def __init__(self, scratch, seed, seconds, trace):
        self.scratch = scratch
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.cpus = os.cpu_count() or 1
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []

    def path(self, *parts) -> str:
        return os.path.join(self.scratch, *parts)

    def start_session(self) -> float:
        """Start the session the way the program does; returns seconds."""
        from evmtrace_etl_spark.session import get_spark

        t0 = time.time()
        self.spark = get_spark(
            cpus=self.cpus,
            extra_conf={
                # keep every job/stage for attribution (UI stays off)
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                "spark.sql.ui.retainedExecutions": "100000",
                "spark.ui.showConsoleProgress": "false",
                "spark.driver.extraJavaOptions": "-Djava.io.tmpdir="
                + os.environ["TMPDIR"],
                "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return time.time() - t0

    def op(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.notes.append(f"FAILED: {what}")
        return ok

    def _tree(self) -> set[int]:
        """This process, the driver JVM and every process below the JVM
        (the Python worker daemon and its workers)."""
        jvm = self.spark.sparkContext._gateway.proc.pid
        parent: dict[int, int] = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    with open(f"/proc/{d}/stat") as fh:
                        parent[int(d)] = int(fh.read().rsplit(")", 1)[1].split()[1])
                except (OSError, IndexError, ValueError):
                    continue
        tree, todo = {os.getpid(), jvm}, [jvm]
        while todo:
            p = todo.pop()
            for c, pp in parent.items():
                if pp == p and c not in tree:
                    tree.add(c)
                    todo.append(c)
        return tree

    def peak_rss_mb(self) -> float:
        """Sum of per-process peak RSS (VmHWM) over the process tree."""
        kb = 0
        for p in self._tree():
            try:
                with open(f"/proc/{p}/status") as fh:
                    for line in fh:
                        if line.startswith("VmHWM:"):
                            kb += int(line.split()[1])
            except OSError:
                continue
        return kb / 1024.0

    def cpu_s(self) -> float:
        """CPU seconds (user + system, with reaped children) the process
        tree has used so far."""
        ticks = 0
        for p in self._tree():
            try:
                with open(f"/proc/{p}/stat") as fh:
                    fields = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            ticks += sum(int(x) for x in fields[11:15])
        return ticks / os.sysconf("SC_CLK_TCK")

    def close(self) -> None:
        """Stop the session, then the JVM, and wait for it to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gw = SparkContext._gateway
        self.spark.stop()
        if gw is not None:
            proc = gw.proc
            gw.shutdown()
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 - subprocess.TimeoutExpired
                proc.kill()
                proc.wait()
        self.spark = None

    def result(self, metrics: dict) -> dict:
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {
                k: {"value": v, "unit": u} for k, (v, u) in metrics.items()
            },
        }


def _end_to_end(*values) -> dict:
    return {name: (v, unit) for (name, unit), v in zip(END_TO_END, values)}


def _units(bench: Bench, run_unit) -> list[dict]:
    """Run the timed units; ``run_unit(i, tracer)`` returns a dict with
    at least ``wall_s``.

    Unit 0 is the measured one, run in the state a restarted process is
    in; a traced run traces it and stops there.  An untraced run then
    repeats units until ``--seconds`` have passed; those later units run
    warm, so only the summary reports them."""
    t0 = time.time()
    cpu0 = bench.cpu_s()
    out = [run_unit(0, spans.Tracer() if bench.trace else None)]
    out[0]["cpu_s"] = bench.cpu_s() - cpu0
    out[0]["rss_mb"] = bench.peak_rss_mb()
    if bench.trace:
        return out
    while time.time() - t0 < bench.seconds:
        out.append(run_unit(len(out), None))
    return out


# ---------------------------------------------------------------------------
# output checks
# ---------------------------------------------------------------------------


def digest(df) -> tuple:
    """Order-insensitive content hash: (column names, row count, sum of
    per-row 64-bit hashes over every column rendered as a string, so a
    long/int partition column read back from directory names hashes
    like the source)."""
    from pyspark.sql import functions as F

    cols = sorted(df.columns)
    h = F.xxhash64(*[F.col(c).cast("string") for c in cols])
    row = df.select(h.cast("decimal(38,0)").alias("h")).agg(
        F.count(F.lit(1)).alias("n"), F.sum("h").alias("s")
    ).collect()[0]
    return (tuple(cols), int(row["n"]), str(row["s"]))


def expected_stream_tables(spark, trace_dir: str, block_dir: str) -> dict:
    """The batch plans over the same files: what every stream run must
    leave in its tables."""
    from evmtrace_etl_spark.functions.evm import (
        BLOCK_ADDRESS_COLS,
        CONTRACT_ADDRESS_COLS,
        TRANSACTION_ADDRESS_COLS,
        with_checksummed_addresses,
    )
    from evmtrace_etl_spark.plans.pipeline import blocks_passthrough, zk_results
    from evmtrace_etl_spark.schemas import BLOCK_SCHEMA, TRACE_SCHEMA

    traces = spark.read.schema(TRACE_SCHEMA).json(trace_dir)
    tx, contracts = zk_results(traces)
    blocks = spark.read.schema(BLOCK_SCHEMA).json(block_dir)
    want = {
        "transactions": digest(
            with_checksummed_addresses(tx, *TRANSACTION_ADDRESS_COLS)
        ),
        "contracts": digest(
            with_checksummed_addresses(contracts, *CONTRACT_ADDRESS_COLS)
        ),
        "blocks": digest(
            with_checksummed_addresses(blocks_passthrough(blocks), *BLOCK_ADDRESS_COLS)
        ),
    }
    spark.catalog.clearCache()
    return want


# ---------------------------------------------------------------------------
# backfill_wide
# ---------------------------------------------------------------------------


def _drain(bench: Bench, sink, src: str, ckpt: str, fpt: int | None) -> dict:
    """Drain one staged trace/block backlog into ``sink``: the trace
    stream first, then the block stream, each from a fresh checkpoint."""
    from pyspark.errors import StreamingQueryException

    from evmtrace_etl_spark.streaming import runner, sources

    spark = bench.spark
    progress = []
    t0 = time.time()
    for name, start, stream in (
        ("traces", runner.start_zk_stream,
         sources.file_trace_stream(
             spark, os.path.join(src, "traces"), max_files_per_trigger=fpt
         )),
        ("blocks", runner.start_block_stream,
         sources.file_block_stream(spark, os.path.join(src, "blocks"))),
    ):
        q = start(stream, sink, os.path.join(ckpt, name))
        try:
            q.awaitTermination()
            ok = q.exception() is None
        except StreamingQueryException as e:
            bench.notes.append(f"{name} stream: {e}")
            ok = False
        triggers = [p for p in q.recentProgress if p["numInputRows"] > 0]
        for _p in triggers:
            bench.op(True, f"{name} trigger")
        if not ok:
            bench.op(False, f"{name} stream of {src}")
        progress.append((name, os.path.join(ckpt, name), triggers))
    return {"t0": t0, "wall_s": time.time() - t0, "progress": progress}


def _check_stream_tables(bench: Bench, sink, want: dict) -> None:
    for table, expect in want.items():
        df = sink.read(bench.spark, table)
        got = digest(df) if df is not None else None
        bench.op(got == expect, f"table {table} differs from the batch plan")


def backfill_wide(bench: Bench) -> dict:
    """Each unit stages a fresh backlog and drains it into fresh lake
    tables; unit 0 does so in a just-started session, as a restarted
    ETL does.  Every unit's tables must equal the batch plans over its
    backlog."""
    from evmtrace_etl_spark import sinks
    from evmtrace_etl_spark.streaming import runner

    t_setup = time.time()
    session_s = bench.start_session()
    g = gen.StreamGen(bench.seed, cold_share=BACKFILL_COLD_SHARE)

    def stage(i):
        d = bench.path(f"in{i}")
        size = gen.write_backlog(
            g, os.path.join(d, "traces"), os.path.join(d, "blocks"),
            BACKFILL_FILES, BACKFILL_REPLICAS_PER_FILE,
            first_replica=i * BACKFILL_FILES * BACKFILL_REPLICAS_PER_FILE,
        )
        return size | {"dir": d}

    sizes = [stage(0)]
    setup_s = time.time() - t_setup

    def unit(i, tracer):
        if i == len(sizes):
            sizes.append(stage(i))
        size = sizes[i]
        lake = sinks.LakeUpsertSink(bench.path(f"lake{i}"))
        sink = spans.TracedSink(lake, tracer) if tracer else lake
        if tracer:
            for fn in ("process_trace_batch", "process_block_batch"):
                tracer.patch(runner, fn, f"runner.{fn}", new_op=True)
        try:
            u = _drain(bench, sink, size["dir"], bench.path(f"ckpt{i}"),
                       BACKFILL_FILES_PER_TRIGGER)
        finally:
            if tracer:
                tracer.unpatch()
        bench.notes.append(
            f"unit {i}: {u['wall_s']:.2f} s; triggers (rows, ms) "
            + str([(p["numInputRows"], p["durationMs"]["triggerExecution"])
                   for _n, _c, t in u["progress"] for p in t])
        )
        return u | {"size": size, "lake": lake, "tracer": tracer}

    units = _units(bench, unit)
    t_check = time.time()
    for u in units:
        src = u["size"]["dir"]
        want = expected_stream_tables(
            bench.spark, os.path.join(src, "traces"), os.path.join(src, "blocks")
        )
        _check_stream_tables(bench, u["lake"], want)
    size = sizes[0]
    work_s, cpu_s = units[0]["wall_s"], units[0]["cpu_s"]
    bench.notes.append(
        f"backfill_wide: setup {setup_s:.1f} s (session {session_s:.1f} s); "
        f"{size['trace_rows']} trace + {size['block_rows']} block rows per unit in "
        f"{size['files']} files; units {[round(u['wall_s'], 2) for u in units]} s; "
        f"unit 0: {cpu_s:.1f} CPU s; backfill_rows_per_s="
        f"{size['trace_rows'] / work_s:.1f}; checks "
        f"{time.time() - t_check:.1f} s; failed_ops_ratio="
        f"{stats.failure_ratio(bench.attempted, bench.failed)} "
        f"({bench.failed}/{bench.attempted}); cpus={bench.cpus}"
    )
    if not bench.trace:
        return bench.result(_end_to_end(setup_s, cpu_s))
    import layers

    return bench.result(
        layers.stream_layers(bench, units[0], session_s)
    )


# ---------------------------------------------------------------------------
# registry_hot
# ---------------------------------------------------------------------------


def _duck(sf_dir: str):
    import duckdb

    con = duckdb.connect()
    for t in REGISTRY_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _close(a, b) -> bool:
    """Canonical rows equal, floats to within ``ORACLE_ATOL``."""
    if isinstance(a, float) and isinstance(b, float):
        return abs(a - b) <= ORACLE_ATOL
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
    return a == b


def _timed_query(spark, fn, sf_dir):
    """One registry row, forced by collecting its result (the collect
    is what the output check reads, so the row runs once per pass)."""
    spark.catalog.clearCache()
    t0 = time.time()
    pdf = fn(spark, sf_dir).toPandas()
    return time.time() - t0, pdf


def registry_hot(bench: Bench) -> dict:
    from evmtrace_etl_spark import registry

    t_setup = time.time()
    session_s = bench.start_session()
    spark = bench.spark
    sf_dir = bench.path("sf")
    gen.write_registry_tables(sf_dir, bench.seed, REGISTRY_SF)
    queries, oracles = registry.queries(), registry.oracle_sql()
    rows = [r for group in REGISTRY_ROWS.values() for r in group]
    floor_fn = lambda s, _d: s.range(1).limit(0)  # noqa: E731 - the empty query
    setup_s = time.time() - t_setup

    def unit(i, tracer):
        walls, results = {}, {}
        for r in rows:
            with tracer.span(f"query.{r}", op=r) if tracer else contextlib.nullcontext():
                walls[r], results[r] = _timed_query(spark, queries[r], sf_dir)
        return {"wall_s": sum(walls.values()), "walls": walls, "results": results,
                "tracer": tracer}

    units = _units(bench, unit)
    floor_s = stats.median([_timed_query(spark, floor_fn, sf_dir)[0] for _ in range(5)])

    from tests.compare import canon

    con = _duck(sf_dir)
    want = {}
    for r in rows:
        w = con.execute(oracles[r]).df()
        want[r] = (sorted(w.columns), canon(w))
    con.close()
    for u in units:
        for r in rows:
            got = u["results"][r]
            bench.op(
                sorted(got.columns) == want[r][0]
                and _close(canon(got), want[r][1]),
                f"registry row {r} differs from its DuckDB oracle",
            )
    cpu_s = units[0]["cpu_s"]
    bench.notes.append(
        f"registry_hot: setup {setup_s:.1f} s (session {session_s:.1f} s); "
        f"{len(rows)} rows at sf{REGISTRY_SF}; passes "
        f"{[round(u['wall_s'], 2) for u in units]} s (registry_hot_s); unit 0: "
        f"{cpu_s:.1f} CPU s; floor {floor_s:.3f} s; "
        f"failed_ops_ratio={stats.failure_ratio(bench.attempted, bench.failed)} "
        f"({bench.failed}/{bench.attempted}); cpus={bench.cpus}"
    )
    if not bench.trace:
        return bench.result(_end_to_end(setup_s, cpu_s))
    import layers

    return bench.result(layers.registry_layers(bench, units[0], session_s, floor_s))


WORKLOADS = {"backfill_wide": backfill_wide, "registry_hot": registry_hot}
