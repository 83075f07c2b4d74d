"""Per-layer metrics of a traced run.

Every traced run reports the same metric set (``PER_LAYER``); a layer a
workload does not exercise reads 0 there.  Counters come from the spans
``spans.Tracer`` recorded in the traced unit and the Spark jobs the
status store attributes to them; stream phases come from
``StreamingQueryProgress``; table counts from ``sinks.table_history``.

Upsert spans include the pipeline work they force: the runner builds
its plans lazily and the sink's writes run them.
"""

from __future__ import annotations

import collections
import os
import time

import stats
import spans
from workloads import REGISTRY_ROWS

_STREAM = [
    ("streaming.triggers", "count"),
    ("streaming.latest_offset_ms.p50", "ms"),
    ("streaming.query_planning_ms.p50", "ms"),
    ("streaming.wal_commit_ms.p50", "ms"),
    ("streaming.commit_offsets_ms.p50", "ms"),
    ("streaming.files_per_trigger.p50", "count", "higher"),
    ("streaming.scan_amplification", "ratio"),
    ("runner.batch_s.p50", "s"),
    ("runner.batch_s.max", "s"),
    ("runner.jobs_per_trigger", "count"),
    ("runner.stages_per_trigger", "count"),
    ("runner.tasks_per_trigger", "count"),
    ("runner.driver_gap_s.p50", "s"),
    ("runner.self_s.p50", "s"),
    ("runner.job_s.p50", "s"),
    ("runner.job_s.tail", "s"),
    ("pipeline.cpu_s_per_krow", "s"),
    ("pipeline.shuffle_write_bytes_per_row", "B"),
    ("pipeline.shuffle_stages_per_trigger", "count"),
    ("pipeline.spill_bytes", "B"),
    ("pipeline.edge_rows_per_input_row", "ratio"),
    ("keccak.addresses_per_s", "1/s", "higher"),
    ("sinks.upsert_s.p50.transactions", "s"),
    ("sinks.upsert_s.p50.contracts", "s"),
    ("sinks.upsert_s.p50.blocks", "s"),
    ("sinks.commit_driver_s.p50", "s"),
    ("sinks.commits", "count"),
    ("sinks.input_bytes_per_upsert", "B"),
    ("sinks.bytes_written_per_new_row", "B"),
    ("sinks.files_added", "count"),
    ("sinks.files_removed", "count"),
    ("sinks.table_files_end", "count"),
]
_MODULE_COUNTERS = [
    ("wall_s", "s"), ("jobs", "count"), ("tasks", "count"),
    ("cpu_s", "s"), ("shuffle_bytes", "B"),
]
_REGISTRY = (
    [(f"query.{r}.wall_s", "s") for g in REGISTRY_ROWS.values() for r in g]
    + [(f"{m}.{c}", u) for m in REGISTRY_ROWS for c, u in _MODULE_COUNTERS]
    + [("query.floor_s", "s")]
)
#: (name, unit, better) of every per-layer metric; ``better`` defaults
#: to "lower".  BENCHMARK.json's ``per_layer`` lists exactly these.
PER_LAYER = [
    (m[0], m[1], m[2] if len(m) > 2 else "lower")
    for m in (
        [("session.start_s", "s"), ("process.peak_rss_mb", "MB"),
         ("unit.wall_s", "s"), ("unit.cpu_s", "s")]
        + _STREAM
        + _REGISTRY
        + [
            ("trace.coverage_min", "ratio", "higher"),
            ("trace.job_coverage_min", "ratio", "higher"),
        ]
    )
]


def _blank(unit: dict, session_s: float) -> dict:
    m = {name: [0.0, u] for name, u, _better in PER_LAYER}
    m["session.start_s"][0] = session_s
    m["process.peak_rss_mb"][0] = unit["rss_mb"]
    m["unit.wall_s"][0] = unit["wall_s"]
    m["unit.cpu_s"][0] = unit["cpu_s"]
    return m


def _done(m: dict) -> dict:
    return {k: (float(v), u) for k, (v, u) in m.items()}


def _roots(recorded, prefix):
    return sorted(
        (s for s in recorded if s["parent"] is None and s["name"].startswith(prefix)),
        key=lambda s: s["t0"],
    )


def stream_layers(bench, unit, session_s):
    from evmtrace_etl_spark import sinks
    from evmtrace_etl_spark.functions.keccak_batch import checksum_batch
    from evmtrace_etl_spark.plans.pipeline import ZkParts
    from evmtrace_etl_spark.schemas import TRACE_SCHEMA

    spark = bench.spark
    size = unit["size"]
    m = _blank(unit, session_s)
    recorded = unit["tracer"].spans
    per_span = spans.attribute(recorded, spans.harvest_jobs(spark))

    (_, t_ckpt, t_trig), (_, _b_ckpt, b_trig) = unit["progress"]
    trig = t_trig + b_trig
    m["streaming.triggers"][0] = len(trig)
    for key, name in (
        ("latestOffset", "latest_offset"), ("queryPlanning", "query_planning"),
        ("walCommit", "wal_commit"), ("commitOffsets", "commit_offsets"),
    ):
        m[f"streaming.{name}_ms.p50"][0] = stats.median(
            [p["durationMs"].get(key, 0) for p in trig]
        )
    files_per_batch = collections.Counter(stats.file_batches(t_ckpt).values())
    m["streaming.files_per_trigger.p50"][0] = stats.median(list(files_per_batch.values()))
    m["streaming.scan_amplification"][0] = sum(p["numInputRows"] for p in trig) / (
        size["trace_rows"] + size["block_rows"]
    )

    coverage, job_cov = [], []
    for name, triggers in (("runner.process_trace_batch", t_trig),
                           ("runner.process_block_batch", b_trig)):
        for s, p in zip(_roots(recorded, name), triggers):
            r = spans.rollup(recorded, per_span, s["id"])
            coverage.append(r["wall_s"] / (p["durationMs"]["triggerExecution"] / 1000))
            job_cov.append(1 - r["driver_gap_s"] / r["wall_s"])
    m["trace.coverage_min"][0] = min(coverage)
    m["trace.job_coverage_min"][0] = min(job_cov)

    runs = [spans.rollup(recorded, per_span, s["id"])
            for s in _roots(recorded, "runner.process_trace_batch")]
    m["runner.batch_s.p50"][0] = stats.median([r["wall_s"] for r in runs])
    m["runner.batch_s.max"][0] = max(r["wall_s"] for r in runs)
    for c in ("jobs", "stages", "tasks"):
        m[f"runner.{c}_per_trigger"][0] = stats.median([r[c] for r in runs])
    m["runner.driver_gap_s.p50"][0] = stats.median([r["driver_gap_s"] for r in runs])
    job_s = [d for r in runs for d in r["job_s"]]
    m["runner.job_s.p50"][0] = stats.median(job_s)
    tail = stats.percentile_rule(job_s)
    if tail:
        m["runner.job_s.tail"][0] = tail[1]
        bench.notes.append(f"runner.job_s.tail = p{tail[0]} of {tail[2]} jobs")
    self_s = stats.self_times(recorded)
    m["runner.self_s.p50"][0] = stats.median(
        [self_s[s["id"]] for s in _roots(recorded, "runner.process_trace_batch")]
    )
    rows = size["trace_rows"]
    m["pipeline.cpu_s_per_krow"][0] = sum(r["cpu_s"] for r in runs) / (rows / 1000)
    m["pipeline.shuffle_write_bytes_per_row"][0] = (
        sum(r["shuffle_write_bytes"] for r in runs) / rows
    )
    m["pipeline.shuffle_stages_per_trigger"][0] = stats.median(
        [r["shuffle_stages"] for r in runs]
    )
    m["pipeline.spill_bytes"][0] = sum(r["spill_bytes"] for r in runs)

    upserts = {}
    for s in recorded:
        if s["name"].startswith("sinks.upsert."):
            upserts.setdefault(s["name"].rsplit(".", 1)[1], []).append(
                spans.rollup(recorded, per_span, s["id"])
            )
    flat = [r for rs in upserts.values() for r in rs]
    for table in ("transactions", "contracts", "blocks"):
        m[f"sinks.upsert_s.p50.{table}"][0] = stats.median(
            [r["wall_s"] for r in upserts.get(table, [])]
        )
    m["sinks.commit_driver_s.p50"][0] = stats.median([r["driver_gap_s"] for r in flat])
    m["sinks.input_bytes_per_upsert"][0] = sum(r["input_bytes"] for r in flat) / len(flat)
    new_rows = 0
    for table in ("transactions", "contracts", "blocks"):
        hist = sinks.table_history(spark, os.path.join(unit["lake"].base_dir, table))
        m["sinks.commits"][0] += len(hist)
        m["sinks.files_added"][0] += sum(h["added"] for h in hist)
        m["sinks.files_removed"][0] += sum(
            h["metrics"].get("files_removed", 0) for h in hist
        )
        m["sinks.table_files_end"][0] += hist[-1]["files"]
        new_rows += hist[-1]["rows"]
    m["sinks.bytes_written_per_new_row"][0] = (
        sum(r["output_bytes"] for r in flat) / new_rows
    )

    # out of any timed window: data-shape and single-function figures
    traces = spark.read.schema(TRACE_SCHEMA).json(os.path.join(size["dir"], "traces"))
    m["pipeline.edge_rows_per_input_row"][0] = (
        ZkParts(traces, persist=False).edges.count() / rows
    )
    addrs = traces.selectExpr("explode(array(from_address, to_address)) AS a").where(
        "a IS NOT NULL"
    ).distinct().toPandas()["a"]
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        checksum_batch(addrs)
        times.append(time.perf_counter() - t0)
    m["keccak.addresses_per_s"][0] = len(addrs) / stats.median(times)
    return _done(m)


def registry_layers(bench, unit, session_s, floor_s):
    spark = bench.spark
    m = _blank(unit, session_s)
    m["query.floor_s"][0] = floor_s
    recorded = unit["tracer"].spans
    per_span = spans.attribute(recorded, spans.harvest_jobs(spark))
    by_op = {
        s["op"]: spans.rollup(recorded, per_span, s["id"])
        for s in _roots(recorded, "query.")
    }
    coverage, job_cov = [], []
    for module, rows in REGISTRY_ROWS.items():
        for r in rows:
            ru = by_op[r]
            m[f"query.{r}.wall_s"][0] = unit["walls"][r]
            coverage.append(ru["wall_s"] / unit["walls"][r])
            job_cov.append(1 - ru["driver_gap_s"] / ru["wall_s"])
            m[f"{module}.wall_s"][0] += unit["walls"][r]
            m[f"{module}.jobs"][0] += ru["jobs"]
            m[f"{module}.tasks"][0] += ru["tasks"]
            m[f"{module}.cpu_s"][0] += ru["cpu_s"]
            m[f"{module}.shuffle_bytes"][0] += ru["shuffle_write_bytes"]
    m["trace.coverage_min"][0] = min(coverage)
    m["trace.job_coverage_min"][0] = min(job_cov)
    return _done(m)
