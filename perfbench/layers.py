"""Per-layer metrics of a traced run, and the wrappers that record them.

Layers are the program's modules: ``session``, ``rpm`` (dispatch,
execute, collect), ``logs``, ``jobs`` and the DataFrame engine
(``sources``/``plans``/``operators``/``streaming``, seen through
``plans``), plus Spark's own stage counters under ``spark.*``.
"""

from __future__ import annotations

import os
import statistics

from perfbench.stats import nearest_rank, tracing_overhead

# End-to-end metrics every workload reports (BENCHMARK.json end_to_end).
# The report line adds the ones only some workloads have (first result,
# result lag, throughput, tail) and dispatch, which on the ETL mix is
# under 0.1 s and swings by up to a quarter between runs.
END_TO_END = [
    ("setup_s", "s"),
    ("op_p50_s", "s"),
    ("driver_rss_peak_mb", "MB"),
]

# One query per engine layer: sources + plans (TPC-H Q3 joins, shuffles,
# AQE), operators (embedding similarity) and streaming (AvailableNow).
ETL_QUERIES = (
    "q3_shipping_priority",
    "embedding_cosine_topk",
    "stream_tumbling_counts",
)

SPARK_METRICS = [
    ("spark.stages", "count"),
    ("spark.tasks", "count"),
    ("spark.tasks_failed", "count"),
    ("spark.tasks_killed", "count"),
    ("spark.executor_run_s", "s"),
    ("spark.executor_cpu_s", "s"),
    ("spark.jvm_gc_s", "s"),
    ("spark.input_bytes", "bytes"),
    ("spark.shuffle_read_bytes", "bytes"),
    ("spark.shuffle_write_bytes", "bytes"),
    ("spark.spill_bytes", "bytes"),
]

# Per-layer metrics every traced run reports (BENCHMARK.json per_layer);
# a layer a workload does not use reports 0.
PER_LAYER = [
    ("session.boot_s", "s"),
    ("session.warmup_s", "s"),
    ("session.jvm_rss_peak_mb", "MB"),
    ("rpm.dispatch.self_s", "s"),
    ("rpm.dispatch.ship_s", "s"),
    ("rpm.dispatch.input_bytes", "bytes"),
    ("rpm.execute.action_s", "s"),
    ("rpm.execute.fn_busy_s", "s"),
    ("rpm.execute.slot_utilization", "ratio"),
    ("rpm.execute.worker_skew", "ratio"),
    ("rpm.execute.overhead_us_per_input", "us"),
    ("rpm.collect.materialize_s", "s"),
    ("rpm.collect.result_bytes", "bytes"),
    ("logs.result_frames", "count"),
    ("logs.rows_per_frame", "count"),
    ("logs.decode_s", "s"),
    ("logs.stdout_lines", "count"),
    ("logs.stdout_lag_p50_ms", "ms"),
    ("jobs.journal_payload_s", "s"),
    ("jobs.journal_finish_s", "s"),
    ("jobs.journal_bytes", "bytes"),
    ("jobs.result_wait_s", "s"),
    ("plans.build_s", "s"),
    ("plans.action_s", "s"),
    *[(f"query.{q}_s", "s") for q in ETL_QUERIES],
    *SPARK_METRICS,
    ("trace.overhead_pct", "%"),
    ("trace.spans", "count"),
]


def _nbytes(obj) -> int:
    return int(getattr(obj, "nbytes", 0) or 0)


def _tree_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def instrument(tracer) -> None:
    """Wrap the public calls each layer is measured through."""
    import burla_spark
    from burla_spark import jobs, logs, rpm
    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.sql.readwriter import DataFrameWriter
    from pyspark.sql.session import SparkSession

    def job_dir(args, kwargs):
        spark, job_id = args[0], args[1]
        jdir = kwargs.get("journal_dir") or (args[4] if len(args) > 4 else None)
        return os.path.join(jobs._journal_dir(spark, jdir), job_id)

    def payload_bytes(args, kwargs, ok):
        path = os.path.join(job_dir(args, kwargs), "payload.pkl")
        return {"bytes": os.path.getsize(path) if ok else 0}

    def finish_bytes(args, kwargs, _):
        return {"bytes": os.path.getsize(os.path.join(job_dir(args, kwargs), "results.parquet"))}

    def partial_bytes(args, kwargs):
        return {"partial_bytes": _tree_bytes(os.path.join(job_dir(args, kwargs), "partial"))}

    p = tracer.patch
    p(burla_spark, "get_spark", "session.get_spark")
    p(rpm, "remote_parallel_map", "rpm.remote_parallel_map")
    p(SparkSession, "createDataFrame", "rpm.dispatch.ship",
      describe=lambda a, k, r: {"bytes": _nbytes(a[1] if len(a) > 1 else k.get("data"))})
    p(DataFrame, "toArrow", "rpm.execute.action")
    p(DataFrameWriter, "save", "rpm.execute.action")
    p(DataFrame, "collect", "plans.collect")
    p(rpm, "materialize_results_arrow", "rpm.collect.materialize",
      describe=lambda a, k, r: {"bytes": _nbytes(a[0])})
    p(logs, "decode_result_batch", "logs.decode_result_batch",
      describe=lambda a, k, r: {"rows": len(r)})
    p(jobs, "journal_payload", "jobs.journal_payload", describe=payload_bytes)
    p(jobs, "journal_start", "jobs.journal_start")
    p(jobs, "journal_finish", "jobs.journal_finish", describe=finish_bytes, before=partial_bytes)
    p(jobs.BackgroundJob, "result", "jobs.result")


def _op_layers(op, spans, cpus: int) -> dict:
    """Per-layer values of one traced op from its spans and facts."""
    by = {}
    for sp in spans:
        by.setdefault(sp.name, []).append(sp)

    def total(name):
        return sum(sp.duration for sp in by.get(name, ()))

    out = {}
    call = by.get("rpm.remote_parallel_map")
    if call:
        call = call[0]
        ships = [sp for sp in by.get("rpm.dispatch.ship", ()) if sp.start >= call.start]
        if ships:
            out["rpm.dispatch.self_s"] = ships[0].start - call.start
            out["rpm.dispatch.ship_s"] = sum(sp.duration for sp in ships)
            out["rpm.dispatch.input_bytes"] = sum(sp.attrs.get("bytes", 0) for sp in ships)
        action = total("rpm.execute.action")
        out["rpm.execute.action_s"] = action
        busy = op.facts.get("fn_busy_s")
        if busy is not None:
            out["rpm.execute.fn_busy_s"] = busy
            if action:
                out["rpm.execute.slot_utilization"] = busy / (action * cpus)
            per_pid = list(op.facts["busy_per_pid"].values())
            out["rpm.execute.worker_skew"] = max(per_pid) / statistics.fmean(per_pid)
            out["rpm.execute.overhead_us_per_input"] = (
                (op.spark["executor_run_s"] - busy) / op.facts["inputs"] * 1e6
            )
        out["rpm.collect.materialize_s"] = total("rpm.collect.materialize")
        out["rpm.collect.result_bytes"] = sum(
            sp.attrs.get("bytes", 0) for sp in by.get("rpm.collect.materialize", ())
        )
    frames = by.get("logs.decode_result_batch", ())
    if frames:
        out["logs.result_frames"] = len(frames)
        out["logs.rows_per_frame"] = sum(sp.attrs["rows"] for sp in frames) / len(frames)
        out["logs.decode_s"] = total("logs.decode_result_batch")
    if "stdout_lines" in op.facts:
        out["logs.stdout_lines"] = op.facts["stdout_lines"]
    if "jobs.result" in by:
        out["jobs.journal_payload_s"] = total("jobs.journal_payload")
        out["jobs.journal_finish_s"] = total("jobs.journal_finish")
        out["jobs.journal_bytes"] = sum(
            sp.attrs.get("bytes", 0) + sp.attrs.get("partial_bytes", 0)
            for name in ("jobs.journal_payload", "jobs.journal_finish")
            for sp in by.get(name, ())
        )
        out["jobs.result_wait_s"] = total("jobs.result")
    if "plans.build" in by:
        root = [sp for sp in spans if sp.parent is None]
        root_ids = {sp.sid for sp in root}
        out["plans.build_s"] = total("plans.build")
        out["plans.action_s"] = sum(
            sp.duration for sp in by.get("plans.collect", ()) if sp.parent in root_ids
        )
    out.update((f"query.{q}_s", t) for q, t in op.facts.get("query_s", {}).items())
    for name, _ in SPARK_METRICS:
        out[name] = op.spark[name.split(".", 1)[1]]
    return out


def per_layer(ops, spans, setup: dict, cpus: int) -> dict:
    """Every PER_LAYER metric for a traced run: per-op values averaged
    over the traced ops (a query's own time: median over its traced
    runs); 0 where the workload does not use the layer."""
    traced = [op for op in ops if op.traced and op.ok]
    by_op: dict = {}
    for sp in spans:
        by_op.setdefault(sp.op, []).append(sp)
    per_op = [_op_layers(op, by_op.get(i, []), cpus)
              for i, op in enumerate(ops) if op.traced and op.ok]
    out = {name: 0.0 for name, _ in PER_LAYER}
    out.update(setup)
    keys = {k for values in per_op for k in values}
    for k in keys:
        vals = [v[k] for v in per_op if k in v]
        if k.startswith("query."):
            out[k] = statistics.median(vals)
        else:
            out[k] = statistics.fmean(vals)
    lags = [x for op in traced for x in op.facts.get("stdout_lags_ms", ())]
    if lags:
        out["logs.stdout_lag_p50_ms"] = nearest_rank(lags, 50)
    rounds: dict = {}
    for op in ops:
        key = (op.round, op.traced)
        rounds[key] = rounds.get(key, 0.0) + op.wall_s
    out["trace.overhead_pct"] = tracing_overhead(
        [t for (_, tr), t in rounds.items() if not tr],
        [t for (_, tr), t in rounds.items() if tr],
    )["overhead_pct"]
    out["trace.spans"] = len(spans)
    return out
