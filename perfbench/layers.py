"""Per-layer metrics of a traced pass.

They come from three sources: the benchmark's spans around each public
call, the Spark event log reduced per op (``eventlog.py``), and the
pure-Python reference of the correctness check. A layer a workload never
enters reports 0.
"""

from __future__ import annotations

import glob
import json
import os
import statistics

import eventlog
from workloads import PAIR_QUERIES, Pass

SPARK_COUNTERS = {
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.scheduler_delay_s": "s",
    "spark.driver_gap_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.input_bytes": "bytes",
    "spark.task_skew": "ratio",
    "spark.failed_tasks": "count",
}

UNITS = {
    "session.get_spark_s": "s",
    "session.tune_s": "s",
    "session.warmup_s": "s",
    "registry.collect_s": "s",
    "queries.build_s": "s",
    "queries.exec_s": "s",
    "expand_s": "s",
    "chem.expand_relations_s": "s",
    "chem.tiny_processed_mols": "count",
    "chem.mid_processed_mols": "count",
    "chem.processed_mols": "count",
    "chem.edges": "count",
    "chem.kernel_s": "s",
    "chem.novel_edge_ratio": "ratio",
    "chem.overlap_s": "s",
    "bfs_p50_s": "s",
    "graph.bfs_query_s": "s",
    "graph.bfs_waves": "count",
    "graph.jobs_per_wave": "count",
    "persist_s": "s",
    "writers.merge_upsert_s": "s",
    "writers.bytes_per_edge": "bytes",
    "writers.files_written": "count",
    "sqlite.export_s": "s",
    "sqlite.rows_per_s": "rows/s",
    "dedup.pairs_out": "count",
    "dedup.pairs_per_shuffle_record": "ratio",
    **SPARK_COUNTERS,
    "peak_rss_mb": "MB",
    "error_rate": "ratio",
    "trace.overhead_s": "s",
}


def tracked_jobs(spark, passes: list[Pass]) -> dict[str, int]:
    """Job counts per op group as the live status tracker sees them."""
    tracker = spark.sparkContext.statusTracker()
    return {run.group: len(tracker.getJobIdsForGroup(run.group)) for p in passes for run in p.runs}


def reduce_log(path: str, passes: list[Pass]) -> dict[str, dict[str, float]]:
    spans = {run.group: (run.span.start, run.span.end) for p in passes for run in p.runs}
    counters = eventlog.reduce_events(eventlog.read_events(path), spans)
    for group in spans:  # an op that ran no job still has its driver time
        if group not in counters:
            counters[group] = dict.fromkeys(eventlog.COUNTERS, 0.0)
            counters[group].update(task_skew=1.0, driver_gap_s=spans[group][1] - spans[group][0])
    return counters


def job_count_mismatch(counters: dict, tracked: dict[str, int]) -> dict[str, tuple[int, int]]:
    return {
        g: (int(counters[g]["jobs"]), n) for g, n in tracked.items() if int(counters[g]["jobs"]) != n
    }


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def _dir_stats(root: str) -> tuple[int, int]:
    """(parquet files under ``root``, bytes of its current snapshot)."""
    files = glob.glob(os.path.join(root, "v*", "*.parquet"))
    ptr = os.path.join(root, "_CURRENT")
    if not os.path.exists(ptr):
        return len(files), 0
    with open(ptr) as fh:
        current = os.path.join(root, fh.read().strip())
    size = sum(os.path.getsize(f) for f in glob.glob(os.path.join(current, "*.parquet")))
    return len(files), size


def per_layer(
    bench, passes: list[Pass], untraced: list[Pass], counters, ref, rss_mb, attempted, failed
) -> dict[str, float]:
    t = bench.tracer
    traced = passes[0]
    ps = traced.span
    runs = traced.runs
    groups = {run.op.name: run.group for run in runs}
    op_time = {run.op.name: run.span.seconds for run in runs}

    def ops_of(kind):
        return [run.op for run in runs if run.op.kind == kind]

    m: dict[str, float] = {k: v for k, v in bench.setup_times().items() if k != "setup_s"}
    m["queries.build_s"] = t.total("queries.build", ps)
    m["queries.exec_s"] = t.total("queries.exec", ps)

    # chemistry
    m["expand_s"] = sum(op_time[op.name] for op in ops_of("expand"))
    m["chem.expand_relations_s"] = t.total("chem.expand_relations", ps)
    tiny, mid = ref.processed if ref else (0, 0)
    m["chem.tiny_processed_mols"], m["chem.mid_processed_mols"] = tiny, mid
    m["chem.processed_mols"] = tiny + mid
    m["chem.edges"] = ref.kept if ref else 0
    m["chem.kernel_s"] = ref.kernel_s if ref else 0.0
    m["chem.novel_edge_ratio"] = _ratio(ref.kept, ref.emitted) if ref else 0.0
    m["chem.overlap_s"] = sum(op_time[op.name] for op in ops_of("overlap"))

    # graph operators
    bfs = ops_of("bfs")
    m["bfs_p50_s"] = statistics.median(op_time[op.name] for op in bfs) if bfs else 0.0
    m["graph.bfs_query_s"] = t.total("graph.bfs_query", ps)
    waves = ref.bfs_waves() if ref else 0
    m["graph.bfs_waves"] = waves
    m["graph.jobs_per_wave"] = _ratio(sum(counters[groups[op.name]]["jobs"] for op in bfs), waves)

    # writers and SQLite
    m["persist_s"] = sum(op_time[op.name] for op in ops_of("persist"))
    m["writers.merge_upsert_s"] = t.total("writers.merge_upsert", ps)
    n_files, snap_bytes = _dir_stats(os.path.join(traced.dir, "edges"))
    m["writers.bytes_per_edge"] = _ratio(snap_bytes, len(ref.union_edges)) if ref else 0.0
    m["writers.files_written"] = n_files
    m["sqlite.export_s"] = t.total("sqlite.export", ps)
    exported = sum(run.result[1] for run in runs if run.op.kind == "persist" and run.error is None)
    m["sqlite.rows_per_s"] = _ratio(exported, m["sqlite.export_s"])

    # dedup
    pair_runs = [run for run in runs if run.op.name in PAIR_QUERIES and run.error is None]
    m["dedup.pairs_out"] = sum(len(run.result[1]) for run in pair_runs)
    m["dedup.pairs_per_shuffle_record"] = _ratio(
        m["dedup.pairs_out"], sum(counters[run.group]["shuffle_records_written"] for run in pair_runs)
    )

    # spark engine: sums over ops, skew as the median op's
    per_op = [counters[g] for g in groups.values()]
    for name in SPARK_COUNTERS:
        key = name.split(".", 1)[1]
        if key == "task_skew":
            m[name] = statistics.median(c[key] for c in per_op)
        else:
            m[name] = sum(c[key] for c in per_op)

    m["peak_rss_mb"] = rss_mb
    m["error_rate"] = _ratio(failed, attempted)
    m["trace.overhead_s"] = ps.seconds - statistics.median(p.span.seconds for p in untraced)
    return m


def write_trace(bench, counters: dict, path: str) -> None:
    """Spans and per-op counters of the last traced run, for inspection."""
    with open(path, "w") as fh:
        record = {"workload": bench.workload, "seed": bench.seed, "ops": counters}
        json.dump({**record, "spans": bench.tracer.as_dicts()}, fh)
