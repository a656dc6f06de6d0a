"""Every metric BENCHMARK.json names is printed, with its unit."""

import contextlib
import io
import json
import os

import pytest

import datagen
import eventlog
import layers
import run
from check import GraphReference
from spans import Tracer
from workloads import PAIR_QUERIES, WORKLOADS, OpRun, Pass, workload_ops

with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
    BENCH = json.load(fh)


def test_end_to_end_names_and_units_match_the_runner():
    assert {m["name"]: m["unit"] for m in BENCH["end_to_end"]} == run.END_TO_END_UNITS


def test_per_layer_names_and_units_match_the_runner():
    assert {m["name"]: m["unit"] for m in BENCH["per_layer"]} == layers.UNITS


def test_workloads_match_the_runner():
    assert [w["name"] for w in BENCH["workloads"]] == list(WORKLOADS)


@pytest.mark.parametrize("units", [run.END_TO_END_UNITS, layers.UNITS])
def test_report_prints_every_metric_with_its_unit(units):
    metrics = {name: 0.25 for name in units}
    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        run._report(True, 3, 0, metrics, units)
    line = json.loads(out.getvalue().strip().splitlines()[-1])
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert line["metrics"] == {k: {"value": 0.25, "unit": u} for k, u in units.items()}


class _Bench:
    """The parts of ``run.Bench`` that ``layers.per_layer`` reads."""

    def __init__(self):
        self.tracer = Tracer()
        for _ in range(2):
            with self.tracer.span("setup"):
                for name in ("session.get_spark", "session.tune", "registry.collect", "session.warmup"):
                    with self.tracer.span(name):
                        pass

    def setup_times(self):
        return run.Bench.setup_times(self)


def _traced_pass(bench, ops, result_of, tmp_path):
    runs = []
    with bench.tracer.span("pass") as ps:
        for op in ops:
            with bench.tracer.span("op:" + op.name) as span:
                pass
            runs.append(OpRun(op, span, result_of(op), None, "p1:" + op.name))
    return Pass(ps, runs, str(tmp_path), True)


def _counters(record):
    base = dict.fromkeys(eventlog.COUNTERS, 1.0)
    return {run.group: {**base, "task_skew": 2.0, "driver_gap_s": 0.1} for run in record.runs}


def test_per_layer_reports_every_metric_on_dedup_docs(tmp_path):
    bench = _Bench()
    record = _traced_pass(bench, workload_ops("dedup_docs"), lambda op: (["a"], [(1,), (2,)]), tmp_path)
    m = layers.per_layer(bench, [record], [record], _counters(record), None, 512.0, 10, 1)
    assert set(m) == set(layers.UNITS)
    assert m["dedup.pairs_out"] == 2 * len(PAIR_QUERIES)
    assert m["dedup.pairs_per_shuffle_record"] == 2.0
    assert m["spark.jobs"] == len(record.runs) and m["spark.task_skew"] == 2.0
    assert m["error_rate"] == 0.1 and m["chem.processed_mols"] == 0


def test_per_layer_reports_every_metric_on_graph_fixpoint(tmp_path):
    graph = datagen.graph_inputs(3)
    ref = GraphReference(graph)
    bench = _Bench()
    ops = workload_ops("graph_fixpoint")
    record = _traced_pass(bench, ops, lambda op: (5, 5) if op.kind == "persist" else None, tmp_path)
    m = layers.per_layer(bench, [record], [record], _counters(record), ref, 512.0, len(ops), 0)
    assert set(m) == set(layers.UNITS)
    assert (m["chem.tiny_processed_mols"], m["chem.mid_processed_mols"]) == ref.processed
    assert m["graph.bfs_waves"] == ref.bfs_waves() > 0
    assert m["graph.jobs_per_wave"] == pytest.approx(len(graph["bfs_pairs"]) / ref.bfs_waves())
    assert 0 < m["chem.novel_edge_ratio"] < 1
