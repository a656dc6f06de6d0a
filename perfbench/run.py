"""Benchmark of the molgraphdb_spark engine, driven from outside through
its public functions.

    python3 perfbench/run.py --workload graph_fixpoint --seed 1 --seconds 5 --trace 0

One process, one client, closed loop: the ops of the workload run one
after another on a ``local[4]`` session. A run

1. writes the workload's seeded input tables under ``.perfbench/`` in
   the checkout (kept between runs, keyed by seed);
2. sets the session up (``get_spark``, ``tune``, registry collection and
   the ``bench.py`` warmup) and reports the time from the fresh process
   to the warm session as ``setup_s``;
3. runs whole passes over the ops until ``--seconds`` have gone by (at
   least one pass);
4. checks every op result outside the timed region (``check.py``);
5. prints one JSON line: the end-to-end metrics with ``--trace 0``, the
   per-layer metrics with ``--trace 1``.

With ``--trace 1`` the first pass runs untraced; the session is then
stopped and built again, in the same JVM, with Spark's uncompressed
event log on, and a second pass runs with each op under its own job
group. The per-layer metrics come from that pass, its spans and its
event log; the difference of the two passes' wall times is
``trace.overhead_s``.

Everything the run writes stays under ``.perfbench/`` in the checkout,
including Spark's and the JVM's temporary files.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
CPUS = 4
DRIVER_MEM = "3g"
#: Bump when the generated inputs change, so cached tables are rebuilt.
DATA_VERSION = 1
WARMUP_TABLES = ("lineitem", "orders", "customer", "events", "documents", "embeddings")

END_TO_END_UNITS = {"setup_s": "s", "wall_s": "s", "op_p50_s": "s"}
_START = time.perf_counter()


def _sandbox() -> None:
    """Point every temporary-file location of Python, Spark and the JVM
    into the checkout. Must run before pyspark starts a JVM."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    # get_spark's 8g default heap is sized for a 32-core host; the
    # generated tables are tiny, and a benchmark host's memory is shared.
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # Both JVMs (spark-submit's launcher and the driver) read this.
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = "--conf spark.ui.showConsoleProgress=false pyspark-shell"


def _boot(it):
    # bench.py's warmup: spin the Python worker pool up and import the
    # engine in it before anything is timed.
    import molgraphdb_spark.chem.mol  # noqa: F401

    yield from it


def _warmup(spark, data_dir: str) -> None:
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.range(32).repartition(32).mapInPandas(_boot, schema="id long").write.format(
        "noop"
    ).mode("overwrite").save()
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    for tbl in WARMUP_TABLES:
        spark.read.parquet(f"{data_dir}/{tbl}.parquet").limit(1).write.format("noop").mode(
            "overwrite"
        ).save()


def _vm_hwm_kb(pid: int | str) -> int:
    """Peak resident set size of a live process, from /proc."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


class Bench:
    def __init__(self, workload: str, seed: int, seconds: float) -> None:
        from spans import Tracer
        import datagen
        import workloads

        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.tracer = Tracer()
        self.data_dir = self._tables(datagen)
        self.graph = datagen.graph_inputs(seed) if workload == "graph_fixpoint" else None
        self.ops = workloads.workload_ops(workload)
        self.run_dir = os.path.join(WORK, "runs", f"{workload}-{seed}-{os.getpid()}")
        self.spark = None
        self.queries: dict = {}
        self.passes: list = []  # workloads.Pass
        self.jvm_pid: int | None = None

    # ------------------------------------------------------------ inputs
    def _tables(self, datagen) -> str:
        data_dir = os.path.join(WORK, "data", f"v{DATA_VERSION}-seed{self.seed}")
        if not os.path.isdir(data_dir):
            tmp = f"{data_dir}.{os.getpid()}.tmp"
            os.makedirs(tmp)
            datagen.write_tables(tmp, self.seed)
            try:
                os.rename(tmp, data_dir)
            except OSError:  # another run finished the same tables first
                shutil.rmtree(tmp)
        return data_dir

    # ------------------------------------------------------------ session
    def setup(self) -> None:
        from molgraphdb_spark.registry import all_queries
        from molgraphdb_spark.session import get_spark, tune

        t = self.tracer
        with t.span("setup"):
            with t.span("session.get_spark"):
                self.spark = get_spark("molgraphdb-perfbench", cpus=CPUS)
            with t.span("session.tune"):
                tune(self.spark)
            with t.span("registry.collect"):
                self.queries = all_queries()
            with t.span("session.warmup"):
                _warmup(self.spark, self.data_dir)
        if self.jvm_pid is None:
            from pyspark import SparkContext

            self.jvm_pid = SparkContext._gateway.proc.pid

    def stop_session(self) -> None:
        self.spark.stop()
        self.spark = None

    def enable_event_log(self, log_dir: str) -> None:
        """Turn the event log on for sessions created from now on: new
        SparkConfs load ``spark.*`` JVM system properties."""
        from pyspark import SparkContext

        os.makedirs(log_dir, exist_ok=True)
        props = SparkContext._jvm.java.lang.System
        props.setProperty("spark.eventLog.enabled", "true")
        props.setProperty("spark.eventLog.compress", "false")
        props.setProperty("spark.eventLog.rolling.enabled", "false")
        props.setProperty("spark.eventLog.dir", "file://" + log_dir)

    def shutdown_jvm(self) -> None:
        """Stop the session and the JVM, and wait for the JVM to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.stop_session()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = gateway.proc
        gateway.shutdown()
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None

    # ------------------------------------------------------------ passes
    def run_passes(self, traced: bool) -> list:
        """Whole passes over the ops until ``seconds`` have gone by."""
        from workloads import Context, OpRun, Pass

        sc = self.spark.sparkContext
        done: list[Pass] = []
        t0 = time.perf_counter()
        while not done or time.perf_counter() - t0 < self.seconds:
            index = len(self.passes)
            pass_dir = os.path.join(self.run_dir, f"pass{index}")
            os.makedirs(pass_dir)
            ctx = Context(self.spark, self.tracer, self.data_dir, pass_dir, self.queries, self.graph)
            runs = []
            with self.tracer.span("pass") as pass_span:
                for op in self.ops:
                    self.spark.catalog.clearCache()
                    group = f"p{index}:{op.name}"
                    if traced:
                        sc.setJobGroup(group, op.name)
                    result = error = None
                    with self.tracer.span("op:" + op.name) as op_span:
                        try:
                            result = op.run(ctx)
                        except Exception as ex:  # an op failure costs one op, not the run
                            traceback.print_exc(file=sys.stderr)
                            first_line = (str(ex).splitlines() or [""])[0]
                            error = f"{type(ex).__name__}: {first_line[:300]}"
                    runs.append(OpRun(op, op_span, result, error, group))
                if traced:
                    sc.setLocalProperty("spark.jobGroup.id", None)
            self.passes.append(Pass(pass_span, runs, pass_dir, traced))
            done.append(self.passes[-1])
        return done

    # ------------------------------------------------------------ check
    def check(self, ref) -> tuple[int, int]:
        """Check every op of every pass; returns (attempted, failed)."""
        from check import Checker
        from molgraphdb_spark.registry import all_oracles

        checker = Checker(self.data_dir, all_oracles(), ref)
        attempted = failed = 0
        try:
            for p in self.passes:
                for run in p.runs:
                    attempted += 1
                    error = run.error
                    if error is None:
                        try:
                            error = checker.check(run.op, run.result, p.dir)
                        except Exception as ex:  # a broken oracle fails its op loudly
                            traceback.print_exc(file=sys.stderr)
                            error = f"check raised {type(ex).__name__}: {ex}"
                    if error is not None:
                        failed += 1
                        print(f"FAILED {run.op.name}: {error}", file=sys.stderr)
        finally:
            checker.close()
        return attempted, failed

    # ------------------------------------------------------------ metrics
    def setup_times(self) -> dict[str, float]:
        """The fresh-process setup (the first one) and its steps."""
        t = self.tracer
        first = t.named("setup")[0]
        out = {"setup_s": first.seconds}
        for name in ("session.get_spark", "session.tune", "session.warmup", "registry.collect"):
            out[name + "_s"] = t.total(name, first)
        return out

    def peak_rss_mb(self) -> float:
        """Peak resident memory of this process plus its JVM, so far."""
        py_kb, jvm_kb = _vm_hwm_kb("self"), _vm_hwm_kb(self.jvm_pid)
        print(f"peak RSS: driver {py_kb / 1024:.0f} MB, JVM {jvm_kb / 1024:.0f} MB", file=sys.stderr)
        return (py_kb + jvm_kb) / 1024.0

    def end_to_end(self, passes: list) -> dict[str, float]:
        return {
            "setup_s": self.setup_times()["setup_s"],
            "wall_s": statistics.median(p.span.seconds for p in passes),
            "op_p50_s": statistics.median(run.span.seconds for p in passes for run in p.runs),
        }

    def print_ops(self) -> None:
        for i, p in enumerate(self.passes):
            tag = "traced" if p.traced else "untraced"
            print(f"pass {i} ({tag}): {p.span.seconds:.3f} s", file=sys.stderr)
            for run in p.runs:
                status = "ok" if run.error is None else "ERROR"
                print(f"  {run.op.name:<40} {run.span.seconds:8.3f} s  {status}", file=sys.stderr)


def _report(
    correct: bool, attempted: int, failed: int, metrics: dict[str, float], units: dict[str, str]
) -> None:
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
            }
        )
    )


def _log(msg: str) -> None:
    print(f"[{time.perf_counter() - _START:7.2f} s] {msg}", file=sys.stderr, flush=True)


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)

    _sandbox()
    sys.path[:0] = [ROOT, HERE]
    import layers
    import workloads
    from check import GraphReference

    if args.workload not in workloads.WORKLOADS:
        parser.error(f"unknown workload {args.workload!r}; one of {workloads.WORKLOADS}")

    _log("inputs")
    bench = Bench(args.workload, args.seed, args.seconds)
    try:
        _log("setup")
        bench.setup()
        if args.trace:
            _log("untraced passes")
            untraced = bench.run_passes(traced=False)
            bench.stop_session()
            bench.enable_event_log(os.path.join(bench.run_dir, "eventlog"))
            _log("traced setup")
            bench.setup()
        _log("measure")
        measured = bench.run_passes(traced=bool(args.trace))
        rss_mb = bench.peak_rss_mb()
        counters = None
        if args.trace:
            app_id = bench.spark.sparkContext.applicationId
            tracked = layers.tracked_jobs(bench.spark, measured)
            bench.stop_session()
            log_path = os.path.join(bench.run_dir, "eventlog", app_id)
            counters = layers.reduce_log(log_path, measured)
            shutil.copyfile(log_path, os.path.join(WORK, "last-eventlog.json"))
        _log("shutdown")
        bench.shutdown_jvm()
        _log("check")
        ref = GraphReference(bench.graph) if bench.graph else None
        attempted, failed = bench.check(ref)
        bench.print_ops()
        correct = failed == 0
        if args.trace:
            mismatch = layers.job_count_mismatch(counters, tracked)
            if mismatch:
                print(f"event-log job counts != status tracker's: {mismatch}", file=sys.stderr)
                correct = False
            metrics = layers.per_layer(
                bench, measured, untraced, counters, ref, rss_mb, attempted, failed
            )
            layers.write_trace(bench, counters, os.path.join(WORK, "last-trace.json"))
            units = layers.UNITS
        else:
            metrics = bench.end_to_end(measured)
            units = END_TO_END_UNITS
        _log("report")
        _report(correct, attempted, failed, metrics, units)
        return 0
    finally:
        bench.shutdown_jvm()
        shutil.rmtree(bench.run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
