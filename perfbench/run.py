#!/usr/bin/env python3
"""Benchmark for the knowledgegraph_spark engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout.  One Python process drives a
``local[<usable cpus>]`` session as one closed-loop client.  The run sets up
the workload from the seed (inputs, then an untimed cold start),
then times ops for ``--seconds``, checking every op's output outside the
timed region and releasing whatever the op cached.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` each timed op is
followed by the same op traced, and the metrics are the per-layer ones
(see README.md in this directory).  The line before it holds details
(host configuration, per-op load and steal, workload-specific figures).
Exit code 1 means an output check failed; 2 means the program under test
could not be imported.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from contextlib import nullcontext  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

END_TO_END = {"setup_s": "s", "op_ms": "ms"}

SPAN_FIELDS = ("wall_ms", "task_ms", "shuffle_bytes", "jobs", "rows_out")
SPANS = (
    "extraction", "linking", "components", "merge.fold_entities",
    "merge.canonical_mapping", "merge.resolve_and_fold_triples", "pipeline",
    "query.lookup", "query.one_hop", "query.two_hop", "query.topk",
)
QUERY_FIELDS = ("bytes_read", "rows_read_per_row_out")
CATALOG = {
    "catalog.stage_write.wall_ms": "ms", "catalog.stage_write.task_ms": "ms",
    "catalog.stage_write.jobs": "count", "catalog.stage_write.bytes_written": "bytes",
    "catalog.stage_write.files_written": "count", "catalog.commit.wall_ms": "ms",
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric the traced run prints, with its unit."""
    from workloads import HEADLINERS

    units = {"wall_ms": "ms", "task_ms": "ms", "shuffle_bytes": "bytes", "jobs": "count", "rows_out": "rows"}
    out = {f"{s}.{f}": units[f] for s in SPANS for f in SPAN_FIELDS}
    for s in SPANS:
        if s.startswith("query."):
            out[f"{s}.bytes_read"] = "bytes"
            out[f"{s}.rows_read_per_row_out"] = "ratio"
    out.update(CATALOG)
    out["extraction.kernel_us_per_page"] = "us"
    out["components.rounds"] = "count"
    out["merge.fold_entities.skew"] = "ratio"
    for q in HEADLINERS:
        out[f"entry.{q}.wall_ms"] = "ms"
    out.update({
        "op.wall_ms": "ms", "op.gc_ms": "ms", "op.leaked_rdds": "count",
        "op.steal_s": "s", "op.peak_rss_mb": "MB",
        "trace.overhead_ms": "ms", "trace.span_coverage": "ratio",
    })
    return out


def _log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def start_session(work: str, trace: bool):
    """Host-sized session; warehouse, Spark local dirs, JVM and Python temp
    files and the event log all live under ``work`` (one filesystem)."""
    from host import driver_memory_mb, filesystem_of, mem_total_mb, usable_cpus

    cpus = usable_cpus()
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    for d in (local, tmp):
        os.makedirs(d, exist_ok=True)
    os.environ["KG_DRIVER_MEMORY"] = f"{driver_memory_mb(mem_total_mb())}m"
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": local,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{log_dir}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    from knowledgegraph_spark import get_spark

    spark = get_spark(
        "perfbench", master=f"local[{cpus}]", shuffle_partitions=max(cpus, 8), extra_conf=conf
    )
    config = {
        "master": f"local[{cpus}]",
        "shuffle_partitions": max(cpus, 8),
        "driver_memory": os.environ["KG_DRIVER_MEMORY"],
        "work_fs": filesystem_of(work),
    }
    return spark, config


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python worker
    daemon) to exit; the JVM exits when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


class Runner:
    def __init__(self, spark, workload):
        from pyspark import SparkContext

        self.spark = spark
        self.wl = workload
        self.failures: list[str] = []
        self.jvm_pid = SparkContext._gateway.proc.pid

    def _persistent_ids(self) -> set:
        return set(self.spark.sparkContext._jsc.getPersistentRDDs().keySet())

    def _release(self, before: set) -> int:
        """Unpersist every RDD the op persisted or checkpointed locally and
        drop the DataFrame cache, so no op reuses another op's cache."""
        rdds = self.spark.sparkContext._jsc.getPersistentRDDs()
        new = self._persistent_ids() - before
        for rid in new:
            rdds.get(rid).unpersist(True)
        self.spark.catalog.clearCache()
        return len(new)

    def one_op(self, i: int, tracer=None) -> dict:
        from host import OpMeter
        from workloads import CheckFailed

        before = self._persistent_ids()
        rec = {"i": i, "ok": False, "parts": {}}
        meter = OpMeter(self.spark)
        try:
            with meter:
                with tracer.span("op") if tracer is not None else nullcontext():
                    res, rec["parts"] = self.wl.op(i, tracer)
            self.wl.check(res)
            rec["ok"] = True
        except CheckFailed as exc:
            self.failures.append(f"op {i}: {exc}")
            _log(f"check failed: op {i}: {exc}")
        except Exception:  # noqa: BLE001 -- a failed op is counted, the run goes on
            self.failures.append(f"op {i}: {traceback.format_exc(limit=3)}")
            _log(f"op {i} raised:\n{traceback.format_exc()}")
        rec["leaked_rdds"] = self._release(before)
        for k in ("wall_ms", "gc_ms", "steal_s", "load_1m"):
            rec[k] = getattr(meter, k, None)
        return rec

    def cold_start(self) -> float:
        """The workload's cheap, checked ``cold_start`` for a fresh JVM,
        untimed, before the timed ops; returns its wall in ms."""
        from workloads import CheckFailed

        before = self._persistent_ids()
        t0 = time.perf_counter()
        try:
            self.wl.cold_start()
        except CheckFailed as exc:
            self.failures.append(f"cold start: {exc}")
            _log(f"check failed: cold start: {exc}")
        self._release(before)
        return (time.perf_counter() - t0) * 1000.0

    def measure(self, seconds: float, tracer=None) -> tuple[list[dict], list[dict]]:
        """Timed ops for ``seconds``.  With a tracer, each op is paired with
        the same op traced (and the window doubles), so traced and untraced
        ops see the same inputs; the pair's order alternates, so warm-up
        drift within a pair cancels out of the tracing overhead.  The peak
        resident memory of the JVM and its Python workers is then read
        around each untraced op, outside its timed region."""
        from host import peak_rss_mb, reset_peak_rss

        untraced: list[dict] = []
        traced: list[dict] = []
        t_end = time.perf_counter() + seconds * (2 if tracer is not None else 1)
        while not untraced or time.perf_counter() < t_end:
            i = len(untraced)
            if tracer is None:
                untraced.append(self.one_op(i))
                continue
            for traced_turn in ((False, True) if i % 2 == 0 else (True, False)):
                if traced_turn:
                    with self.wl.traced(tracer):
                        traced.append(self.one_op(i, tracer))
                else:
                    reset_peak_rss(self.jvm_pid)
                    untraced.append(self.one_op(i))
                    untraced[-1]["peak_rss_mb"] = peak_rss_mb(self.jvm_pid)
        return untraced, traced


def _median(xs):
    xs = [x for x in xs if x is not None]
    return statistics.median(xs) if xs else 0.0


def layer_metrics(wl, tracer, untraced, traced, event_log) -> dict[str, float]:
    """Per-layer metrics: medians over traced ops of each span's summed
    figures, the traced set-up's catalog spans, and host readings from the
    untraced ops of the same run."""
    from spans import coverage, parse_event_log, per_op_layers

    groups = parse_event_log(event_log)
    ops = per_op_layers(tracer.spans, groups)
    setup = (per_op_layers(tracer.spans, groups, root="setup") or [{}])[0]

    def per_op(span, field):
        if field == "rows_read_per_row_out":
            return _median(
                op.get(span, {}).get("records_read", 0.0) / max(1.0, op.get(span, {}).get("rows_out", 0.0))
                for op in ops
            )
        return _median(op.get(span, {}).get(field, 0.0) for op in ops)

    out: dict[str, float] = {}
    for name in per_layer_units():
        span, _, field = name.rpartition(".")
        if name in CATALOG:
            out[name] = setup.get(span, {}).get(field, 0.0)
        elif field in SPAN_FIELDS or field in QUERY_FIELDS or field == "skew":
            out[name] = per_op(span, field)
    out["extraction.kernel_us_per_page"] = (
        wl.kernel_us_per_page() if hasattr(wl, "kernel_us_per_page") else 0.0
    )
    rounds = getattr(wl, "counters", {}).get("components.rounds", 0)
    out["components.rounds"] = rounds / max(1, len(traced))
    untraced_ms = _median(r["wall_ms"] for r in untraced)
    out["op.wall_ms"] = _median(r["wall_ms"] for r in traced)
    out["op.gc_ms"] = _median(r["gc_ms"] for r in untraced)
    out["op.leaked_rdds"] = _median(r["leaked_rdds"] for r in untraced)
    out["op.steal_s"] = _median(r["steal_s"] for r in untraced)
    out["op.peak_rss_mb"] = max(r["peak_rss_mb"] for r in untraced)
    out["trace.overhead_ms"] = out["op.wall_ms"] - untraced_ms
    out["trace.span_coverage"] = _median(coverage(op) for op in ops)
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("default", "tiny"), default="default",
                    help="input size; 'tiny' is for the benchmark's own smoke tests")
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import knowledgegraph_spark  # noqa: F401
        import __spark_entry__  # noqa: F401
    except ImportError as exc:
        _log(f"cannot import the program under test from {ROOT}: {exc}")
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        _log(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
        return 2

    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = None
    try:
        spark, config = start_session(work, bool(args.trace))
        t_session = time.perf_counter()
        wl = WORKLOADS[args.workload](spark, args.seed, args.scale, work)
        runner = Runner(spark, wl)
        tracer = None
        if args.trace:
            from spans import Tracer

            tracer = Tracer(spark)
        wl.setup(tracer)
        t_inputs = time.perf_counter()
        cold_ms = runner.cold_start()
        setup_s = time.perf_counter() - T_PROCESS
        setup_parts = {
            "session_s": t_session - T_PROCESS,
            "inputs_s": t_inputs - t_session,
            "cold_start_s": T_PROCESS + setup_s - t_inputs,
        }

        untraced, traced = runner.measure(args.seconds, tracer)
        stop_session(spark)
        spark = None

        measured = untraced + traced
        failed = sum(not r["ok"] for r in measured)
        op_ms = [r["wall_ms"] for r in untraced]
        detail = {
            "workload": args.workload,
            "seed": args.seed,
            "config": config,
            "setup_parts": setup_parts,
            "cold_start_ms": cold_ms,
            "op_ms": op_ms,
            "load_1m": [r["load_1m"] for r in measured],
            "steal_s": [r["steal_s"] for r in measured],
            **wl.detail(op_ms, [r["parts"] for r in untraced if r["ok"]]),
            "failures": runner.failures,
        }
        if args.trace:
            log_dir = os.path.join(work, "eventlog")
            (log,) = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
            values = layer_metrics(wl, tracer, untraced, traced, log)
            units = per_layer_units()
        else:
            values = {"setup_s": setup_s, "op_ms": statistics.median(op_ms)}
            units = END_TO_END
        metrics = {k: {"value": values[k], "unit": u} for k, u in units.items()}
        correct = not runner.failures
        print(json.dumps(detail, default=str))
        print(json.dumps({
            "correct": correct, "attempted": len(measured), "failed": failed, "metrics": metrics,
        }))
        return 0 if correct else 1
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
