"""Spans for the traced run, and the Spark event-log join that gives each
span its task time, shuffle bytes and job count.

A span is ``(name, start, end, parent)`` kept in memory.  Entering a span
sets the Spark job group ``kg:<name>:<seq>``, so every job the span starts
is tagged with it; the event log that the benchmark enables on its own
session is parsed after the session stops, and its task metrics are summed
per group.  A span's ``wall_ms`` is its self time: its duration minus the
part of it that its child spans cover.

``instrument_pipeline`` wraps the functions ``plans.pipeline`` imports by
replacing the module attributes from here; no file of the program changes.
Each wrapper forces (persists and counts) the frame it returns, so the work
of that layer runs inside its span instead of inside whichever later action
first needs it.  ``instrument_catalog`` does the same for the ``Catalog``
write methods: each call is a ``catalog.commit`` span, and the parquet
write inside it a ``catalog.stage_write`` child that counts the files and
bytes it leaves on disk.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

from pyspark.sql import DataFrame, DataFrameWriter

# plans.pipeline attribute -> span name (build_kg's layers)
PIPELINE_SPANS = {
    "extract_pages": "extraction",
    "mentions_of": "extraction",
    "triples_of": "extraction",
    "mention_match_keys": "linking",
    "match_edges": "linking",
    "assign_components": "components",
    "fold_entities": "merge.fold_entities",
    "canonical_mapping": "merge.canonical_mapping",
    "resolve_and_fold_triples": "merge.resolve_and_fold_triples",
}


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._seq = 0

    def _set_group(self, span: dict | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(span["group"], span["name"])

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self._seq += 1
        s = {
            "id": self._seq,
            "name": name,
            "parent": parent["id"] if parent else None,
            "group": f"kg:{name}:{self._seq}",
            "counts": defaultdict(float),
        }
        self._stack.append(s)
        self._set_group(s)
        s["start"] = time.perf_counter()
        try:
            yield s
        finally:
            s["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group(parent)
            self.spans.append(s)


def _forcing(tracer: Tracer, span_name: str, fn):
    def wrapper(*args, **kwargs):
        with tracer.span(span_name) as s:
            out = fn(*args, **kwargs)
            if isinstance(out, DataFrame):
                out = out.persist()
                s["counts"]["rows_out"] = out.count()
            return out

    return wrapper


@contextmanager
def instrument_pipeline(tracer: Tracer, counters: dict):
    """Wrap build_kg's layer functions for the duration of the block.

    ``counters["components.rounds"]`` counts large-star/small-star rounds
    (one ``_small_star`` call per round)."""
    from knowledgegraph_spark.operators import components as comp_mod
    from knowledgegraph_spark.plans import pipeline as pipe_mod

    saved = {a: getattr(pipe_mod, a) for a in PIPELINE_SPANS}
    small_star = comp_mod._small_star

    def counted_small_star(edges):
        counters["components.rounds"] = counters.get("components.rounds", 0) + 1
        return small_star(edges)

    for attr, span_name in PIPELINE_SPANS.items():
        setattr(pipe_mod, attr, _forcing(tracer, span_name, saved[attr]))
    comp_mod._small_star = counted_small_star
    try:
        yield
    finally:
        for attr, fn in saved.items():
            setattr(pipe_mod, attr, fn)
        comp_mod._small_star = small_star


def _files_under(path: str) -> dict[str, int]:
    out = {}
    for d, _, names in os.walk(path):
        for n in names:
            p = os.path.join(d, n)
            out[p] = os.path.getsize(p)
    return out


@contextmanager
def instrument_catalog(tracer: Tracer):
    """Wrap ``Catalog.write``, ``append`` and ``replace_partitions`` for the
    duration of the block: ``catalog.commit`` spans, each with the parquet
    write it makes as a ``catalog.stage_write`` child."""
    from knowledgegraph_spark.sources.catalog import Catalog

    methods = ("write", "append", "replace_partitions")
    saved = {m: getattr(Catalog, m) for m in methods}
    parquet = DataFrameWriter.parquet

    def staged(self, path, *args, **kwargs):
        with tracer.span("catalog.stage_write") as s:
            before = _files_under(path)
            parquet(self, path, *args, **kwargs)
            new = {p: n for p, n in _files_under(path).items() if p not in before}
            s["counts"]["files_written"] += len(new)
            s["counts"]["bytes_written"] += sum(new.values())

    def committing(fn):
        def wrapper(*args, **kwargs):
            with tracer.span("catalog.commit"):
                DataFrameWriter.parquet = staged
                try:
                    return fn(*args, **kwargs)
                finally:
                    DataFrameWriter.parquet = parquet

        return wrapper

    for m in methods:
        setattr(Catalog, m, committing(saved[m]))
    try:
        yield
    finally:
        for m, fn in saved.items():
            setattr(Catalog, m, fn)


def parse_event_log(path: str) -> dict[str, dict]:
    """Job group -> {jobs, task_ms, shuffle_bytes, bytes_read,
    records_read, stage_task_ms: [[task ms, ...] per stage]} from a Spark
    event log."""
    stage_group: dict[int, str] = {}
    stage_tasks: dict[int, list[dict]] = defaultdict(list)
    jobs: dict[str, int] = defaultdict(int)
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if group:
                    jobs[group] += 1
                    for sid in ev["Stage IDs"]:
                        stage_group.setdefault(sid, group)
            elif kind == "SparkListenerStageSubmitted":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if group:
                    stage_group[ev["Stage Info"]["Stage ID"]] = group
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics")
                if m:
                    stage_tasks[ev["Stage ID"]].append(m)
    out: dict[str, dict] = {}
    for group, n in jobs.items():
        out[group] = {
            "jobs": n, "task_ms": 0, "shuffle_bytes": 0, "bytes_read": 0,
            "records_read": 0, "stage_task_ms": [],
        }
    for sid, tasks in stage_tasks.items():
        group = stage_group.get(sid)
        if group not in out:
            continue
        g = out[group]
        run_ms = [t.get("Executor Run Time", 0) for t in tasks]
        g["task_ms"] += sum(run_ms)
        g["stage_task_ms"].append(run_ms)
        for t in tasks:
            g["shuffle_bytes"] += (t.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            inp = t.get("Input Metrics") or {}
            g["bytes_read"] += inp.get("Bytes Read", 0)
            g["records_read"] += inp.get("Records Read", 0)
    return out


def skew(stage_task_ms: list[list[int]]) -> float:
    """max/median task time of the stage with the most task time."""
    if not stage_task_ms:
        return 0.0
    heaviest = max(stage_task_ms, key=sum)
    med = statistics.median(heaviest)
    return max(heaviest) / med if med > 0 else 1.0


def per_op_layers(spans: list[dict], groups: dict[str, dict], root: str = "op") -> list[dict]:
    """One dict per span tree whose root span is named ``root``: span name
    -> summed {wall_ms (self), task_ms, shuffle_bytes, jobs, bytes_read,
    records_read, skew, and the span's own counts such as rows_out}, plus
    the root's wall under '_op_ms'."""
    by_id = {s["id"]: s for s in spans}
    child_s: dict[int, float] = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            child_s[s["parent"]] += s["end"] - s["start"]

    def root_of(s):
        while s["parent"] is not None:
            s = by_id[s["parent"]]
        return s

    ops: dict[int, dict] = {}
    for s in spans:
        top = root_of(s)
        if top["name"] != root:
            continue
        op = ops.setdefault(top["id"], {"_op_ms": (top["end"] - top["start"]) * 1000.0})
        layer = op.setdefault(s["name"], defaultdict(float))
        layer["wall_ms"] += (s["end"] - s["start"] - child_s[s["id"]]) * 1000.0
        for k, v in s["counts"].items():
            layer[k] += v
        g = groups.get(s["group"])
        if g:
            for k in ("task_ms", "shuffle_bytes", "jobs", "bytes_read", "records_read"):
                layer[k] += g[k]
            layer["skew"] = max(layer["skew"], skew(g["stage_task_ms"]))
    return [ops[k] for k in sorted(ops)]


def coverage(op: dict, unnamed: tuple[str, ...] = ("op", "pipeline")) -> float:
    """Share of an op's wall that the named layer spans' self times explain;
    the self time of ``op`` and ``pipeline`` (work outside any layer) is
    the unexplained rest."""
    named = sum(v["wall_ms"] for k, v in op.items() if k != "_op_ms" and k not in unnamed)
    return named / op["_op_ms"]
