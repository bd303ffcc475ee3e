"""Outside-in span tracer for the benchmark's traced runs.

Spans are opened around the public entry points of the package's layer
modules by replacing module attributes at run time; the package itself is
never edited. Callers bind names at import (``plans.incremental`` does
``from ..operators.hmm import decode_hmm``), so each entry point is
patched in its defining module AND in every module that imported it.

Operators return lazy DataFrames: a span around ``decode_hmm`` times plan
building only. The Spark work lands in the enclosing stage / commit span
(``IncrementalKGPipeline._commit``, ``ParquetManifestTableIO.write``) or in the
benchmark's own action. Spark metrics reach spans through a job group set
per span: every job records the innermost open span at submission, and
the event log's ``TaskEnd`` metrics are folded onto that span after the
session stops.

Spans live in memory; :meth:`Tracer.dump` writes them out when the run
ends. A span's self time is its wall time minus the union of its
children's intervals.

Linking's pair counts are taken while the operation runs, right after
``score_block_pairs`` returns, because its inputs (persisted delta frames,
the state before the commit) are gone once the operation ends. The probe's
own time is paused out of every span, and its jobs carry their own job
group, so no span is charged for them.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import importlib
import inspect
import json
import os
import time
from collections import defaultdict

PKG = "hmm_crf_ner_fromscratch_spark"

# (module that defines or imported the name, attribute, span name)
FUNCTION_TARGETS = [
    ("operators.hmm", "train_hmm", "hmm.train_hmm"),
    ("operators.hmm", "decode_hmm", "hmm.decode_hmm"),
    ("plans.incremental", "decode_hmm", "hmm.decode_hmm"),
    ("operators.mentions", "extract_mentions", "mentions.extract_mentions"),
    ("plans.incremental", "extract_mentions", "mentions.extract_mentions"),
    ("operators.relations", "template_triples", "relations.template_triples"),
    ("plans.incremental", "template_triples", "relations.template_triples"),
    ("operators.graph", "build_graph", "graph.build_graph"),
    ("operators.graph", "materialize_graph_from_counts", "graph.materialize"),
    ("plans.incremental", "materialize_graph_from_counts", "graph.materialize"),
    ("operators.linking", "link_edges", "linking.link_edges"),
    ("operators.graph", "link_edges", "linking.link_edges"),
    ("operators.linking", "score_block_pairs", "linking.score_block_pairs"),
    ("plans.incremental", "score_block_pairs", "linking.score_block_pairs"),
    ("operators.components", "connected_components", "components.connected_components"),
    ("operators.graph", "connected_components", "components.connected_components"),
]
# (module, class, method, span-name prefix, positional index of the stage name)
METHOD_TARGETS = [
    ("plans.incremental", "IncrementalKGPipeline", "_commit", "stage", 1),
    ("plans.incremental", "IncrementalKGPipeline", "rebalance", "incremental.rebalance", None),
    ("plans.lineage", "ParquetManifestTableIO", "write", "commit", 0),
    ("plans.lineage", "ParquetManifestTableIO", "write_bucketed", "commit", 0),
]


class Span:
    __slots__ = ("id", "name", "parent", "op", "start", "end", "attrs", "paused")

    def __init__(self, sid, name, parent, op, attrs, paused):
        self.id = sid
        self.name = name
        self.parent = parent
        self.op = op
        self.start = time.time()
        self.end = None
        self.attrs = attrs
        self.paused = paused  # the tracer's probe intervals, shared

    def wall(self) -> float:
        end = self.end or time.time()
        return end - self.start - overlap([(self.start, end)], self.paused)


class Tracer:
    """Collects spans. Patched entry points pass straight through, and
    spans set no Spark job group, while ``active`` is false."""

    def __init__(self):
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.active = False
        self.op = None
        self.sc = None
        self.paused: list[tuple[float, float]] = []  # probe intervals
        self.probes: dict[str, float] = defaultdict(float)

    # -- spans --
    def _set_group(self, span):
        if self.sc is None or not self.active:
            return
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(f"s{span.id}", span.name, False)

    def open(self, name: str, **attrs) -> Span:
        parent = self.stack[-1].id if self.stack else None
        span = Span(len(self.spans), name, parent, self.op, attrs, self.paused)
        self.spans.append(span)
        self.stack.append(span)
        self._set_group(span)
        return span

    def close(self, span: Span) -> None:
        span.end = time.time()
        while self.stack and self.stack[-1] is not span:
            self.stack.pop().end = span.end
        if self.stack:
            self.stack.pop()
        self._set_group(self.stack[-1] if self.stack else None)

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        span = self.open(name, **attrs)
        try:
            yield span
        finally:
            self.close(span)

    # -- patching --
    def _wrap(self, fn, name_of):
        tracer = self
        sig = inspect.signature(fn)

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.active:
                return fn(*args, **kwargs)
            name = name_of(args, kwargs)
            span = tracer.open(name)
            try:
                out = fn(*args, **kwargs)
            finally:
                tracer.close(span)
            tracer._after(name, span, sig.bind(*args, **kwargs), out)
            return out

        wrapper.__wrapped_by_tracer__ = True
        return wrapper

    def install(self) -> None:
        """Patch every target; idempotent."""
        for mod_name, attr, span_name in FUNCTION_TARGETS:
            mod = importlib.import_module(f"{PKG}.{mod_name}")
            fn = getattr(mod, attr)
            if not getattr(fn, "__wrapped_by_tracer__", False):
                setattr(mod, attr, self._wrap(fn, lambda a, k, n=span_name: n))
        for mod_name, cls_name, meth, prefix, stage_pos in METHOD_TARGETS:
            cls = getattr(importlib.import_module(f"{PKG}.{mod_name}"), cls_name)
            fn = getattr(cls, meth)
            if getattr(fn, "__wrapped_by_tracer__", False):
                continue

            def name_of(a, k, prefix=prefix, pos=stage_pos):
                if pos is None:
                    return prefix
                # a[0] is self; the stage name is the pos-th real argument
                return f"{prefix}:{a[pos + 1] if len(a) > pos + 1 else k.get('name') or k.get('stage')}"

            setattr(cls, meth, self._wrap(fn, name_of))

    def _after(self, name, span, bound, out) -> None:
        """Record a commit's output files, or count linking's pairs."""
        if name.startswith("commit:"):
            io, stage = bound.arguments["self"], name.split(":", 1)[1]
            m = io.manifest(stage) or {}
            data_dir = os.path.join(io.base_dir, stage, "data")
            written = [
                os.path.getsize(p)
                for p in glob.glob(os.path.join(data_dir, "**", "*.parquet"), recursive=True)
                if os.path.getmtime(p) >= span.start - 1.0
            ]
            span.attrs.update(
                rows=m.get("row_count", 0),
                files=len(written),
                bytes=sum(written),
            )
        elif name == "linking.score_block_pairs":
            self._count_pairs(bound, out)

    def _count_pairs(self, bound, out) -> None:
        """Pairs the call evaluates and links it keeps, counted by running
        the package's own operator on the same inputs: at threshold 0 it
        keeps every within-block candidate pair it would score."""
        from hmm_crf_ner_fromscratch_spark.operators import linking

        t0 = time.time()
        self.sc.setJobGroup("probe", "probe", False)
        score = inspect.unwrap(linking.score_block_pairs)
        every = score(**{**bound.arguments, "threshold": 0.0})
        self.probes["pairs_scored"] += every.count()
        self.probes["links"] += out.count()
        self._set_group(self.stack[-1] if self.stack else None)
        self.paused.append((t0, time.time()))

    # -- output --
    def children(self) -> dict:
        kids = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                kids[s.parent].append(s)
        return kids

    def self_time(self, span: Span, kids) -> float:
        ivals = union((c.start, c.end or c.start) for c in kids.get(span.id, []))
        covered = sum(e - s for s, e in ivals) - overlap(ivals, self.paused)
        return max(0.0, span.wall() - covered)

    def dump(self, path: str, jobs_by_span=None) -> None:
        kids = self.children()
        out = []
        for s in self.spans:
            out.append(
                {
                    "id": s.id,
                    "name": s.name,
                    "parent": s.parent,
                    "op": s.op,
                    "start": s.start,
                    "end": s.end,
                    "wall_s": round(s.wall(), 4),
                    "self_s": round(self.self_time(s, kids), 4),
                    "attrs": s.attrs,
                    "spark": (jobs_by_span or {}).get(s.id),
                }
            )
        with open(path, "w", encoding="utf-8") as f:
            json.dump(out, f, indent=1, default=str)


def union(intervals) -> list[tuple[float, float]]:
    """(start, end) intervals merged into disjoint ones, in order."""
    out: list[list[float]] = []
    for s, e in sorted(intervals):
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return [(s, e) for s, e in out]


def union_length(intervals) -> float:
    """Total length covered by (start, end) intervals."""
    return sum(e - s for s, e in union(intervals))


def overlap(disjoint, others) -> float:
    """Length of ``disjoint`` intervals that ``others`` (also disjoint)
    cover."""
    return sum(max(0.0, min(e, oe) - max(s, os_)) for s, e in disjoint for os_, oe in others)


# -- event log fold --

PY_METRICS = {
    "time to run Python workers": "py_run_ms",
    "time to start Python workers": "py_start_ms",
    "time to initialize Python workers": "py_init_ms",
    "data sent to Python workers": "py_bytes_to",
    "data returned from Python workers": "py_bytes_from",
}


def read_event_log(log_dir: str) -> dict:
    """Jobs (span group, submit/complete times, task metric sums) from the
    single uncompressed event log under ``log_dir``."""
    files = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for path in files:
        with open(path, encoding="utf-8") as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    group = (e.get("Properties") or {}).get("spark.jobGroup.id")
                    jobs[e["Job ID"]] = {
                        "span": int(group[1:]) if group and group.startswith("s") and group[1:].isdigit() else None,
                        "submit": e["Submission Time"] / 1000.0,
                        "end": None,
                        "tasks": 0,
                        "m": defaultdict(float),
                    }
                    for sid in e["Stage IDs"]:
                        stage_job[sid] = e["Job ID"]
                elif kind == "SparkListenerJobEnd":
                    if e["Job ID"] in jobs:
                        jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    job = jobs.get(stage_job.get(e["Stage ID"]))
                    if job is None:
                        continue
                    job["tasks"] += 1
                    tm = e.get("Task Metrics") or {}
                    m = job["m"]
                    m["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    m["fetch_wait_ms"] += (tm.get("Shuffle Read Metrics") or {}).get("Fetch Wait Time", 0)
                    m["spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
                    for acc in (e.get("Task Info") or {}).get("Accumulables", []):
                        key = PY_METRICS.get(acc.get("Name"))
                        if key:
                            m[key] += float(acc.get("Update") or 0)
    return jobs


def fold(tracer: Tracer, jobs: dict) -> dict:
    """span id -> Spark totals of the jobs submitted inside that span or
    any of its descendants, plus the union of their run intervals."""
    kids = tracer.children()
    direct = defaultdict(list)
    for job in jobs.values():
        if job["span"] is not None:
            direct[job["span"]].append(job)

    def subtree(sid):
        out = list(direct.get(sid, []))
        for c in kids.get(sid, []):
            out += subtree(c.id)
        return out

    folded = {}
    for s in tracer.spans:
        js = subtree(s.id)
        m = defaultdict(float)
        for j in js:
            for k, v in j["m"].items():
                m[k] += v
        busy = union_length((j["submit"], j["end"] or j["submit"]) for j in js)
        folded[s.id] = {
            "jobs": len(js),
            "tasks": sum(j["tasks"] for j in js),
            "job_busy_s": round(busy, 4),
            **{k: round(v, 3) for k, v in m.items()},
        }
    return folded
