"""Per-layer spans for the traced benchmark run, recorded from outside the
program.

``Tracer.install`` wraps the public functions of each layer where their
callers look them up (``job.fuse``, ``pipeline.connected_components``, ...)
and restores them on ``uninstall``.  Each wrapped call becomes a span (name,
start, end, parent) kept in memory, and runs under its own Spark job group,
so every job, stage and task in the event log can be attributed to the
innermost span that caused it.  The event log is parsed after the session
stops, because it is complete only then; the status tracker is not used,
since the listener bus that feeds it is asynchronous and can still lack the
last jobs of a span when the span ends.

Counts that need a Spark job of their own (violations, foci, rows) are
deferred until the traced pass has ended and run under a probe job group
that no span owns, so they add neither jobs nor time to any span.

Span names and what they time:

  extract.html / .mentions / .emit  ``CheckpointStore.save`` of stages
                              s1_text / s2_mentions / s3_triples: the
                              extract functions return lazy frames, and this
                              save is where their work runs
  checkpoint                  every other ``CheckpointStore.save`` and every
                              ``CheckpointStore.load``
  pipeline.fuse / .fuse_delta the fusion fixpoint, full and incremental
  canonicalize.cc             ``connected_components``
  canonicalize.rewrite        ``canonicalize_triples`` / ``apply_static_map``;
                              these build lazy frames, so the span holds plan
                              construction and the joins run in the caller's
                              ``localCheckpoint`` (pipeline.fuse self time)
  reasoning.tbox              ``extract_tbox`` / ``build_tbox_index``
  reasoning.checks            ``run_all_checks``
  validate.engine / .incremental  ``validate`` / ``validate_delta``
  session                     ``get_spark``
  iteration                   the measured pass (the root of its spans)
"""

from __future__ import annotations

import functools
import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import functions as F

PROBE_GROUP = "perfbench-probe"

LAYERS = [
    "extract.html",
    "extract.mentions",
    "extract.emit",
    "pipeline.fuse",
    "pipeline.fuse_delta",
    "canonicalize.cc",
    "canonicalize.rewrite",
    "reasoning.tbox",
    "reasoning.checks",
    "validate.engine",
    "validate.incremental",
    "checkpoint",
    "iteration",
]
SPAN_COUNTERS = {
    "calls": "count",
    "wall_s": "s",
    "self_s": "s",
    "spark_jobs": "count",
    "tasks": "count",
    "executor_cpu_s": "s",
    "shuffle_write_mb": "MB",
    "idle_core_s": "s",
}
EXTRA_COUNTERS = {
    "extract.html.text_ratio": "ratio",
    "extract.mentions.per_page": "ratio",
    "pipeline.fuse.rounds": "count",
    "pipeline.fuse.out_in_ratio": "ratio",
    "canonicalize.cc.members": "count",
    "canonicalize.cc.distributed": "bool",
    "validate.engine.violations": "count",
    "validate.engine.foci": "count",
    "validate.incremental.affected_ratio": "ratio",
    "checkpoint.mb_written": "MB",
    "checkpoint.files_written": "count",
    "spark.jobs_total": "count",
    "spark.failed_tasks": "count",
    "spark.spill_mb": "MB",
    "session.calls": "count",
    "session.wall_s": "s",
    "trace.overhead_s": "s",
    "failed_ratio": "ratio",
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name the traced run prints, with its unit."""
    units = {f"{layer}.{c}": u for layer in LAYERS for c, u in SPAN_COUNTERS.items()}
    units.update(EXTRA_COUNTERS)
    return units


_STAGE_SPANS = {
    "s1_text": "extract.html",
    "s2_mentions": "extract.mentions",
    "s3_triples": "extract.emit",
}


@dataclass
class Span:
    sid: str
    name: str
    parent: "Span | None"
    start: float
    end: float = 0.0
    children: list["Span"] = field(default_factory=list)

    def root(self) -> "Span":
        s = self
        while s.parent is not None:
            s = s.parent
        return s


class Tracer:
    def __init__(self) -> None:
        self.sc = None  # set once the session exists
        self.active = False
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        # (span name, counter, value) of the measured pass, and its probes
        self.counts: list[tuple[str, str, float]] = []
        self._deferred: list[tuple[str, Callable[[], dict[str, float]]]] = []
        self._restore: list[tuple[object, str, object]] = []

    # -- spans ------------------------------------------------------------------
    def _set_group(self, gid: str | None) -> None:
        if self.sc is not None:
            self.sc.setLocalProperty("spark.jobGroup.id", gid)

    @contextmanager
    def span(self, name: str):
        if not self.active:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(f"perfbench-{len(self.spans)}", name, parent, time.perf_counter())
        if parent is not None:
            parent.children.append(sp)
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_group(sp.sid)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self._set_group(parent.sid if parent else None)

    def defer(self, name: str, probe: Callable[[], dict[str, float]]) -> None:
        """Run ``probe`` after the current traced pass; its counters add
        to ``name``'s extras."""
        if self.active:
            self._deferred.append((name, probe))

    def run_deferred(self, keep: bool = True) -> None:
        """Run the probes of the pass that just ended, or drop them."""
        self._set_group(PROBE_GROUP)
        try:
            for name, probe in self._deferred if keep else ():
                for counter, value in probe().items():
                    self.counts.append((name, counter, value))
        finally:
            self._deferred.clear()
            self._set_group(None)

    # -- installation -----------------------------------------------------------
    def _patch(self, owner, attr: str, wrapper_factory) -> None:
        orig = getattr(owner, attr)
        self._restore.append((owner, attr, orig))
        setattr(owner, attr, functools.wraps(orig)(wrapper_factory(orig)))

    def _spanned(self, name: str, after: Callable | None = None):
        def factory(fn):
            def wrapper(*args, **kwargs):
                if not self.active:
                    return fn(*args, **kwargs)
                with self.span(name):
                    out = fn(*args, **kwargs)
                if after is not None:
                    after(out, *args, **kwargs)
                return out

            return wrapper

        return factory

    def install(self) -> None:
        from re_shacl_spark import job, pipeline
        from re_shacl_spark.canonicalize import cc
        from re_shacl_spark.checkpoint import CheckpointStore
        from re_shacl_spark.validate import engine, incremental

        def after_fuse(res, spark, triples, *args, **kwargs):
            self.defer("pipeline.fuse", lambda: {"rounds": res.rounds})
            if kwargs.get("base") is None:  # full fusion: input = the whole graph
                self.defer(
                    "pipeline.fuse",
                    lambda: {"out_in_ratio": res.triples.count() / max(triples.count(), 1)},
                )

        def after_cc(reps, *args, **kwargs):
            distributed = 0.0 if self._union_find_cc else 1.0
            self._union_find_cc = False
            self.defer(
                "canonicalize.cc", lambda: {"members": reps.count(), "distributed": distributed}
            )

        def after_validate(report, spark, triples, shapes, tbox=None, **kwargs):
            subset = kwargs.get("_focus_subset")

            def probe():
                foci = engine._targets(spark, triples, shapes, tbox)
                if subset is not None:
                    foci = foci.join(
                        subset.select(F.col("node").alias("focus")), "focus", "left_semi"
                    )
                return {"violations": report.violations.count(), "foci": foci.count()}

            self.defer("validate.engine", probe)

        self._union_find_cc = False

        def union_find(fn):
            def wrapper(*args, **kwargs):
                self._union_find_cc = self.active
                return fn(*args, **kwargs)

            return wrapper

        self._patch(cc, "_driver_union_find", union_find)
        for owner in (job, pipeline):
            self._patch(owner, "fuse", self._spanned("pipeline.fuse", after_fuse))
        for owner in (job, incremental):
            self._patch(owner, "validate", self._spanned("validate.engine", after_validate))
        self._patch(pipeline, "connected_components", self._spanned("canonicalize.cc", after_cc))
        for attr in ("canonicalize_triples", "apply_static_map"):
            self._patch(pipeline, attr, self._spanned("canonicalize.rewrite"))
        for attr in ("extract_tbox", "build_tbox_index"):
            self._patch(pipeline, attr, self._spanned("reasoning.tbox"))
        self._patch(pipeline, "run_all_checks", self._spanned("reasoning.checks"))
        self._patch(CheckpointStore, "load", self._spanned("checkpoint"))
        self._patch(CheckpointStore, "save", self._traced_save)

    def _traced_save(self, fn):
        def wrapper(store, stage, df, *args, **kwargs):
            if not self.active:
                return fn(store, stage, df, *args, **kwargs)
            with self.span(_STAGE_SPANS.get(stage, "checkpoint")):
                out = fn(store, stage, df, *args, **kwargs)
            dirs = [store._stage_dir(stage), store._lineage_dir(stage)]
            self.defer("checkpoint", lambda: _dir_usage(dirs))
            if stage == "s1_text":
                self.defer("extract.html", lambda: _text_ratio(out))
            elif stage == "s2_mentions":
                self.defer("extract.mentions", lambda: _mentions_per_page(out))
            return out

        return wrapper

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._restore):
            setattr(owner, attr, orig)
        self._restore.clear()

    # -- output -----------------------------------------------------------------
    def write_spans(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "id": s.sid, "name": s.name,
                    "parent": s.parent.sid if s.parent else None,
                    "start": s.start, "end": s.end,
                }) + "\n")


def affected_ratio(spark, base, delta, shapes) -> dict[str, float]:
    """Share of the focus nodes of ``base ∪ delta`` that ``validate_delta``
    re-checks."""
    from re_shacl_spark.validate import engine, incremental

    full = base.unionByName(delta)
    foci = engine._targets(spark, full, shapes, None).select("focus").distinct()
    affected = incremental._affected_foci(full, delta, shapes).withColumnRenamed("node", "focus")
    hit = foci.join(affected, "focus", "left_semi").count()
    return {"affected_ratio": hit / max(foci.count(), 1)}


def _dir_usage(dirs: list[str]) -> dict[str, float]:
    size = files = 0
    for d in dirs:
        for root, _, names in os.walk(d):
            for n in names:
                size += os.path.getsize(os.path.join(root, n))
                files += 1
    return {"mb_written": size / 2**20, "files_written": files}


def _text_ratio(s1) -> dict[str, float]:
    row = s1.agg(
        F.count(F.lit(1)).alias("n"),
        F.count(F.when(F.length("text") > 0, 1)).alias("texts"),
    ).first()
    return {"text_ratio": row["texts"] / max(row["n"], 1)}


def _mentions_per_page(s2) -> dict[str, float]:
    row = s2.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("mentions").isNull(), 0).otherwise(F.size("mentions"))).alias("m"),
    ).first()
    return {"per_page": (row["m"] or 0) / max(row["n"], 1)}


# -- event log ------------------------------------------------------------------
@dataclass
class GroupStats:
    jobs: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    cpu_s: float = 0.0
    task_s: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0

    def add(self, o: "GroupStats") -> None:
        for k in self.__dataclass_fields__:
            setattr(self, k, getattr(self, k) + getattr(o, k))


def read_event_log(log_dir: str) -> dict[str, GroupStats]:
    """Job-group → job and task totals, from the (uncompressed) event log."""
    stats: dict[str, GroupStats] = {}
    stage_group: dict[int, str] = {}
    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name)) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    gid = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if gid is None:
                        continue
                    stats.setdefault(gid, GroupStats()).jobs += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, gid)
                elif kind == "SparkListenerTaskEnd":
                    gid = stage_group.get(ev.get("Stage ID"))
                    if gid is None:
                        continue
                    g = stats[gid]
                    info = ev.get("Task Info") or {}
                    m = ev.get("Task Metrics") or {}
                    g.tasks += 1
                    g.failed_tasks += bool(info.get("Failed"))
                    g.task_s += max(info.get("Finish Time", 0) - info.get("Launch Time", 0), 0) / 1e3
                    g.cpu_s += m.get("Executor CPU Time", 0) / 1e9
                    g.shuffle_write_mb += (
                        (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / 2**20
                    )
                    g.spill_mb += m.get("Disk Bytes Spilled", 0) / 2**20
    return stats


def per_layer_metrics(
    tracer: Tracer,
    stats: dict[str, GroupStats],
    cores: int,
    overhead_s: float,
    failed_ratio: float,
) -> dict[str, float]:
    """Totals over the spans of the measured pass (and of set-up for
    ``session``).  Layers that did not run read 0."""
    out = {name: 0.0 for name in per_layer_units()}

    def inclusive(s: Span) -> GroupStats:
        total = GroupStats()
        total.add(stats.get(s.sid, GroupStats()))
        for c in s.children:
            total.add(inclusive(c))
        return total

    failed = spill = 0.0
    for s in tracer.spans:
        if s.name == "session":
            out["session.calls"] += 1
            out["session.wall_s"] += s.end - s.start
            continue
        if s.root().name != "iteration":
            continue  # set-up, or the passes that measure the overhead
        own = stats.get(s.sid, GroupStats())
        failed += own.failed_tasks
        spill += own.spill_mb
        g = inclusive(s)
        wall = s.end - s.start
        vals = {
            "calls": 1,
            "wall_s": wall,
            "self_s": wall - sum(c.end - c.start for c in s.children),
            "spark_jobs": g.jobs,
            "tasks": g.tasks,
            "executor_cpu_s": g.cpu_s,
            "shuffle_write_mb": g.shuffle_write_mb,
            "idle_core_s": wall * cores - g.task_s,
        }
        for k, v in vals.items():
            out[f"{s.name}.{k}"] += v

    # extras: counts add up over calls, ratios and flags average
    sums: dict[str, list[float]] = {}
    for name, counter, value in tracer.counts:
        sums.setdefault(f"{name}.{counter}", []).append(value)
    for key, vals in sums.items():
        if key not in out:
            continue
        if EXTRA_COUNTERS[key] in ("ratio", "bool"):
            out[key] = sum(vals) / len(vals)
        elif key == "pipeline.fuse.rounds":
            out[key] = max(vals)
        else:
            out[key] = sum(vals)
    out["spark.jobs_total"] = out["iteration.spark_jobs"]
    out["spark.failed_tasks"] = failed
    out["spark.spill_mb"] = spill
    out["trace.overhead_s"] = overhead_s
    out["failed_ratio"] = failed_ratio
    return out
