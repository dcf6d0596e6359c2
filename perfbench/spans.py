"""Per-layer tracing from outside the engine.

The tracer wraps the public functions of each layer (``operators.*``,
``plans.pipeline``, ``plans.lineage.CheckpointStore``) in the benchmark's own
process. A span starts when a wrapped call is seen and lasts until the next
wrapped call starts, so the spans of one operation add up to its wall time
and include the eager barriers the pipeline places after each stage call.
Calls made from inside another wrapped call belong to the outer span.

Each span also sets a Spark job group. When the session runs with the event
log on (:func:`eventlog_conf`), :func:`task_metrics` reads per-group task time,
shuffle bytes, spill and skew back from the log after the session stops.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import statistics
import time
from contextlib import contextmanager


def eventlog_conf(log_dir: str) -> dict[str, str]:
    """Extra session settings for a traced run (``get_spark(extra_conf=...)``)."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


class Tracer:
    """Spans kept in memory: ``[name, start, end, job_group, op_index]``."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[list] = []
        self.active = False
        self._depth = 0
        self._op = -1
        self._seq = 0
        self._undo: list[tuple] = []

    def start(self, name: str) -> None:
        """End the current span and start ``name``; also used directly for
        calls the benchmark makes itself, such as one query of the suite."""
        now = time.perf_counter()
        if self.spans and self.spans[-1][2] is None:
            self.spans[-1][2] = now
        self._seq += 1
        group = f"{name}#{self._seq}"
        self.sc.setJobGroup(group, name)
        self.spans.append([name, now, None, group, self._op])

    @contextmanager
    def op(self, first_span: str):
        """One traced operation; ``first_span`` names the work before the
        first wrapped call."""
        self._op += 1
        self.active = True
        self.start(first_span)
        try:
            yield
        finally:
            self.spans[-1][2] = time.perf_counter()
            self.active = False
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    def wrap(self, fn, name):
        """``name`` is a span name, or a function of the call's arguments."""

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not self.active or self._depth:
                return fn(*args, **kwargs)
            span = name(*args, **kwargs) if callable(name) else name
            self.start(span)
            self._depth += 1
            try:
                return fn(*args, **kwargs)
            finally:
                self._depth -= 1

        return wrapper

    def install(self) -> "Tracer":
        """Patch the layer entry points in their modules (this process only)."""
        from dedupe_archived_files_spark.operators import blocking, incremental
        from dedupe_archived_files_spark.plans import lineage, pipeline

        def stage_name(prefix):
            return lambda self_, stage, *a, **k: f"{prefix}_{stage}"

        patches = [
            (pipeline, "extract_with_signature", "extract"),
            (pipeline, "blocking_products", "blocking"),
            (pipeline, "candidate_pairs", "blocking"),
            (pipeline, "pair_features", "edges"),
            (pipeline, "verified_edges", "edges"),
            (pipeline, "exact_star_edges", "edges"),
            (pipeline, "connected_components", "cc"),
            (pipeline, "resolve_clusters", "resolve"),
            (pipeline, "scoped_fresh_edges", "edges.scoped"),
            (pipeline, "scoped_cluster_parts", "cc.scoped"),
            # imported inside run_pipeline_checkpointed at call time
            (incremental, "new_or_changed", "delta.detect"),
            (incremental, "last_writer_wins", "delta.detect"),
            (blocking, "block_keys", "delta.detect"),
            (lineage.CheckpointStore, "upsert_stage", "lineage.upsert"),
            (lineage.CheckpointStore, "replace_scoped", stage_name("lineage.replace")),
            (lineage.CheckpointStore, "write_stage", "lineage.write"),
            (lineage.CheckpointStore, "rewrite_stage", "lineage.write"),
        ]
        for owner, attr, name in patches:
            orig = getattr(owner, attr)
            self._undo.append((owner, attr, orig))
            setattr(owner, attr, self.wrap(orig, name))
        return self

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo = []

    def walls(self) -> dict[str, float]:
        """Summed wall time of each span name over all traced operations."""
        out: dict[str, float] = {}
        for name, start, end, _group, _op in self.spans:
            out[name] = out.get(name, 0.0) + (end - start)
        return out

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        rows = [
            {"name": n, "start_s": s, "end_s": e, "job_group": g, "op": o}
            for n, s, e, g, o in self.spans
        ]
        with open(path, "w") as f:
            json.dump({"spans": rows, **extra}, f, indent=1)


def task_metrics(log_dir: str, spans: list[list]) -> dict[str, dict[str, float]]:
    """Per span name: summed executor run time (s), shuffle bytes written,
    disk bytes spilled, task count, and task skew (max / median task run
    time), from the Spark event log(s) in ``log_dir``. Stages are attributed
    to the job group that was set when they were submitted."""
    group_name = {g: n for n, _s, _e, g, _o in spans}
    stage_span: dict[int, str] = {}
    tasks: dict[str, list[tuple[float, int, int]]] = {}
    for path in glob.glob(os.path.join(log_dir, "*")):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerStageSubmitted":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group in group_name:
                        stage_span[ev["Stage Info"]["Stage ID"]] = group_name[group]
                elif kind == "SparkListenerTaskEnd":
                    name = stage_span.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics")
                    if name is None or not m:
                        continue
                    shuffle = (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    tasks.setdefault(name, []).append(
                        (m.get("Executor Run Time", 0) / 1000.0, shuffle, m.get("Disk Bytes Spilled", 0))
                    )
    out = {}
    for name, ts in tasks.items():
        runs = [t[0] for t in ts]
        med = statistics.median(runs)
        out[name] = {
            "task_s": sum(runs),
            "shuffle_write_bytes": float(sum(t[1] for t in ts)),
            "spill_bytes": float(sum(t[2] for t in ts)),
            "tasks": float(len(ts)),
            "task_skew": max(runs) / med if med > 0 else 0.0,
        }
    return out
