"""The benchmark workloads.

Each workload is a closed loop with one client and one operation at a time:
set up (session start, seeded inputs, and for ``recrawl_delta`` the base
commit), then run operations until the measuring window has passed (at
least one), checking every output outside the timed region. The engine is
driven only through its public entry points: ``plans.pipeline.run_pipeline``,
``plans.pipeline.run_pipeline_checkpointed`` and the query functions named
in ``bench.BENCH_QUERIES``.

A traced run (``traced=True``) measures the tracing overhead in the same
session as a traced minus a plain run of the same work. ``query_suite`` runs
a warm-up, a traced and a plain pass. ``recrawl_delta`` traces its first
delta, the one an untraced run times, and runs its from-scratch correctness
run traced and then plain; the traced one gives the stage layers.
"""

from __future__ import annotations

import gc
import os
import statistics
import subprocess
import time
from dataclasses import dataclass, field

import inputs
from check_oracles import value_hash
from spans import Tracer, eventlog_conf, task_metrics

from dedupe_archived_files_spark.schema import LABELED_PAIRS

#: The query-suite subset: the six heaviest queries of ``bench.BENCH_QUERIES``
#: plus the exact top-k and IVF queries the ANN recall figures need.
SUITE = [
    "minhash_lsh_near_dup",
    "semantic_dedup_embeddings",
    "embedding_ann_ivf2",
    "fingerprint_overlap_near_dup",
    "embedding_ann_lsh",
    "connected_components_docs",
    "embedding_topk_cosine",
    "embedding_ann_ivf",
]
HEAVY = SUITE[:6]
ANN = ["embedding_ann_lsh", "embedding_ann_ivf", "embedding_ann_ivf2"]

CRAWL_GROUPS = 2000      # x 5 near-duplicate variants = 10,000 pages
F1_GATE = 0.99           # BASELINE.json pair-F1 gate

STAGE_LAYERS = ["extract", "blocking", "edges", "cc"]
DELTA_LAYERS = [
    "delta.detect", "lineage.upsert", "edges.scoped", "lineage.replace_edges",
    "cc.scoped", "lineage.replace_clusters",
]
E2E_UNITS = {"setup_s": "s", "op_p50_s": "s", "quality_min": "ratio", "peak_rss_mb": "MB"}


def layer_metric_units() -> dict[str, str]:
    """Every per-layer metric name with its unit (the traced run's output)."""
    u = {"session.start_s": "s"}
    for layer in STAGE_LAYERS:
        u.update({f"{layer}.wall_s": "s", f"{layer}.task_s": "s",
                  f"{layer}.shuffle_write_bytes": "bytes", f"{layer}.task_skew": "ratio"})
        if layer != "cc":
            u[f"{layer}.spill_bytes"] = "bytes"
    u.update({
        "extract.rows_out": "count", "blocking.candidates": "count",
        "blocking.oversized_blocks": "count", "blocking.candidates_per_page": "ratio",
        "edges.near": "count", "edges.exact": "count", "edges.yield": "ratio",
        "cc.edges_in": "count", "cc.components": "count", "cc.driver_path": "bool",
        "resolve.wall_s": "s",
    })
    for layer in DELTA_LAYERS:
        u.update({f"{layer}.wall_s": "s", f"{layer}.task_s": "s"})
    u.update({
        "delta.changed_rows": "count", "lineage.bytes_written": "bytes",
        "lineage.files_written": "count", "lineage.write_amp": "ratio",
    })
    for q in SUITE:
        u[f"queries.{q}.wall_s"] = "s"
    for q in HEAVY:
        u.update({f"queries.{q}.task_s": "s", f"queries.{q}.shuffle_write_bytes": "bytes"})
    u.update({"trace.wall_s": "s", "trace.unattributed_s": "s", "trace.overhead_s": "s"})
    return u


@dataclass
class Outcome:
    attempted: int = 0
    failed: int = 0
    notes: list = field(default_factory=list)
    metrics: dict = field(default_factory=dict)

    def check(self, ok: bool, what: str) -> None:
        """One checked operation: counts as attempted, and as failed unless ok."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.notes.append(what)


class Bench:
    """Shared set-up, measuring loop and reporting for one run."""

    def __init__(self, work: str, seed: int, seconds: float, traced: bool,
                 t_start: float, trace_file: str):
        self.work, self.seed, self.seconds, self.traced = work, seed, seconds, traced
        self.t_start, self.trace_file = t_start, trace_file
        self.out = Outcome()
        self.op_walls: list[float] = []      # plain (untraced) operations
        self.traced_walls: list[float] = []  # traced operations
        self.last_wall = float("nan")
        self.overhead_s = None  # traced minus plain wall of the same work
        self.counts: dict[str, float] = {}
        from dedupe_archived_files_spark.session import get_spark

        conf = None
        if traced:
            os.makedirs(self.path("eventlog"))
            conf = eventlog_conf(self.path("eventlog"))
        t0 = time.perf_counter()
        self.spark = get_spark(app_name="perfbench", extra_conf=conf)
        self.session_s = time.perf_counter() - t0
        self.tracer = Tracer(self.spark.sparkContext).install() if traced else None

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def setup_done(self) -> None:
        self.setup_s = time.perf_counter() - self.t_start

    def timed(self, op, first_span: str, traced: bool, measured: bool = True):
        """Run ``op()`` once, traced or not, and return its result, or None
        after counting a raising op as failed. Only ``measured`` plain
        operations feed ``op_p50_s``; every traced one feeds the trace."""
        # every operation starts from the same cache and heap state
        self.spark.catalog.clearCache()
        gc.collect()
        self.spark._jvm.java.lang.System.gc()
        t0 = time.perf_counter()
        try:
            if traced:
                with self.tracer.op(first_span):
                    res = op()
            else:
                res = op()
        except Exception as e:  # noqa: BLE001 - a raising op is a failed op
            self.out.check(False, f"{first_span} raised {type(e).__name__}: {str(e)[:300]}")
            return None
        wall = self.last_wall = time.perf_counter() - t0
        self.out.check(True, "")
        if traced:
            self.traced_walls.append(wall)
        elif measured:
            self.op_walls.append(wall)
        return res

    def measure(self, op, first_span: str, check, prepare=lambda: None,
                paired: bool = True) -> None:
        """The closed loop. ``prepare()`` makes each operation's input and
        ``check(result, traced)`` checks its output, both outside the timed
        region, which times ``op(prepared)``. Untraced: operations until the
        window passes (at least one). Traced and ``paired``: an untimed
        warm-up operation, one traced and one plain, so the tracing overhead
        compares two warm operations. Traced, not paired: one traced
        operation."""
        if self.traced:
            walls = {}
            for kind in ("warm-up", "traced", "plain") if paired else ("traced",):
                arg = prepare()
                res = self.timed(lambda: op(arg), first_span, kind == "traced",
                                 measured=kind == "plain")
                if res is not None:
                    walls[kind] = self.last_wall
                    check(res, kind == "traced")
            if "traced" in walls and "plain" in walls:
                self.overhead_s = walls["traced"] - walls["plain"]
            return
        deadline = time.perf_counter() + self.seconds
        while not self.op_walls or time.perf_counter() < deadline:
            arg = prepare()
            res = self.timed(lambda: op(arg), first_span, False)
            if res is None:
                break
            check(res, False)

    def close(self) -> None:
        """Stop the session, then the JVM it launched, and wait for it to end
        (Spark's Python workers are the JVM's children and end with it)."""
        from pyspark import SparkContext

        if self.tracer is not None:
            self.tracer.uninstall()
        self.spark.stop()
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
            SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    def peak_rss_mb(self) -> float:
        """Peak resident memory (VmHWM) of the driver JVM."""
        pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("VmHWM not found")

    def finish(self, quality: float) -> Outcome:
        """Stop the session and assemble the metrics of this run."""
        e2e = {
            "setup_s": self.setup_s,
            "op_p50_s": statistics.median(self.op_walls) if self.op_walls else float("nan"),
            "quality_min": quality,
            "peak_rss_mb": self.peak_rss_mb(),
        }
        self.spark.stop()  # flushes the event log
        if not self.traced:
            self.out.metrics = {k: (v, E2E_UNITS[k]) for k, v in e2e.items()}
            return self.out
        units = layer_metric_units()
        vals = dict.fromkeys(units, 0.0)
        vals["session.start_s"] = self.session_s
        walls = self.tracer.walls()
        tasks = task_metrics(self.path("eventlog"), self.tracer.spans)
        for name, w in walls.items():
            if f"{name}.wall_s" in vals:
                vals[f"{name}.wall_s"] = w
        for name, t in tasks.items():
            for key in ("task_s", "shuffle_write_bytes", "spill_bytes", "task_skew"):
                if f"{name}.{key}" in vals:
                    vals[f"{name}.{key}"] = t[key]
        vals.update(self.counts)
        vals["trace.wall_s"] = sum(self.traced_walls)
        vals["trace.unattributed_s"] = vals["trace.wall_s"] - sum(walls.values())
        if self.overhead_s is not None:
            vals["trace.overhead_s"] = self.overhead_s
        # a traced recrawl_delta run times no plain delta: leave its NaN out
        e2e = {k: v for k, v in e2e.items() if v == v}
        self.tracer.dump(self.trace_file, {"end_to_end": e2e, "layers": vals, "tasks": tasks})
        self.out.metrics = {k: (v, units[k]) for k, v in vals.items()}
        return self.out


def result_key(df) -> tuple:
    """(columns, row count, order-insensitive value hash) of a pandas result."""
    return sorted(df.columns), len(df), value_hash(df)


def check_oracle(out: Outcome, name: str, df, expected: tuple) -> None:
    """A query result must match its DuckDB oracle's ``result_key``."""
    out.check(result_key(df) == expected, f"{name} differs from its DuckDB oracle")


def check_same_clusters(out: Outcome, scratch: set, committed: set, what: str) -> None:
    """Committed (url, cluster_id, canonical_url) rows must equal the
    from-scratch run's."""
    out.check(
        scratch == committed,
        f"{what}: committed clusters differ from a from-scratch run "
        f"({len(committed - scratch)} extra, {len(scratch - committed)} missing rows)",
    )


# --------------------------------------------------------------------------
# recrawl_delta: run_pipeline_checkpointed absorbing re-crawl snapshots
# --------------------------------------------------------------------------


def _files(root: str) -> dict[str, tuple]:
    out = {}
    for d, _dirs, names in os.walk(root):
        for n in names:
            st = os.stat(os.path.join(d, n))
            out[os.path.join(d, n)] = (st.st_ino, st.st_mtime_ns, st.st_size)
    return out


def _stage_counts(r, n_pages: int, cfg) -> dict[str, float]:
    """Counts at the stage boundaries of a (still cached) PipelineResult."""
    from pyspark.sql import functions as F

    cand = r.candidates.count()
    by_exact = dict(r.edges.groupBy(F.col("channel") == "exact").count().collect())
    near, exact = by_exact.get(False, 0), by_exact.get(True, 0)
    return {
        "extract.rows_out": float(n_pages),
        "blocking.candidates": float(cand),
        "blocking.oversized_blocks": float(r.oversized.count()),
        "blocking.candidates_per_page": cand / n_pages,
        "edges.near": float(near),
        "edges.exact": float(exact),
        "edges.yield": near / cand if cand else 0.0,
        "cc.edges_in": float(near + exact),
        "cc.components": float(r.labels.select("component").distinct().count()),
        "cc.driver_path": float(near + exact <= cfg.cc_driver_threshold),
    }


def recrawl_delta(b: Bench) -> Outcome:
    """Set-up commits a duplicate-dense crawl through the checkpointed path;
    each operation hands it the next re-crawl snapshot (the whole crawl, one
    row per url, ~0.5% of urls re-captured with new content), written just
    before the operation."""
    from dedupe_archived_files_spark.config import PipelineConfig
    from dedupe_archived_files_spark.plans.pipeline import (
        evaluate_f1,
        run_pipeline,
        run_pipeline_checkpointed,
    )

    cfg = PipelineConfig()
    crawl = inputs.dupheavy_crawl(b.seed, CRAWL_GROUPS)
    snapshots = inputs.recrawl_snapshots(crawl, b.seed)
    inputs.write_parquet(b.path("base", "part-0.parquet"), crawl.pages, inputs.PAGES_SCHEMA)
    store = b.path("store")
    run_pipeline_checkpointed(b.spark.read.parquet(b.path("base")), store, cfg).write.format(
        "noop").mode("overwrite").save()
    b.setup_done()
    state = {"next": 0}

    def prepare():
        k = state["next"]
        state["next"] += 1
        rows, latest, truth = next(snapshots)
        path = b.path("snap", str(k))
        inputs.write_parquet(os.path.join(path, "part-0.parquet"), latest, inputs.PAGES_SCHEMA)
        return k, path, rows, truth, _files(store) if b.traced else None

    def op(snap):
        cl = run_pipeline_checkpointed(b.spark.read.parquet(snap[1]), store, cfg)
        cl.write.format("noop").mode("overwrite").save()
        return snap, cl

    def check(res, traced):
        snap, cl = res
        state["last"] = res
        if traced:
            _k, _path, rows, _truth, before = snap
            after = _files(store)
            written = [p for p, st in after.items() if before.get(p) != st]
            nbytes = sum(after[p][2] for p in written)
            b.counts.update({
                "delta.changed_rows": float(len(rows)),
                "lineage.bytes_written": float(nbytes),
                "lineage.files_written": float(len(written)),
                "lineage.write_amp": nbytes / sum(len(r[2]) for r in rows),
            })

    # not paired: two more deltas would take the traced run near its time
    # limit; the overhead pair is the cheaper from-scratch run below
    b.measure(op, "delta.detect", check, prepare, paired=False)
    if "last" not in state:
        return b.finish(0.0)
    # the documented contract of run_pipeline_checkpointed: the committed
    # clusters equal a from-scratch run over the same latest-per-url snapshot
    (k, path, _rows, truth, _before), committed_df = state["last"]
    latest = b.spark.read.parquet(path)
    if b.traced:
        # traced first, so any warm-up benefit goes to the plain run and the
        # overhead reads high rather than low
        rt = b.timed(lambda: run_pipeline(latest, cfg), "extract", True, measured=False)
        traced_wall = b.last_wall
        traced_rows = None if rt is None else {tuple(x) for x in rt.clusters.collect()}
    r = b.timed(lambda: run_pipeline(latest, cfg), "extract", False, measured=False)
    if r is None:
        return b.finish(0.0)
    scratch = {tuple(x) for x in r.clusters.collect()}
    if b.traced and traced_rows is not None:
        b.overhead_s = traced_wall - b.last_wall
        b.out.check(traced_rows == scratch, "traced from-scratch clusters differ from untraced")
        b.counts.update(_stage_counts(r, len(crawl.pages), cfg))
    committed = {tuple(x) for x in committed_df.select(
        "url", "cluster_id", "canonical_url").collect()}
    check_same_clusters(b.out, scratch, committed, f"snapshot {k}")
    crawl.group = truth
    labeled = b.spark.createDataFrame(crawl.labeled_pairs(), schema=LABELED_PAIRS)
    quality = evaluate_f1(committed_df.selectExpr("url", "cluster_id AS component"),
                          labeled)["f1"]
    b.out.check(quality >= F1_GATE, f"snapshot {k}: pair F1 {quality:.4f} < {F1_GATE}")
    return b.finish(quality)


# --------------------------------------------------------------------------
# query_suite: the heaviest bench.BENCH_QUERIES over the sf0.01 tables
# --------------------------------------------------------------------------


def query_suite(b: Bench) -> Outcome:
    """Each operation is one pass of ``SUITE``, every query collected to the
    client; outputs are checked against the DuckDB oracles and the ANN
    recalls against exact truth."""
    import duckdb
    import numpy as np

    import __spark_entry__ as entry
    import bench as frozen_bench
    from dedupe_archived_files_spark import queries as Q

    missing = [q for q in SUITE if q not in frozen_bench.BENCH_QUERIES]
    if missing:
        raise RuntimeError(f"suite queries not in bench.BENCH_QUERIES: {missing}")
    tables = inputs.query_tables(b.seed)
    data = b.path("tables")
    con = duckdb.connect()
    for name, table in tables.items():
        inputs.write_table(os.path.join(data, f"{name}.parquet"), table)
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{data}/{name}.parquet')")
    oracles = entry.oracle_sql()
    expected = {}
    for q in SUITE:
        if q in oracles:
            expected[q] = result_key(con.sql(oracles[q]).df())
    con.close()
    # all-pairs cosine truth for semantic dedup, as bench.py computes it
    ids = np.array(tables["embeddings"].column("vec_id").to_pylist())
    X = np.array(tables["embeddings"].column("embedding").to_pylist(), dtype=np.float64)
    nrm = np.sqrt((X * X).sum(axis=1))
    iu = np.triu_indices(len(ids), k=1)
    keep = np.round(((X @ X.T) / np.outer(nrm, nrm))[iu], 4) >= Q.COSINE_TAU
    semantic_truth = {(int(ids[i]), int(ids[j])) for i, j in zip(iu[0][keep], iu[1][keep])}
    b.setup_done()

    def op(_):
        out = {}
        for q in SUITE:
            if b.tracer and b.tracer.active:
                b.tracer.start(f"queries.{q}")
            out[q] = getattr(Q, q)(b.spark, data).toPandas()
        return out

    recalls = []

    def check(out, traced):
        for q, df in out.items():
            if q in expected:
                check_oracle(b.out, q, df, expected[q])
        topk = out["embedding_topk_cosine"]
        truth = set(zip(topk["query_id"], topk["neighbor_id"]))
        r = [len(truth & set(zip(out[q]["query_id"], out[q]["neighbor_id"]))) / len(truth)
             for q in ANN]
        sem = out["semantic_dedup_embeddings"]
        r.append(len(semantic_truth & set(zip(sem["vec_id_a"], sem["vec_id_b"])))
                 / max(1, len(semantic_truth)))
        recalls.append(min(r))

    b.measure(op, f"queries.{SUITE[0]}", check)
    return b.finish(min(recalls) if recalls else 0.0)


WORKLOADS = {"recrawl_delta": recrawl_delta, "query_suite": query_suite}
