"""The benchmark's own tests. Run from the repository root:

    python -m pytest perfbench/test_perfbench.py -q -p no:cacheprovider
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import subprocess
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
for p in (os.path.join(ROOT, "scripts"), ROOT, HERE):
    if p not in sys.path:
        sys.path.insert(0, p)

import inputs  # noqa: E402
import workloads  # noqa: E402
from spans import Tracer  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


def _digest(path: str) -> str:
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def _write_all(seed: int, root: str) -> list[str]:
    """Every input file a run of either workload writes for ``seed``."""
    crawl = inputs.dupheavy_crawl(seed, 20)
    paths = [os.path.join(root, "base.parquet")]
    inputs.write_parquet(paths[0], crawl.pages, inputs.PAGES_SCHEMA)
    for k, (_rows, latest, _truth) in zip(range(3), inputs.recrawl_snapshots(crawl, seed)):
        paths.append(os.path.join(root, f"snap{k}.parquet"))
        inputs.write_parquet(paths[-1], latest, inputs.PAGES_SCHEMA)
    for name, table in inputs.query_tables(seed).items():
        paths.append(os.path.join(root, f"{name}.parquet"))
        inputs.write_table(paths[-1], table)
    return paths


def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path):
    a = [_digest(p) for p in _write_all(7, str(tmp_path / "a"))]
    b = [_digest(p) for p in _write_all(7, str(tmp_path / "b"))]
    c = [_digest(p) for p in _write_all(8, str(tmp_path / "c"))]
    assert a == b
    assert all(x != y for x, y in zip(a, c))


def test_recrawl_truth_tracks_snapshots():
    crawl = inputs.dupheavy_crawl(3, 40)
    before = dict(crawl.group)
    seen = {r[0]: r for r in crawl.pages}
    for _k, (rows, latest, truth) in zip(range(4), inputs.recrawl_snapshots(crawl, 3)):
        assert crawl.group == before
        assert len({r[0] for r in rows}) == len(rows) == 1
        assert all(r[1] > max(p[1] for p in crawl.pages) for r in rows)
        assert set(truth) == set(before)
        seen.update((r[0], r) for r in rows)
        assert latest == [seen[u] for u in sorted(seen)]


def test_query_tables_keep_content_and_permute_rows():
    import pyarrow.parquet as pq

    for name, table in inputs.query_tables(5).items():
        src = pq.read_table(os.path.join(inputs.QUERY_DATA, f"{name}.parquet"))
        key = src.column_names[0]
        assert table.schema == src.schema
        assert table.column(key).to_pylist() != src.column(key).to_pylist()
        assert table.sort_by(key).equals(src.sort_by(key))


def test_metric_names_are_declared_in_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    declared_e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    declared_layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert declared_e2e == workloads.E2E_UNITS
    assert declared_layer == workloads.layer_metric_units()
    assert set(workloads.WORKLOADS) == {w["name"] for w in spec["workloads"]}
    for name in [*declared_e2e, *declared_layer]:
        assert NAME.fullmatch(name), name


def test_corrupted_query_output_counts_as_failure():
    df = pd.DataFrame({"doc_id_a": [1, 2, 3], "doc_id_b": [4, 5, 6], "sim": [0.9, 0.95, 1.0]})
    out = workloads.Outcome()
    expected = workloads.result_key(df)
    workloads.check_oracle(out, "q", df, expected)
    bad = df.copy()
    bad.loc[1, "doc_id_b"] = 7
    workloads.check_oracle(out, "q", bad, expected)
    workloads.check_oracle(out, "q", df.iloc[:2], expected)
    assert (out.attempted, out.failed) == (3, 2)


def test_corrupted_clusters_count_as_failure():
    rows = {("u1", "u1", "u1"), ("u2", "u1", "u1"), ("u3", "u3", "u3"), ("u4", "u3", "u3")}
    merged = {(u, "u1", "u1") for u, _c, _k in rows}
    out = workloads.Outcome()
    workloads.check_same_clusters(out, rows, set(rows), "same")
    workloads.check_same_clusters(out, rows, merged, "merged")
    assert (out.attempted, out.failed) == (2, 1)
    assert "merged" in out.notes[0]


def test_refuses_to_run_outside_a_checkout(tmp_path):
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", "query_suite",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


@pytest.fixture(scope="module")
def spark():
    os.environ["PYTHONPATH"] = ROOT
    from dedupe_archived_files_spark.session import get_spark

    return get_spark(app_name="perfbench-tests", master="local[4]", shuffle_partitions=4)


def test_traced_run_clusters_equal_untraced(spark, tmp_path):
    from dedupe_archived_files_spark.config import PipelineConfig
    from dedupe_archived_files_spark.plans import pipeline

    crawl = inputs.dupheavy_crawl(11, 30)
    inputs.write_parquet(str(tmp_path / "p" / "part-0.parquet"), crawl.pages, inputs.PAGES_SCHEMA)
    pages = spark.read.parquet(str(tmp_path / "p"))
    cfg = PipelineConfig()

    def clusters_hash() -> str:
        rows = sorted(tuple(r) for r in pipeline.run_pipeline(pages, cfg).clusters.collect())
        spark.catalog.clearCache()
        return hashlib.sha256(repr(rows).encode()).hexdigest()

    plain = clusters_hash()
    tracer = Tracer(spark.sparkContext).install()
    try:
        with tracer.op("extract"):
            traced = clusters_hash()
    finally:
        tracer.uninstall()
    assert traced == plain
    names = [s[0] for s in tracer.spans]
    assert {"extract", "blocking", "edges", "cc", "resolve"} <= set(names)
    # spans are contiguous, so they add up to the traced wall
    for prev, nxt in zip(tracer.spans, tracer.spans[1:]):
        assert prev[2] == nxt[1]
    assert not hasattr(pipeline.extract_with_signature, "__wrapped__")
