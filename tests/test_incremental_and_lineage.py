"""Incremental semantics (J4/J5/J6), deterministic last-wins (A6), resumable
checkpointing + lineage (north rule)."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from dedupe_archived_files_spark.config import PipelineConfig
from dedupe_archived_files_spark.operators.incremental import (
    decorate_selection,
    last_writer_wins,
    new_or_changed,
    plan_deletions,
    reuse_cached_hashes,
)
from dedupe_archived_files_spark.plans.pipeline import run_pipeline_checkpointed
from dedupe_archived_files_spark.synth import recrawl_snapshot

CFG = PipelineConfig()


def _replace_bucketed(df, stage_dir):
    """Swap ``df`` (with its ``__bucket`` column) in as the stage's data,
    keeping the committed bucketed layout and its modulus stamp — the marker
    is untouched, so the stage stays committed."""
    import os
    import shutil

    swap = stage_dir + ".__poison_tmp"
    df.write.mode("overwrite").partitionBy("__bucket").parquet(swap)
    shutil.copy(os.path.join(stage_dir, "_bucket_layout.json"), swap)
    shutil.rmtree(stage_dir)
    os.rename(swap, stage_dir)


def test_new_or_changed_skips_unchanged(spark, pages_dfs):
    """Unchanged (url, warc_ts) rows are skipped on resume; re-crawled urls
    (same url, newer ts, new content) are reprocessed
    (reference tests/test_scanner.py:173-196; models.py:201-235)."""
    pages, _, _ = pages_dfs
    processed = pages.select("url", "warc_ts")
    # identical snapshot → nothing to do
    assert new_or_changed(pages, processed).count() == 0
    # second crawl: 10 re-crawled urls with newer warc_ts
    recrawl = spark.createDataFrame(recrawl_snapshot(), schema=pages.schema)
    snapshot2 = pages.unionByName(recrawl)
    todo = new_or_changed(snapshot2, processed)
    assert todo.count() == 10
    recrawled = {r[0] for r in recrawl_snapshot()}
    assert {r["url"] for r in todo.select("url").collect()} == recrawled


def test_reuse_cached_hashes(spark, pages_dfs):
    """J4: unchanged rows get their cached hashes; changed rows miss."""
    from dedupe_archived_files_spark.operators.extract import extract_pages

    pages, _, _ = pages_dfs
    cached = extract_pages(pages, CFG).select("url", "warc_ts", "full_hash", "quick_hash")
    recrawl = spark.createDataFrame(recrawl_snapshot(), schema=pages.schema)
    snapshot2 = pages.unionByName(recrawl)
    dec = reuse_cached_hashes(snapshot2, cached)
    # quarantined rows (5) have null hashes → no usable cache entry
    assert dec.filter(F.col("cache_hit")).count() == pages.count() - 5
    assert dec.filter(~F.col("cache_hit")).count() == 10 + 5


def test_selection_decoration_default(spark):
    """J5: stored decision wins; otherwise the auto-select default applies
    (reference scanner.py:354-356)."""
    matches = spark.createDataFrame(
        [("h1", "t1"), ("h1", "t2"), ("h2", "t3")], ["full_hash", "target_url"]
    )
    sel = spark.createDataFrame([("h1", "t2", False)], ["full_hash", "target_url", "selected"])
    out = decorate_selection(matches, sel, default_selected=True)
    got = {(r["full_hash"], r["target_url"]): r["selected"] for r in out.collect()}
    assert got == {("h1", "t1"): True, ("h1", "t2"): False, ("h2", "t3"): True}


def test_last_writer_wins_deterministic(spark):
    """A6 with a deterministic winner (max ts, then column tie-break) —
    reference UNIQUE+INSERT OR REPLACE keeps exactly one row per key
    (tests/test_database.py:309-342)."""
    t0 = datetime.datetime(2025, 1, 1)
    t1 = datetime.datetime(2025, 1, 2)
    df = spark.createDataFrame(
        [("k1", t0, "old"), ("k1", t1, "new"), ("k2", t0, "only")],
        ["key", "ts", "val"],
    )
    out = {r["key"]: r["val"] for r in last_writer_wins(df, ["key"], "ts").collect()}
    assert out == {"k1": "new", "k2": "only"}


def test_plan_deletions_dry_run(spark):
    """S14: actions table, dry-run plans but commits nothing."""
    m = spark.createDataFrame([("t1", True), ("t2", False)], ["target_url", "selected"])
    out = {r["target_url"]: (r["action"], r["status"]) for r in plan_deletions(m, dry_run=True).collect()}
    assert out == {"t1": ("delete", "planned"), "t2": ("keep", "skipped")}


def test_checkpoint_resume_identical_output(spark, pages_dfs, tmp_path):
    """Kill-after-commit resume: stage outputs are reused, final clusters
    identical (FIXTURES.md §4 resume test)."""
    pages, _, expected = pages_dfs
    root = str(tmp_path / "ckpt")
    c1 = run_pipeline_checkpointed(pages, root, CFG)
    first = sorted((r["url"], r["cluster_id"]) for r in c1.collect())

    # simulate a later rerun: stages committed → everything is read back
    import time

    t0 = time.time()
    c2 = run_pipeline_checkpointed(pages, root, CFG)
    second = sorted((r["url"], r["cluster_id"]) for r in c2.collect())
    resume_secs = time.time() - t0
    assert first == second
    assert resume_secs < 30  # resume must not recompute the pipeline

    # and it matches ground truth
    exp = sorted((r["url"], r["cluster_id"]) for r in expected.collect())
    assert first == exp


def test_upsert_stage_merge_semantics(spark, tmp_path):
    """MERGE INTO analogue (north rule names Iceberg MERGE; parquet impl
    documents the swap point): matched keys replaced, unmatched appended,
    stage stays committed and re-readable."""
    from dedupe_archived_files_spark.plans.lineage import CheckpointStore

    store = CheckpointStore(spark, str(tmp_path / "m"))
    base = spark.createDataFrame([("u1", 1), ("u2", 2)], ["url", "v"])
    store.write_stage("tbl", base, key_col="url")
    batch = spark.createDataFrame([("u2", 20), ("u3", 30)], ["url", "v"])
    out = store.upsert_stage("tbl", batch, merge_keys=["url"])
    got = {r["url"]: r["v"] for r in out.collect()}
    assert got == {"u1": 1, "u2": 20, "u3": 30}
    # idempotent re-merge of the same batch changes nothing
    again = store.upsert_stage("tbl", batch, merge_keys=["url"])
    assert {r["url"]: r["v"] for r in again.collect()} == got
    assert store.is_committed("tbl")


def test_upsert_stage_crash_recovery(spark, tmp_path):
    """A kill between marker-removal and the directory swap leaves a
    completed .__merge_tmp (with the in-progress sentinel — the writer drops
    it BEFORE removing the marker, so every genuine mid-swap crash has it) —
    the retry must finish the swap (keeping the merged rows), never treat
    the stage as fresh."""
    import json
    import os
    import shutil

    from dedupe_archived_files_spark.plans.lineage import CheckpointStore

    root = str(tmp_path / "c")
    store = CheckpointStore(spark, root)
    base = spark.createDataFrame([("u1", 1), ("u2", 2)], ["url", "v"])
    store.write_stage("tbl", base, key_col="url")
    merged = spark.createDataFrame([("u1", 1), ("u2", 20), ("u3", 30)], ["url", "v"])
    # simulate the crash window: tmp fully written, sentinel down, marker
    # gone, dir gone (the writer's exact ordering)
    tmp = os.path.join(root, "tbl.__merge_tmp")
    merged.write.mode("overwrite").parquet(tmp)
    with open(os.path.join(root, "tbl.__merge_inprogress"), "w") as f:
        json.dump({"stage": "tbl"}, f)
    os.remove(os.path.join(root, "tbl._COMMITTED"))
    shutil.rmtree(os.path.join(root, "tbl"))
    # retrying with a new batch recovers the merge, then applies the batch
    batch = spark.createDataFrame([("u4", 40)], ["url", "v"])
    out = store.upsert_stage("tbl", batch, merge_keys=["url"])
    got = {r["url"]: r["v"] for r in out.collect()}
    assert got == {"u1": 1, "u2": 20, "u3": 30, "u4": 40}


def test_upsert_stage_post_rename_crash_recovery(spark, tmp_path):
    """ADVICE r3 (medium): a kill AFTER the tmp→live rename but BEFORE the
    marker rewrite leaves marker gone AND tmp gone — only the
    .__merge_inprogress sentinel distinguishes this from a never-committed
    stage. The retry must recommit the live dir (which already holds the
    merge result), never take the fresh-write branch that would drop every
    pre-merge row."""
    import json
    import os

    from dedupe_archived_files_spark.plans.lineage import CheckpointStore

    root = str(tmp_path / "pr")
    store = CheckpointStore(spark, root)
    base = spark.createDataFrame([("u1", 1), ("u2", 2)], ["url", "v"])
    store.write_stage("tbl", base, key_col="url")
    # simulate the post-rename window: live dir holds the merged rows,
    # sentinel present, marker gone, tmp gone
    merged = spark.createDataFrame([("u1", 1), ("u2", 20), ("u3", 30)], ["url", "v"])
    tmp = os.path.join(root, "tbl.__merge_tmp")
    merged.write.mode("overwrite").parquet(tmp)
    import shutil

    with open(os.path.join(root, "tbl.__merge_inprogress"), "w") as f:
        json.dump({"stage": "tbl"}, f)
    os.remove(os.path.join(root, "tbl._COMMITTED"))
    shutil.rmtree(os.path.join(root, "tbl"))
    os.rename(tmp, os.path.join(root, "tbl"))  # the rename completed
    # retrying with a new batch must keep u1/u2(merged)/u3 and add u4
    batch = spark.createDataFrame([("u4", 40)], ["url", "v"])
    out = store.upsert_stage("tbl", batch, merge_keys=["url"])
    got = {r["url"]: r["v"] for r in out.collect()}
    assert got == {"u1": 1, "u2": 20, "u3": 30, "u4": 40}
    assert store.is_committed("tbl")
    assert not os.path.exists(os.path.join(root, "tbl.__merge_inprogress"))


def test_incremental_pipeline_skips_unchanged_features(spark, pages_dfs, tmp_path):
    """VERDICT r3 #5(a): a re-crawl with N changed pages re-featurizes ONLY
    those rows. Proof is black-box: after the first run, one unchanged row's
    committed simhash is overwritten with a sentinel value; the incremental
    re-run must leave the sentinel in place (the row never went back through
    the featurize UDF) while re-crawled urls get fresh rows."""
    import os
    import shutil

    pages, _, _ = pages_dfs
    root = str(tmp_path / "inc")
    run_pipeline_checkpointed(pages, root, CFG)

    from dedupe_archived_files_spark.plans.lineage import CheckpointStore

    store = CheckpointStore(spark, root)
    stage_dir = os.path.join(root, "pages_text")
    committed = spark.read.parquet(stage_dir)
    recrawl = spark.createDataFrame(recrawl_snapshot(), schema=pages.schema)
    recrawled_urls = {r["url"] for r in recrawl.select("url").collect()}
    victim = (
        committed.filter(~F.col("url").isin(list(recrawled_urls)))
        .select("url")
        .orderBy("url")
        .first()["url"]
    )
    sentinel = 424242424242
    poisoned = committed.withColumn(
        "simhash",
        F.when(F.col("url") == victim, F.lit(sentinel)).otherwise(F.col("simhash")),
    )
    swap = stage_dir + ".__poison_tmp"
    poisoned.write.mode("overwrite").parquet(swap)
    shutil.rmtree(stage_dir)
    os.rename(swap, stage_dir)  # marker untouched: stage still committed

    snapshot2 = pages.unionByName(recrawl)
    run_pipeline_checkpointed(snapshot2, root, CFG)

    after = spark.read.parquet(stage_dir)
    # unchanged row kept its poisoned feature → it was NOT re-featurized
    assert after.filter(F.col("url") == victim).first()["simhash"] == sentinel
    # re-crawled urls were replaced (one row per url, newest warc_ts)
    assert after.count() == pages.count()
    new_ts = {
        r["url"]: r["warc_ts"]
        for r in after.filter(F.col("url").isin(list(recrawled_urls))).collect()
    }
    orig_ts = {
        r["url"]: r["warc_ts"]
        for r in pages.filter(F.col("url").isin(list(recrawled_urls)))
        .select("url", "warc_ts")
        .collect()
    }
    assert all(new_ts[u] > orig_ts[u] for u in recrawled_urls)


def test_incremental_pipeline_matches_from_scratch(spark, pages_dfs, tmp_path):
    """VERDICT r3 #5(b): incremental re-run output equals a from-scratch run
    over the per-url-latest snapshot."""
    pages, _, _ = pages_dfs
    root = str(tmp_path / "inc2")
    run_pipeline_checkpointed(pages, root, CFG)
    recrawl = spark.createDataFrame(recrawl_snapshot(), schema=pages.schema)
    snapshot2 = pages.unionByName(recrawl)
    inc = run_pipeline_checkpointed(snapshot2, root, CFG)
    inc_out = sorted((r["url"], r["cluster_id"]) for r in inc.collect())

    latest = last_writer_wins(snapshot2, ["url"], "warc_ts")
    scratch = run_pipeline_checkpointed(latest, str(tmp_path / "scratch"), CFG)
    scratch_out = sorted((r["url"], r["cluster_id"]) for r in scratch.collect())
    assert inc_out == scratch_out


@pytest.fixture(scope="module")
def latest_clusters(spark, pages_dfs, tmp_path_factory):
    """(url, cluster_id) rows of a from-scratch run over the per-url-latest
    snapshot of pages + the synth re-crawl."""
    pages, _, _ = pages_dfs
    recrawl = spark.createDataFrame(recrawl_snapshot(), schema=pages.schema)
    latest = last_writer_wins(pages.unionByName(recrawl), ["url"], "warc_ts")
    root = str(tmp_path_factory.mktemp("latest"))
    out = run_pipeline_checkpointed(latest, root, CFG)
    return sorted((r["url"], r["cluster_id"]) for r in out.collect())


def test_incremental_ignores_redelivered_older_capture(
    spark, pages_dfs, tmp_path, latest_clusters
):
    """A snapshot that delivers an older capture of a committed url again is
    not a change: the newer committed capture stays, and the clusters equal
    a from-scratch run over the per-url-latest snapshot."""
    pages, _, _ = pages_dfs
    root = str(tmp_path / "older")
    run_pipeline_checkpointed(pages, root, CFG)
    recrawl = spark.createDataFrame(recrawl_snapshot(), schema=pages.schema)
    run_pipeline_checkpointed(pages.unionByName(recrawl), root, CFG)
    out = run_pipeline_checkpointed(pages, root, CFG)

    recrawl_ts = {r["url"]: r["warc_ts"] for r in recrawl.collect()}
    stage = spark.read.parquet(f"{root}/pages_text")
    kept_ts = {
        r["url"]: r["warc_ts"]
        for r in stage.filter(F.col("url").isin(list(recrawl_ts))).collect()
    }
    assert len(recrawl_ts) == 10
    assert kept_ts == recrawl_ts
    assert sorted((r["url"], r["cluster_id"]) for r in out.collect()) == latest_clusters


def test_bucket_modulus_change_recomputes_downstream(
    spark, pages_dfs, tmp_path, latest_clusters
):
    """A root committed at another store_buckets takes the fallback both
    ways: the pages_text upsert rewrites the whole stage (migrating its
    layout), and edges and clusters are recomputed by the from-scratch body.
    Output equals a from-scratch run; every stage ends bucketed at the new
    modulus."""
    from dedupe_archived_files_spark.plans.lineage import CheckpointStore

    pages, _, _ = pages_dfs
    root = str(tmp_path / "modulus")
    run_pipeline_checkpointed(pages, root, PipelineConfig(store_buckets=8))
    store = CheckpointStore(spark, root)
    assert not store.scoped_merge_ok("edges", CFG.store_buckets)

    recrawl = spark.createDataFrame(recrawl_snapshot(), schema=pages.schema)
    out = run_pipeline_checkpointed(pages.unionByName(recrawl), root, CFG)
    assert sorted((r["url"], r["cluster_id"]) for r in out.collect()) == latest_clusters
    for stage in ("pages_text", "edges", "clusters"):
        assert store.is_committed(stage), stage
        assert store.scoped_merge_ok(stage, CFG.store_buckets), stage


def test_scoped_blocking_pair_volume(spark, pages_dfs):
    """VERDICT r4 #1(a): with restrict_urls = {one changed url}, candidate
    generation covers exactly the blocks containing that url — pair volume is
    O(members of changed blocks), not O(corpus). Exactness: every corpus pair
    TOUCHING the url must still be produced (a pair with a changed member
    shares one of its keys by definition)."""
    from collections import Counter

    from dedupe_archived_files_spark.operators.blocking import candidate_pairs
    from dedupe_archived_files_spark.operators.extract import extract_with_signature

    pages, _, _ = pages_dfs
    sig = extract_with_signature(pages, CFG).persist()
    full_pairs = {
        (r["url_a"], r["url_b"])
        for r in candidate_pairs(sig, CFG).collect()
    }
    # lowest-degree url with at least one pair: the 1-changed-page case the
    # scoped path exists for (a hot-block member would legitimately pull its
    # whole — still capped — block)
    deg = Counter()
    for a, b in full_pairs:
        deg[a] += 1
        deg[b] += 1
    victim = min(deg, key=lambda u: (deg[u], u))
    cu = spark.createDataFrame([(victim,)], ["url"])
    scoped_pairs = {
        (r["url_a"], r["url_b"])
        for r in candidate_pairs(sig, CFG, restrict_urls=cu).collect()
    }
    sig.unpersist()
    touching = {p for p in full_pairs if victim in p}
    assert touching and touching <= scoped_pairs
    assert scoped_pairs <= full_pairs
    # O(changed blocks) in practice: a small fraction of corpus-wide volume
    assert len(scoped_pairs) < len(full_pairs) / 5, (
        len(scoped_pairs),
        len(full_pairs),
    )


def test_incremental_edges_merged_not_recomputed(spark, pages_dfs, tmp_path):
    """VERDICT r4 #1: black-box proof the incremental branch never reruns
    blocking/scoring over the full corpus — a fake edge planted between two
    UNCHANGED urls in the committed edge stage survives the incremental
    re-run verbatim (the edge-stage MERGE carries unchanged-url edges over);
    a corpus-wide recompute would have dropped it. Stale edges touching
    re-crawled urls, by contrast, must be deleted."""
    import os

    from dedupe_archived_files_spark.plans.lineage import CheckpointStore

    pages, _, _ = pages_dfs
    root = str(tmp_path / "scopedinc")
    run_pipeline_checkpointed(pages, root, CFG)

    recrawl = spark.createDataFrame(recrawl_snapshot(), schema=pages.schema)
    recrawled = {r["url"] for r in recrawl.select("url").collect()}
    edges_dir = os.path.join(root, "edges")
    # the poison write below keeps the bucketed layout, so the re-run takes
    # the bucket-scoped edge MERGE
    edges0 = spark.read.parquet(edges_dir).drop("__bucket")
    adjacent = {u for r in edges0.collect() for u in (r["url_a"], r["url_b"])}
    candidates = sorted(
        r["url"]
        for r in pages.select("url").collect()
        if r["url"] not in recrawled and r["url"] not in adjacent
    )
    u, v = candidates[0], candidates[-1]
    fake = spark.createDataFrame(
        [(u, v, 0.5, "planted")], ["url_a", "url_b", "score", "channel"]
    ).select(*edges0.columns)
    # also plant a STALE edge from a re-crawled url — must not survive
    ru = sorted(recrawled)[0]
    stale = spark.createDataFrame(
        [(min(ru, u), max(ru, u), 0.5, "planted_stale")],
        ["url_a", "url_b", "score", "channel"],
    ).select(*edges0.columns)
    bucket = CheckpointStore._bucket_expr("url_a", CFG.store_buckets)
    _replace_bucketed(
        edges0.unionByName(fake).unionByName(stale).withColumn("__bucket", bucket),
        edges_dir,
    )

    snapshot2 = pages.unionByName(recrawl)
    run_pipeline_checkpointed(snapshot2, root, CFG)
    after = {
        (r["url_a"], r["url_b"]): r["channel"]
        for r in spark.read.parquet(edges_dir).collect()
    }
    assert after.get((u, v)) == "planted"  # unchanged-url edge carried over
    assert (min(ru, u), max(ru, u)) not in after  # stale edge deleted


def test_scoped_clusters_volume_and_equality(spark):
    """Clusters-stage scoping (the last skip-unchanged tier): CC re-runs only
    over components the delta touched — sub-edge volume is O(affected), and
    the merged labels equal a from-scratch CC over the merged edge table."""
    from dedupe_archived_files_spark.operators.clustering import (
        connected_components,
        resolve_clusters,
    )
    from dedupe_archived_files_spark.plans.pipeline import scoped_cluster_parts

    # old graph: chain {a1,a2,a3}, pair {b1,b2}, pair {c1,c2}, 50 fillers
    old_edges = (
        [("a1", "a2"), ("a2", "a3"), ("b1", "b2"), ("c1", "c2")]
        + [(f"f{i:02d}x", f"f{i:02d}y") for i in range(50)]
    )
    old_df = spark.createDataFrame(old_edges, ["url_a", "url_b"])
    old_clusters = resolve_clusters(connected_components(old_df, CFG))

    # delta: b1's content changed — its old edge (b1,b2) is deleted, and it
    # now matches c1 instead
    kept = old_df.filter(~((F.col("url_a") == "b1") | (F.col("url_b") == "b1")))
    fresh = spark.createDataFrame([("b1", "c1")], ["url_a", "url_b"])
    merged = kept.unionByName(fresh)
    changed = spark.createDataFrame([("b1",)], ["url"])
    fresh_urls = spark.createDataFrame([("b1",), ("c1",)], ["url"])

    stats: dict = {}
    aff_ids, fresh_labels = scoped_cluster_parts(
        old_clusters, merged, changed, fresh_urls, CFG, stats=stats
    )
    inc = (
        old_clusters.join(aff_ids, "cluster_id", "left_anti")
        .unionByName(fresh_labels)
        .select(*old_clusters.columns)
    )
    scratch = resolve_clusters(connected_components(merged, CFG))
    inc_rows = sorted(tuple(r) for r in inc.collect())
    scratch_rows = sorted(tuple(r) for r in scratch.collect())
    assert inc_rows == scratch_rows
    # volume: only the b and c components were touched (2 of 53); their
    # surviving edges are (c1,c2) + the fresh (b1,c1)
    assert stats["affected_components"] == 2
    assert stats["sub_edges"] == 2, stats


def test_incremental_clusters_carry_over_not_recomputed(spark, pages_dfs, tmp_path):
    """Black-box proof the incremental branch never re-runs CC over the full
    graph: a sentinel cluster_id planted on an UNCHANGED url (whose component
    the re-crawl does not touch) in the committed clusters stage survives the
    incremental re-run verbatim — a global recompute would overwrite it."""
    import os

    pages, _, _ = pages_dfs
    root = str(tmp_path / "scopedcc")
    run_pipeline_checkpointed(pages, root, CFG)

    recrawl = spark.createDataFrame(recrawl_snapshot(), schema=pages.schema)
    recrawled = {r["url"] for r in recrawl.select("url").collect()}
    clusters_dir = os.path.join(root, "clusters")
    clusters0 = spark.read.parquet(clusters_dir)
    # victim: a clustered url whose component contains no re-crawled url →
    # the delta cannot affect its component (fresh edges live inside changed
    # blocks; the synth recrawl's new content matches nothing else)
    comp_of = {r["url"]: r["cluster_id"] for r in clusters0.collect()}
    comp_members: dict = {}
    for u, cid in comp_of.items():
        comp_members.setdefault(cid, set()).add(u)
    victim = next(
        u
        for u in sorted(comp_of)
        if u not in recrawled and not (comp_members[comp_of[u]] & recrawled)
    )
    sentinel = "zzz://sentinel-cluster"
    poisoned = clusters0.withColumn(
        "cluster_id",
        F.when(F.col("url") == victim, F.lit(sentinel)).otherwise(
            F.col("cluster_id")
        ),
    )
    _replace_bucketed(poisoned, clusters_dir)  # keeps the bucketed layout

    snapshot2 = pages.unionByName(recrawl)
    run_pipeline_checkpointed(snapshot2, root, CFG)
    after = {
        r["url"]: r["cluster_id"]
        for r in spark.read.parquet(clusters_dir).collect()
    }
    # the unaffected component's rows were carried over verbatim, sentinel
    # included → CC never ran over that part of the graph
    assert after[victim] == sentinel


def test_read_stage_rejects_foreign_sig_space(spark, tmp_path):
    """A checkpoint written under a different signature derivation must not
    resume silently (ADVICE r2): wrong stamp → error; missing stamp with
    require_sig_space → error."""
    import pytest

    from dedupe_archived_files_spark.plans.lineage import CheckpointStore

    store = CheckpointStore(spark, str(tmp_path / "s"))
    foreign = spark.createDataFrame([("u1", "old.space.v0")], ["url", "sig_space"])
    store.write_stage("pages_text", foreign, key_col="url")
    with pytest.raises(ValueError, match="signature"):
        store.read_stage("pages_text")

    unstamped = spark.createDataFrame([("u1",)], ["url"])
    store.write_stage("legacy", unstamped, key_col="url")
    with pytest.raises(ValueError, match="sig_space"):
        store.read_stage("legacy", require_sig_space=True)
    # without the requirement, unstamped non-featurized stages read fine
    assert store.read_stage("legacy").count() == 1


def test_lineage_rows_written(spark, pages_dfs, tmp_path):
    from dedupe_archived_files_spark.plans.lineage import CheckpointStore

    pages, _, _ = pages_dfs
    root = str(tmp_path / "ckpt2")
    run_pipeline_checkpointed(pages, root, CFG)
    lineage = CheckpointStore(spark, root).lineage()
    stages = {r["stage"] for r in lineage.select("stage").distinct().collect()}
    assert stages == {"pages_text", "edges", "clusters"}
    edges_rows = lineage.filter(F.col("stage") == "edges").collect()
    assert all(len(r["score_histogram"]) == 10 for r in edges_rows)
    assert sum(r["row_count"] for r in edges_rows) > 0


def test_lineage_audit_and_drift(spark, pages_dfs, tmp_path):
    """VERDICT r4 #6: lineage is a queryable audit surface, not write-only.
    audit() rolls the per-partition rows up to one row per stage (volumes,
    partition skew, score histogram); audit_drift() compares two snapshots so
    a pair-count regression is visible as a number, not a vibe."""
    from dedupe_archived_files_spark.plans.lineage import CheckpointStore

    pages, _, _ = pages_dfs
    root = str(tmp_path / "audit")
    run_pipeline_checkpointed(pages, root, CFG)
    store = CheckpointStore(spark, root)
    a1 = {r["stage"]: r for r in store.audit().collect()}
    assert set(a1) == {"pages_text", "edges", "clusters"}
    assert a1["pages_text"]["row_count"] == pages.count()
    assert a1["edges"]["row_count"] > 0
    # edges rows carry scores → pair_count > 0 and the histogram sums to it
    assert a1["edges"]["pair_count"] > 0
    assert sum(a1["edges"]["score_histogram"]) == a1["edges"]["pair_count"]
    assert a1["edges"]["partition_skew"] >= 1.0

    prev = store.audit().toPandas()
    recrawl = spark.createDataFrame(recrawl_snapshot(), schema=pages.schema)
    run_pipeline_checkpointed(pages.unionByName(recrawl), root, CFG)
    drift = {
        r["stage"]: r
        for r in CheckpointStore.audit_drift(
            store.audit(), spark.createDataFrame(prev)
        ).collect()
    }
    # same url set re-crawled → pages_text row count unchanged, drift == 0
    assert drift["pages_text"]["row_drift"] == 0.0
    # edges drift is computed (recrawled content may add/remove matches)
    assert drift["edges"]["rows_prev"] == a1["edges"]["row_count"]
    assert drift["edges"]["rows_now"] is not None


def test_bucketed_upsert_rewrites_only_touched_buckets(spark, tmp_path):
    """Iceberg-file-granularity analogue on plain parquet: a bucketed stage's
    MERGE rewrites ONLY the directory buckets the delta's keys hash into.
    Untouched buckets' files are bit-for-bit untouched (same inodes/mtimes),
    so delta I/O is O(delta x corpus/n_buckets), not a full-stage rewrite."""
    import os

    from dedupe_archived_files_spark.plans.lineage import CheckpointStore

    root = str(tmp_path / "b")
    store = CheckpointStore(spark, root)
    base = spark.createDataFrame(
        [(f"u{i}", i) for i in range(40)], ["url", "v"]
    )
    store.write_stage("tbl", base, key_col="url", bucket_key="url", n_buckets=8)
    stage_dir = os.path.join(root, "tbl")
    buckets = sorted(n for n in os.listdir(stage_dir) if n.startswith("__bucket="))
    assert len(buckets) > 1  # 40 urls spread over 8 buckets

    def snapshot(b):
        d = os.path.join(stage_dir, b)
        return {f: os.stat(os.path.join(d, f)).st_mtime_ns for f in os.listdir(d)}

    before = {b: snapshot(b) for b in buckets}
    delta = spark.createDataFrame([("u3", 300), ("unew", 999)], ["url", "v"])
    out = store.upsert_stage(
        "tbl", delta, merge_keys=["url"], bucket_key="url", n_buckets=8
    )
    got = {r["url"]: r["v"] for r in out.collect()}
    expect = {f"u{i}": i for i in range(40)} | {"u3": 300, "unew": 999}
    assert got == expect
    assert "__bucket" not in out.columns  # bucket col is storage-internal

    # which buckets SHOULD have changed: where u3 / unew hash
    touched = {
        f"__bucket={r[0]}"
        for r in spark.createDataFrame([("u3",), ("unew",)], ["url"])
        .select(CheckpointStore._bucket_expr("url", 8))
        .collect()
    }
    after = {b: snapshot(b) for b in sorted(
        n for n in os.listdir(stage_dir) if n.startswith("__bucket="))}
    for b in buckets:
        if b not in touched:
            assert after[b] == before[b], f"untouched bucket {b} was rewritten"
    for b in touched:
        assert after[b] != before.get(b), f"touched bucket {b} was not rewritten"
    assert store.is_committed("tbl")


def test_bucketed_upsert_mid_swap_crash_recovery(spark, tmp_path):
    """A kill in the middle of the per-bucket rename loop leaves some touched
    buckets new and some still old (their merge results sitting in the scoped
    tmp). recover_upsert must finish exactly the remaining renames — never
    apply the full-swap recovery, which would drop every untouched bucket."""
    import json
    import os
    import shutil

    from pyspark.sql import functions as SF

    from dedupe_archived_files_spark.plans.lineage import CheckpointStore

    root = str(tmp_path / "bc")
    store = CheckpointStore(spark, root)
    base = spark.createDataFrame([(f"u{i}", i) for i in range(40)], ["url", "v"])
    store.write_stage("tbl", base, key_col="url", bucket_key="url", n_buckets=8)
    stage_dir = os.path.join(root, "tbl")

    # the delta and its merge result, exactly as _swap_commit_buckets builds it
    delta = spark.createDataFrame([("u3", 300), ("unew", 999)], ["url", "v"])
    d = delta.withColumn("__bucket", CheckpointStore._bucket_expr("url", 8))
    touched = sorted(r[0] for r in d.select("__bucket").distinct().collect())
    live = spark.read.parquet(stage_dir).filter(SF.col("__bucket").isin(touched))
    merged_touched = live.join(
        delta.select("url").distinct(), ["url"], "left_anti"
    ).unionByName(d.select(*live.columns))
    scoped_tmp = stage_dir + ".__merge_scoped_tmp"
    merged_touched.write.mode("overwrite").partitionBy("__bucket").parquet(scoped_tmp)

    # crash simulation: sentinel written, marker removed, FIRST touched
    # bucket already renamed into place, second still in tmp
    with open(stage_dir + ".__merge_inprogress", "w") as f:
        json.dump({"stage": "tbl", "scoped": True, "buckets": touched}, f)
    os.remove(os.path.join(root, "tbl._COMMITTED"))
    first = f"__bucket={touched[0]}"
    shutil.rmtree(os.path.join(stage_dir, first))
    os.rename(os.path.join(scoped_tmp, first), os.path.join(stage_dir, first))

    assert store.recover_upsert("tbl", lineage_key="url")
    assert store.is_committed("tbl")
    got = {r["url"]: r["v"] for r in store.read_stage("tbl").collect()}
    assert got == {f"u{i}": i for i in range(40)} | {"u3": 300, "unew": 999}
    assert not os.path.exists(scoped_tmp)
    assert not os.path.exists(stage_dir + ".__merge_inprogress")


def test_unbucketed_stage_migrates_to_bucketed_on_upsert(spark, tmp_path):
    """A committed pre-bucketing checkpoint upserted with a bucket_key is
    migrated (one full rewrite) to the bucketed layout; the NEXT upsert is
    then scoped. Contents are identical throughout."""
    import os

    from dedupe_archived_files_spark.plans.lineage import CheckpointStore

    root = str(tmp_path / "mig")
    store = CheckpointStore(spark, root)
    base = spark.createDataFrame([(f"u{i}", i) for i in range(10)], ["url", "v"])
    store.write_stage("tbl", base, key_col="url")  # unbucketed
    assert not store._is_bucketed("tbl")
    d1 = spark.createDataFrame([("u1", 100)], ["url", "v"])
    out = store.upsert_stage("tbl", d1, merge_keys=["url"], bucket_key="url", n_buckets=4)
    assert store._is_bucketed("tbl")
    assert {r["url"]: r["v"] for r in out.collect()} == (
        {f"u{i}": i for i in range(10)} | {"u1": 100}
    )
    d2 = spark.createDataFrame([("u2", 200)], ["url", "v"])
    out2 = store.upsert_stage("tbl", d2, merge_keys=["url"], bucket_key="url", n_buckets=4)
    assert {r["url"]: r["v"] for r in out2.collect()} == (
        {f"u{i}": i for i in range(10)} | {"u1": 100, "u2": 200}
    )


def test_scoped_upsert_scopes_lineage_too(spark, tmp_path):
    """Lineage I/O mirrors data I/O on a scoped merge: untouched buckets'
    lineage rows are carried over VERBATIM (same snapshot_id — never
    recomputed from their data files), touched buckets get fresh rows, and
    the audit totals stay exact."""
    from dedupe_archived_files_spark.plans.lineage import CheckpointStore

    root = str(tmp_path / "ls")
    store = CheckpointStore(spark, root)
    base = spark.createDataFrame([(f"u{i}", i) for i in range(40)], ["url", "v"])
    store.write_stage("tbl", base, key_col="url", bucket_key="url", n_buckets=8)
    ln0 = {
        r["partition_id"]: r
        for r in store.lineage().filter("stage = 'tbl'").collect()
    }
    assert sum(r["row_count"] for r in ln0.values()) == 40

    delta = spark.createDataFrame([("u3", 300), ("unew", 999)], ["url", "v"])
    store.upsert_stage("tbl", delta, merge_keys=["url"], bucket_key="url", n_buckets=8)
    touched = {
        r[0]
        for r in spark.createDataFrame([("u3",), ("unew",)], ["url"])
        .select(CheckpointStore._bucket_expr("url", 8))
        .collect()
    }
    ln1 = {
        r["partition_id"]: r
        for r in store.lineage().filter("stage = 'tbl'").collect()
    }
    # one lineage row per bucket, totals exact (40 urls + 1 new)
    assert set(ln1) == set(ln0) | touched
    assert sum(r["row_count"] for r in ln1.values()) == 41
    for pid, row in ln1.items():
        if pid in touched:
            assert row["snapshot_id"] > ln0[pid]["snapshot_id"] if pid in ln0 else True
        else:
            # carried verbatim: same snapshot, same counts
            assert row["snapshot_id"] == ln0[pid]["snapshot_id"]
            assert row["row_count"] == ln0[pid]["row_count"]
    # audit() over the mixed (fresh + carried) rows still reconciles
    a = {r["stage"]: r for r in store.audit().collect()}
    assert a["tbl"]["row_count"] == 41
    assert a["tbl"]["n_partitions"] == len(ln1)


def test_delta_run_rewrites_only_touched_buckets_all_stages(
    spark, pages_dfs, tmp_path
):
    """The whole-pipeline I/O contract: an incremental re-run's WRITE volume
    is bucket-scoped at every tier — pages_text (keyed upsert), edges and
    clusters (delete+insert replace_scoped) — so a 10-url delta leaves most
    bucket dirs of every stage bit-for-bit untouched. Output correctness for
    the same scenario is covered by
    test_incremental_pipeline_matches_from_scratch."""
    import os

    pages, _, _ = pages_dfs
    root = str(tmp_path / "io")
    run_pipeline_checkpointed(pages, root, CFG)

    def snap(stage):
        d = os.path.join(root, stage)
        out = {}
        for b in os.listdir(d):
            if not b.startswith("__bucket="):
                continue
            bd = os.path.join(d, b)
            out[b] = {
                f: os.stat(os.path.join(bd, f)).st_mtime_ns
                for f in os.listdir(bd)
            }
        return out

    stages = ["pages_text", "edges", "clusters"]
    before = {s: snap(s) for s in stages}
    for s in stages:
        assert len(before[s]) > 1, f"stage {s} not bucketed"

    recrawl = spark.createDataFrame(recrawl_snapshot(), schema=pages.schema)
    run_pipeline_checkpointed(pages.unionByName(recrawl), root, CFG)
    after = {s: snap(s) for s in stages}

    for s in stages:
        untouched = [
            b
            for b in before[s]
            if b in after[s] and after[s][b] == before[s][b]
        ]
        rewritten = [
            b for b in set(before[s]) | set(after[s]) if b not in untouched
        ]
        # the delta is 10 urls: most buckets must survive untouched at every
        # stage, and SOMETHING must have been rewritten (content changed)
        assert untouched, f"stage {s}: every bucket was rewritten"
        assert rewritten, f"stage {s}: nothing was rewritten"
        assert len(untouched) > len(before[s]) / 2, (
            s,
            len(untouched),
            len(before[s]),
        )


def test_replace_scoped_delete_insert_and_emptied_bucket(spark, tmp_path):
    """replace_scoped is the delete+insert MERGE the edge/cluster stages use:
    doomed rows (an arbitrary predicate over the live stage, NOT derivable
    from the delta's keys) are deleted, fresh rows inserted, and ONLY the
    bucket dirs holding doomed or fresh rows rewrite. A bucket whose every
    row is doomed with no fresh replacement must have its dir REMOVED (not
    survive with stale rows), and untouched buckets stay bit-for-bit."""
    import os

    from dedupe_archived_files_spark.plans.lineage import CheckpointStore

    root = str(tmp_path / "rs")
    store = CheckpointStore(spark, root)
    base = spark.createDataFrame([(f"u{i}", i) for i in range(40)], ["url", "v"])
    store.write_stage("tbl", base, key_col="url", bucket_key="url", n_buckets=8)
    stage_dir = os.path.join(root, "tbl")

    by_bucket: dict = {}
    for r in (
        spark.createDataFrame([(f"u{i}",) for i in range(40)], ["url"])
        .select("url", CheckpointStore._bucket_expr("url", 8).alias("b"))
        .collect()
    ):
        by_bucket.setdefault(r["b"], []).append(r["url"])
    victim_b, victim_urls = sorted(by_bucket.items())[0]

    def bucket_of(u: str) -> int:
        return (
            spark.createDataFrame([(u,)], ["url"])
            .select(CheckpointStore._bucket_expr("url", 8))
            .first()[0]
        )

    fresh_url = next(
        u for u in ("unew1", "unew2", "unew3") if bucket_of(u) != victim_b
    )
    fresh_b = bucket_of(fresh_url)

    def snap():
        out = {}
        for b in os.listdir(stage_dir):
            if not b.startswith("__bucket="):
                continue
            d = os.path.join(stage_dir, b)
            out[b] = {f: os.stat(os.path.join(d, f)).st_mtime_ns for f in os.listdir(d)}
        return out

    before = snap()
    fresh = spark.createDataFrame([(fresh_url, 999)], ["url", "v"])
    out = store.replace_scoped(
        "tbl",
        fresh,
        doomed_fn=lambda live: live.filter(F.col("url").isin(victim_urls)),
        row_keys=["url"],
        bucket_key="url",
        n_buckets=8,
        lineage_key="url",
    )
    got = {r["url"]: r["v"] for r in out.collect()}
    expect = {
        f"u{i}": i for i in range(40) if f"u{i}" not in victim_urls
    } | {fresh_url: 999}
    assert got == expect
    assert not os.path.exists(
        os.path.join(stage_dir, f"__bucket={victim_b}")
    ), "fully-doomed bucket dir must be removed"
    after = snap()
    for b in before:
        if b not in (f"__bucket={victim_b}", f"__bucket={fresh_b}"):
            assert after[b] == before[b], f"untouched bucket {b} rewritten"
    assert store.is_committed("tbl")

    # zero-touched path: empty doomed + empty fresh after the caller's guard
    # invalidated the marker -> recommit in place, contents unchanged
    store.invalidate("tbl")
    out2 = store.replace_scoped(
        "tbl",
        spark.createDataFrame([], base.schema),
        doomed_fn=lambda live: live.limit(0),
        row_keys=["url"],
        bucket_key="url",
        n_buckets=8,
        lineage_key="url",
    )
    assert store.is_committed("tbl")
    assert {r["url"]: r["v"] for r in out2.collect()} == expect
    assert snap() == after


def test_replace_scoped_emptied_bucket_crash_recovery(spark, tmp_path):
    """Crash window unique to the delete+insert merge: the scoped tmp is
    complete but holds NO dir for a bucket whose merge result is empty.
    Recovery must learn the emptied set from the sentinel (absence-from-tmp
    is ambiguous once renames begin) and delete that live bucket dir, or its
    doomed rows silently survive."""
    import json
    import os

    from dedupe_archived_files_spark.plans.lineage import CheckpointStore

    root = str(tmp_path / "rsc")
    store = CheckpointStore(spark, root)
    base = spark.createDataFrame([(f"u{i}", i) for i in range(40)], ["url", "v"])
    store.write_stage("tbl", base, key_col="url", bucket_key="url", n_buckets=8)
    stage_dir = os.path.join(root, "tbl")

    by_bucket: dict = {}
    for r in (
        spark.createDataFrame([(f"u{i}",) for i in range(40)], ["url"])
        .select("url", CheckpointStore._bucket_expr("url", 8).alias("b"))
        .collect()
    ):
        by_bucket.setdefault(r["b"], []).append(r["url"])
    victim_b, victim_urls = sorted(by_bucket.items())[0]
    fresh_b, fresh_urls = sorted(by_bucket.items())[1]

    # merge result: victim bucket emptied; fresh bucket rewritten with one
    # value bumped — written to the scoped tmp exactly as the writer would
    merged = (
        spark.read.parquet(stage_dir)
        .filter(F.col("__bucket") == fresh_b)
        .withColumn(
            "v",
            F.when(F.col("url") == fresh_urls[0], F.lit(7777)).otherwise(
                F.col("v")
            ),
        )
    )
    scoped_tmp = stage_dir + ".__merge_scoped_tmp"
    merged.write.mode("overwrite").partitionBy("__bucket").parquet(scoped_tmp)
    with open(stage_dir + ".__merge_inprogress", "w") as f:
        json.dump(
            {
                "stage": "tbl",
                "scoped": True,
                "buckets": [victim_b, fresh_b],
                "empty_buckets": [victim_b],
            },
            f,
        )
    os.remove(os.path.join(root, "tbl._COMMITTED"))
    # crash here: no deletion, no rename has happened yet

    assert store.recover_upsert("tbl", lineage_key="url")
    assert store.is_committed("tbl")
    got = {r["url"]: r["v"] for r in store.read_stage("tbl").collect()}
    expect = {
        f"u{i}": i for i in range(40) if f"u{i}" not in victim_urls
    } | {fresh_urls[0]: 7777}
    assert got == expect
    assert not os.path.exists(os.path.join(stage_dir, f"__bucket={victim_b}"))
    assert not os.path.exists(scoped_tmp)


def test_recover_never_resurrects_unvouched_tmp(spark, tmp_path):
    """A leftover merge tmp with NO in-progress sentinel must never be
    renamed over the live stage: the writers' ordering guarantees every
    genuine mid-swap crash leaves the sentinel, so an unvouched tmp is a
    stale orphan from BEFORE a later full rewrite — resurrecting it would
    silently roll that rewrite back. recover_upsert deletes it instead."""
    import os

    from dedupe_archived_files_spark.plans.lineage import CheckpointStore

    root = str(tmp_path / "orphan")
    store = CheckpointStore(spark, root)
    stale = spark.createDataFrame([("u_old", 1)], ["url", "v"])
    current = spark.createDataFrame([(f"u{i}", i) for i in range(5)], ["url", "v"])
    store.write_stage("tbl", current, key_col="url")
    stage_dir = os.path.join(root, "tbl")
    # plant an orphan tmp holding STALE (complete, _SUCCESS-marked) data,
    # then invalidate the marker the way the pipeline's stale-downstream
    # guard does — the exact window the resurrection bug lived in
    stale.write.mode("overwrite").parquet(stage_dir + ".__merge_tmp")
    store.invalidate("tbl")

    assert not store.recover_upsert("tbl", lineage_key="url")
    assert not os.path.exists(stage_dir + ".__merge_tmp")
    got = {r["url"]: r["v"] for r in spark.read.parquet(stage_dir).collect()}
    assert got == {f"u{i}": i for i in range(5)}, "live data must be intact"
    # write_stage also sweeps orphans before a fresh overwrite
    stale.write.mode("overwrite").parquet(stage_dir + ".__merge_scoped_tmp")
    store.write_stage("tbl", current, key_col="url")
    assert not os.path.exists(stage_dir + ".__merge_scoped_tmp")


def test_bucket_layout_mismatch_forces_migration(spark, tmp_path):
    """Changing n_buckets between runs must never scope a merge against the
    old modulus (the delta would prune to the WRONG dirs and doomed rows
    would survive unread): the stamped layout gates the scoped paths, a
    mismatched upsert migrates via full rewrite, and replace_scoped refuses
    outright."""
    import os

    import pytest as _pytest

    from dedupe_archived_files_spark.plans.lineage import CheckpointStore

    root = str(tmp_path / "layout")
    store = CheckpointStore(spark, root)
    base = spark.createDataFrame([(f"u{i}", i) for i in range(40)], ["url", "v"])
    store.write_stage("tbl", base, key_col="url", bucket_key="url", n_buckets=8)
    assert store._bucket_layout("tbl") == 8
    assert store.scoped_merge_ok("tbl", 8)
    assert not store.scoped_merge_ok("tbl", 4)

    with _pytest.raises(ValueError, match="layout"):
        store.replace_scoped(
            "tbl",
            spark.createDataFrame([("unew", 1)], ["url", "v"]),
            doomed_fn=lambda live: live.limit(0),
            row_keys=["url"],
            bucket_key="url",
            n_buckets=4,
        )

    # upsert at the new modulus self-heals: full migration rewrite, correct
    # contents, layout restamped — scoped merges work again at n=4
    delta = spark.createDataFrame([("u3", 300)], ["url", "v"])
    out = store.upsert_stage("tbl", delta, merge_keys=["url"], bucket_key="url", n_buckets=4)
    assert {r["url"]: r["v"] for r in out.collect()} == (
        {f"u{i}": i for i in range(40)} | {"u3": 300}
    )
    assert store._bucket_layout("tbl") == 4
    assert store.scoped_merge_ok("tbl", 4)
    stage_dir = os.path.join(root, "tbl")
    n_dirs = sum(1 for n in os.listdir(stage_dir) if n.startswith("__bucket="))
    assert 1 < n_dirs <= 4
