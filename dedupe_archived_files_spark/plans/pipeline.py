"""The five-stage resolution pipeline (SURVEY.md §7.1):

    pages ─extract→ pages_text ─block→ candidates ─score→ edges
          ─cluster→ labels ─resolve→ clusters

Design notes for 100 TB:
* the exact channel NEVER generates pairs — identical content is grouped by
  one hash-groupBy and contributes star edges (member → group-min), linear in
  group size even for a million-copy viral page;
* probabilistic channels (quick/url/LSH) generate pairs only inside capped
  blocks (operators.blocking), then verify with exact Jaccard (reference
  J2→J3 block-then-verify, core/scanner.py:366-387);
* `html`/`text` columns are dropped before any shuffle-heavy stage.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dedupe_archived_files_spark.config import PipelineConfig
from dedupe_archived_files_spark.operators.blocking import (
    blocking_products,
    candidate_pairs,
)
from dedupe_archived_files_spark.operators.clustering import (
    connected_components,
    resolve_clusters,
)
from dedupe_archived_files_spark.operators.dedupe import exact_duplicate_clusters
from dedupe_archived_files_spark.operators.extract import (
    extract_pages,
    extract_with_signature,
)
from dedupe_archived_files_spark.operators.scoring import pair_features, verified_edges


@dataclass
class PipelineResult:
    pages_text: DataFrame
    candidates: DataFrame
    edges: DataFrame
    labels: DataFrame
    clusters: DataFrame
    oversized: DataFrame


def exact_star_edges(pages_text: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Exact-duplicate groups → star edges (member, group-min). Linear in
    group size: no quadratic pair explosion on viral pages (SURVEY.md §7.1)."""
    groups = exact_duplicate_clusters(pages_text, cfg)
    return (
        groups.select("canonical_url", F.explode("urls").alias("url"))
        .filter(F.col("url") != F.col("canonical_url"))
        .select(
            F.col("canonical_url").alias("url_a"),
            F.col("url").alias("url_b"),
            F.lit(1.0).alias("score"),
            F.lit("exact").alias("channel"),
        )
    )


def assemble_edges(
    sig: DataFrame,
    cand: DataFrame,
    cfg: PipelineConfig,
    exact_sig: DataFrame | None = None,
) -> DataFrame:
    """The edge stage: verified near edges over the candidate pairs ``cand``
    ∪ exact star edges over ``exact_sig`` (default: all of ``sig``), one row
    per (url_a, url_b)."""
    near = verified_edges(pair_features(sig, cand), cfg).select(
        "url_a", "url_b", "score", "channel"
    )
    exact = exact_star_edges(sig if exact_sig is None else exact_sig, cfg)
    return near.unionByName(exact).dropDuplicates(["url_a", "url_b"])


def run_pipeline(pages: DataFrame, cfg: PipelineConfig | None = None) -> PipelineResult:
    cfg = (cfg or PipelineConfig()).validated()
    # Scale-adaptive parallelism floor (optimization r6, guide §2.2/§6): a
    # single-row-group parquet input scans as ONE task, which would serialize
    # the fused extract+featurize UDF on one core; redistribute once when the
    # input has fewer partitions than the cluster's default parallelism
    # (identity at production scale — see queries._spread).
    from dedupe_archived_files_spark.queries import _spread

    # Cost-based split sizing (~256 KiB compressed input per task): the
    # pipeline fans into ~15 downstream stages that all re-read the cached
    # stage output, so per-task scheduling overhead multiplies — measured at
    # sf0.1/local[32], 8 input partitions beat 32 by ~1.5 s end-to-end while
    # sf1.0 ties; the byte-based target picks both automatically and clamps
    # to defaultParallelism on bigger inputs.
    pages = _spread(pages, bytes_per_task=256 << 10)
    # Stages 1+2 fused: extraction + shingling + MinHash + SimHash + title in
    # ONE Python crossing (operators.extract.extract_with_signature).
    # Stage-boundary materialization: every stage output below is consumed by
    # more than one downstream subtree (sig → block keys AND pair features
    # AND exact groups; candidates → pair join AND the url semi-join prune).
    # persist(), NOT localCheckpoint: the columnar in-memory cache
    # (InMemoryRelation) supports COLUMN PRUNING at scan time, so blocking
    # reads only (url, hashes, band_keys) and never deserializes text /
    # shingle arrays — a localCheckpoint pins row-format RDDs that every
    # consumer must fully deserialize (measured 2x blocking-stage cost at
    # 400k pages). On a real deployment these pins are the per-stage parquet
    # writes of run_pipeline_checkpointed (same pruning property).
    full = extract_with_signature(pages, cfg)
    # The pipeline's working frame is SLIM: `text` (the fattest column) and
    # `signature` (1 KB/row; band_keys already encode the LSH view of it) are
    # dropped before the cache — matching never reads either, and the
    # columnar cache build was dominated by them at 1.2M pages. The
    # full-width frame stays available lazily as pages_text (re-runs the
    # extract UDF if scanned — on a real deployment it is the stage-1 parquet
    # table, where the pipeline reads only the slim columns anyway).
    sig = full.drop("text", "signature").persist()
    # Eager stage barrier: downstream subtrees (block keys / exact groups /
    # feature join) are INDEPENDENT query stages that AQE submits
    # concurrently; against an unmaterialized cache each would recompute the
    # UDF partitions it needs (observed as duplicated Python work + "Block
    # already exists" races). One cheap count() builds the cache exactly once.
    n_docs = sig.count()
    pages_text = full

    # n_docs sizes the blocking agg's repartition by data volume (see
    # operators.blocking + config.agg_keys_per_partition)
    cand, big = blocking_products(sig, cfg, n_docs=n_docs)
    cand = cand.persist()
    # same barrier rationale: cand feeds the pair join AND the url semi-join
    # prune — two subtrees of one downstream query that AQE schedules
    # concurrently, each otherwise recomputing the whole blocking subtree
    cand.count()
    # Materialize edges once: the CC loop and any downstream consumer would
    # otherwise re-run extraction + blocking + scoring per action.
    edges = assemble_edges(sig, cand, cfg).persist()
    edges.count()

    labels = connected_components(edges.select("url_a", "url_b"), cfg)
    clusters = resolve_clusters(labels)
    return PipelineResult(
        pages_text=pages_text,
        candidates=cand,
        edges=edges,
        labels=labels,
        clusters=clusters,
        oversized=big,
    )


def scoped_fresh_edges(
    sig: DataFrame,
    changed_urls: DataFrame,
    old_hashes: DataFrame,
    cfg: PipelineConfig,
    old_keys: DataFrame | None = None,
) -> DataFrame:
    """The INSERT half of the edge-stage MERGE of a delta run (VERDICT r4 #1):
    given the merged feature stage ``sig`` and the changed/new urls, the edges
    the delta can add — WITHOUT a corpus-wide blocking+scoring pass. This is
    the reference's skip-unchanged economics (core/scanner.py:119-134,
    :332-339) applied to the match tier.

    The DELETE half is the caller's doomed-row predicate for
    ``CheckpointStore.replace_scoped``: every committed edge touching a
    changed url goes, because its content was replaced. Edges between two
    unchanged urls are kept verbatim: pair candidacy depends only on the two
    members' own block keys and verification only on their own content, both
    unchanged.

    * Near channels: candidate pairs are generated only inside blocks whose
      membership the delta touched — blocks containing a changed url under
      its new keys (``restrict_urls`` pushdown in operators.blocking — exact:
      a pair with a changed member must share one of the changed member's
      keys) plus blocks the changed url LEFT (``old_keys``: its pre-change
      block keys — a block that shrank back under the cap regains its
      pairs), then scored/verified as usual. Pair and scoring volume is
      O(members of changed blocks), not O(corpus) — the gate test plants one
      changed page and asserts the candidate count.
    * Exact channel: star edges are rebuilt for every full_hash group
      containing a changed url — under BOTH its new hash and its pre-change
      hash (``old_hashes``): if the changed url was the group's canonical
      (min url), all of that group's old star edges touched it and were
      deleted, so the survivors need fresh edges under a new canonical.

    Equality with from-scratch holds at the cluster level (CC output; the
    per-edge union order is nondeterministic in both forms). One documented
    divergence: a block that crosses ``max_block_size`` only because delta
    members joined it is capped for NEW pair generation, while its
    previously verified edges are retained — strictly higher recall than the
    from-scratch form, which drops the whole block.
    """
    cu = changed_urls.select("url").distinct()
    cand = candidate_pairs(sig, cfg, restrict_urls=cu, restrict_keys=old_keys)
    touched_hashes = (
        sig.join(cu, "url", "left_semi")
        .select("full_hash")
        .unionByName(old_hashes.select("full_hash"))
        .distinct()
    )
    sig_exact = sig.join(touched_hashes, "full_hash", "left_semi")
    return assemble_edges(sig, cand, cfg, exact_sig=sig_exact)


def scoped_cluster_parts(
    old_clusters: DataFrame,
    edges: DataFrame,
    changed_urls: DataFrame,
    fresh_urls: DataFrame,
    cfg: PipelineConfig,
    stats: dict | None = None,
) -> tuple[DataFrame, DataFrame]:
    """The clusters-stage MERGE of a delta run — the last tier of the
    reference's skip-unchanged economics (core/scanner.py:119-134): after the
    edge-stage MERGE, re-run connected components ONLY over the components
    the delta can possibly have changed. Returns ``(aff_ids, fresh)``:
    ``aff_ids`` is the affected component ids (eagerly pinned, O(affected
    components)) whose member rows are stale — the DELETE key — and
    ``fresh`` is the recomputed labels for the affected subgraph — the
    INSERT rows. Every other component's labels carry over verbatim:
    ``old_clusters`` minus the ``aff_ids`` rows, plus ``fresh``, is the new
    clusters table (``CheckpointStore.replace_scoped`` writes it bucket-scoped).

    Soundness: committed edges connect urls within ONE old component (that is
    what CC means), so component membership can change only for components
    containing a changed url or an endpoint of an inserted edge
    (``fresh_urls``; deleted edges touch changed urls, so their components
    are already covered). ``target`` = members of those affected components
    ∪ the touched urls themselves (covers urls with no previous label: new
    urls, previous singletons) — everything O(changed blocks), not O(corpus).

    The subgraph filter is one semi-join of the edge table against ``target``
    on url_a alone — exact, because a kept edge lies entirely inside one old
    component (url_a affected ⇔ the edge's component is affected) and every
    inserted edge has BOTH endpoints in ``target``. ``target`` is
    delta-sized, so the join broadcasts: the full edge table is scanned once
    but never shuffled, and the O(log n) CC rounds run only on the affected
    subgraph (usually the driver union-find fast path). Labels equal the
    from-scratch form because component ids are content-derived (min member
    url), not history-dependent.

    Degenerate case (delta touches most of the corpus): ``target``
    approaches the corpus and this converges to the full recompute it
    replaces — never worse asymptotically."""
    touch = changed_urls.select("url").unionByName(fresh_urls.select("url")).distinct()
    aff_ids = (
        old_clusters.join(touch, "url", "left_semi")
        .select("cluster_id")
        .distinct()
        .localCheckpoint(eager=True)  # O(affected components); reused 2x
    )
    aff_members = old_clusters.join(
        F.broadcast(aff_ids), "cluster_id", "left_semi"
    ).select("url")
    target = (
        aff_members.unionByName(touch).distinct().localCheckpoint(eager=True)
    )
    sub_edges = edges.join(
        F.broadcast(target.select(F.col("url").alias("url_a"))),
        "url_a",
        "left_semi",
    )
    if stats is not None:
        stats["sub_edges"] = sub_edges.count()
        stats["affected_components"] = aff_ids.count()
    sub_labels = connected_components(sub_edges.select("url_a", "url_b"), cfg)
    return aff_ids, resolve_clusters(sub_labels)


def _merge_delta(
    store, todo: DataFrame, committed: DataFrame, cfg: PipelineConfig
) -> DataFrame | None:
    """Upsert the delta rows ``todo`` into the committed pages_text, then
    MERGE edges and clusters bucket-scoped where their committed state
    allows it. Returns the merged clusters, or None when a downstream stage
    was left uncommitted for the from-scratch body to recompute."""
    from dedupe_archived_files_spark.operators.blocking import block_keys

    n_buckets = cfg.store_buckets
    # Pin the delta's identity BEFORE the upsert: both frames' plans read the
    # committed pages_text parquet, whose files the upsert atomically
    # REPLACES — evaluated afterwards they would see the merged data
    # (changed_urls would come back empty, old_hashes would return the NEW
    # hashes). Both are O(changed rows), so the eager pin is cheap.
    changed_urls = todo.select("url").distinct().localCheckpoint(eager=True)
    old_hashes = (
        committed.join(changed_urls, "url", "left_semi")
        .select("full_hash")
        .distinct()
        .localCheckpoint(eager=True)
    )
    # the changed urls' PRE-change block keys: blocks they are about to LEAVE
    # also change membership and must be re-evaluated (see scoped_fresh_edges)
    old_keys = (
        block_keys(committed.join(changed_urls, "url", "left_semi"), cfg)
        .select("channel", "key")
        .distinct()
        .localCheckpoint(eager=True)
    )
    # Scoped edge maintenance needs the PRE-upsert edge table; only use it
    # when that table was actually committed. Scoped CLUSTER maintenance
    # additionally needs the committed clusters to be CONSISTENT with those
    # edges — both markers present at entry means the last complete run wrote
    # both (edges commits before clusters), so the old labels describe
    # exactly the old edge set.
    edges_scoped_ok = store.is_committed("edges")
    clusters_scoped_ok = edges_scoped_ok and store.is_committed("clusters")
    # stale-downstream guard: uncommit BEFORE the upsert so a crash between
    # the upsert and the edge merge cannot resume the old edges against the
    # new features
    store.invalidate("clusters")
    store.invalidate("edges")
    pages_text = store.upsert_stage(
        "pages_text",
        extract_with_signature(todo, cfg),
        merge_keys=["url"],
        bucket_key="url",
        n_buckets=n_buckets,
    )
    if not (edges_scoped_ok and store.scoped_merge_ok("edges", n_buckets)):
        return None
    # scoped recompute + bucket-scoped edge MERGE: blocking/scoring run only
    # over blocks touching a changed url (compute scoped), and the store
    # rewrites only the url_a-hash buckets holding doomed or fresh edges (I/O
    # scoped) — committed edges between unchanged urls keep their parquet
    # files and lineage rows verbatim. Eager pin: fresh is O(changed blocks)
    # and is consumed three times (bucket discovery, the merge write,
    # fresh_urls).
    fresh_e = scoped_fresh_edges(
        pages_text, changed_urls, old_hashes, cfg, old_keys=old_keys
    ).localCheckpoint(eager=True)

    def _edges_doomed(live: DataFrame) -> DataFrame:
        # DELETE: every committed edge touching a changed url — the match can
        # be on EITHER endpoint (overlap between the two semi-joins is fine:
        # replace_scoped dedups keys)
        return live.join(
            F.broadcast(changed_urls.select(F.col("url").alias("url_a"))),
            "url_a",
            "left_semi",
        ).unionByName(
            live.join(
                F.broadcast(changed_urls.select(F.col("url").alias("url_b"))),
                "url_b",
                "left_semi",
            ).select(*live.columns)
        )

    edges = store.replace_scoped(
        "edges",
        fresh_e,
        doomed_fn=_edges_doomed,
        row_keys=["url_a", "url_b"],
        bucket_key="url_a",
        n_buckets=n_buckets,
        lineage_key="url_a",
    )
    if not (clusters_scoped_ok and store.scoped_merge_ok("clusters", n_buckets)):
        return None
    # clusters-stage MERGE: CC re-runs only over components the delta
    # touched; unaffected labels carry over. Only the url-hash buckets
    # holding relabeled or doomed rows rewrite.
    fresh_urls = (
        fresh_e.select(F.col("url_a").alias("url"))
        .unionByName(fresh_e.select(F.col("url_b").alias("url")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # Direct dir read (not read_stage): the marker was invalidated above by
    # the stale-downstream guard; clusters_scoped_ok pinned its pre-guard
    # validity
    old_clusters = store.spark.read.parquet(store._dir("clusters")).drop(
        store.BUCKET_COL
    )
    aff_ids, fresh_labels = scoped_cluster_parts(
        old_clusters, edges, changed_urls, fresh_urls, cfg
    )
    # eager pin: O(affected members) rows, consumed twice (bucket discovery +
    # the merge write) and its plan runs the scoped CC — don't run it twice
    fresh_labels = fresh_labels.localCheckpoint(eager=True)
    return store.replace_scoped(
        "clusters",
        fresh_labels,
        doomed_fn=lambda live: live.join(
            F.broadcast(aff_ids), "cluster_id", "left_semi"
        ),
        row_keys=["url"],
        bucket_key="url",
        n_buckets=n_buckets,
        lineage_key="cluster_id",
    )


def run_pipeline_checkpointed(
    pages: DataFrame,
    checkpoint_root: str,
    cfg: PipelineConfig | None = None,
) -> DataFrame:
    """Resumable, incremental variant: each stage commits to the
    CheckpointStore and a rerun skips every committed stage (reference J6
    semantics — unchanged inputs are not rescanned, core/scanner.py:119-134).
    Returns the clusters DataFrame.

    Delta run (VERDICT r3 #5): when pages_text is committed and the snapshot
    holds rows newer than it (new urls, or a url whose ``warc_ts`` is newer
    than its committed capture — ``operators.incremental.new_or_changed``),
    ONLY those rows go through the Python extract+featurize UDF and are
    MERGE-upserted into pages_text keyed by ``url`` (re-crawl replaces, like
    the reference's per-archive rescan). Each downstream stage then has one
    of two outcomes:

    1. MERGEd bucket-scoped (``CheckpointStore.replace_scoped``), when it was
       committed at entry and its data dir is bucketed at
       ``cfg.store_buckets``. Edges rerun blocking + scoring only over the
       blocks a changed url is in or left (``scoped_fresh_edges``), so N
       changed rows cost O(changed blocks), not a corpus-wide pass. Clusters,
       once the edges were MERGEd, rerun connected components only over the
       components the delta touched (``scoped_cluster_parts``); every other
       component's labels carry over verbatim.
    2. Otherwise recomputed from its committed input by the from-scratch
       ``resume_or_compute`` body — the path of a first run, which reads back
       every stage still committed (the upserted pages_text, the MERGEd
       edges).

    The committed state holds ONE row per url (latest warc_ts wins; an older
    capture delivered again is not "changed"), and the output equals a
    from-scratch run over the per-url-latest snapshot at every tier.

    Kill-safety contract (FIXTURES.md §4): stages are committed atomically
    (data → lineage → marker); downstream markers are invalidated BEFORE the
    upstream upsert, so a kill anywhere leaves either the old consistent
    state or a resumable one — a rerun recomputes from the first uncommitted
    stage and the final output is identical.
    """
    from dedupe_archived_files_spark.operators.incremental import (
        last_writer_wins,
        new_or_changed,
    )
    from dedupe_archived_files_spark.plans.lineage import CheckpointStore
    from dedupe_archived_files_spark.queries import _spread

    cfg = (cfg or PipelineConfig()).validated()
    store = CheckpointStore(pages.sparkSession, checkpoint_root)

    # finish any upsert that died mid-swap before reading commit state
    store.recover_upsert("pages_text", lineage_key="full_hash")
    if store.is_committed("pages_text"):
        committed = store.read_stage("pages_text", require_sig_space=True)
        todo = last_writer_wins(
            new_or_changed(pages, committed), ["url"], "warc_ts"
        )
        if todo.limit(1).count():
            merged = _merge_delta(store, todo, committed, cfg)
            if merged is not None:
                return merged

    # the committed stage IS the fused extract+signature output (parquet with
    # the hash/shingle/signature columns), so a resumed run skips the Python
    # UDF work entirely
    # require_sig_space: a resumed featurized checkpoint MUST carry the
    # engine's current signature-space stamp — an old-derivation checkpoint
    # (or one predating the stamp) would silently disable the simhash gate
    # and produce join-incompatible band keys.
    pages_text = store.resume_or_compute(
        "pages_text",
        lambda: extract_with_signature(_spread(pages), cfg),
        key_col="full_hash",
        require_sig_space=True,
        # bucketed layout (url-hash directory buckets) so later incremental
        # MERGEs rewrite only delta-touched buckets, not the whole stage
        bucket_key="url",
        n_buckets=cfg.store_buckets,
    )
    edges = store.resume_or_compute(
        "edges",
        # stage input is parquet-backed: count() answers from footer stats
        # (session sets parquet.aggregatePushdown) and sizes the blocking agg
        lambda: assemble_edges(
            pages_text,
            candidate_pairs(pages_text, cfg, n_docs=pages_text.count()),
            cfg,
        ),
        key_col="url_a",
        # url_a-hash buckets: incremental edge MERGEs rewrite only buckets
        # holding doomed/fresh edges (CheckpointStore.replace_scoped)
        bucket_key="url_a",
        n_buckets=cfg.store_buckets,
    )
    return store.resume_or_compute(
        "clusters",
        lambda: resolve_clusters(
            connected_components(edges.select("url_a", "url_b"), cfg)
        ),
        key_col="cluster_id",
        bucket_key="url",
        n_buckets=cfg.store_buckets,
    )


def evaluate_f1(labels: DataFrame, labeled_pairs: DataFrame) -> dict:
    """Pairwise precision/recall/F1 on the labeled-pairs set: predicted dup
    iff both urls land in the same component (urls absent from `labels` are
    singletons). This is the BASELINE.json F1 gate."""
    la = labels.select(F.col("url").alias("url_a"), F.col("component").alias("comp_a"))
    lb = labels.select(F.col("url").alias("url_b"), F.col("component").alias("comp_b"))
    joined = (
        labeled_pairs.join(la, "url_a", "left")
        .join(lb, "url_b", "left")
        .withColumn(
            "pred",
            F.col("comp_a").isNotNull()
            & F.col("comp_b").isNotNull()
            & (F.col("comp_a") == F.col("comp_b")),
        )
    )
    agg = joined.agg(
        F.sum((F.col("pred") & F.col("is_dup")).cast("long")).alias("tp"),
        F.sum((F.col("pred") & ~F.col("is_dup")).cast("long")).alias("fp"),
        F.sum((~F.col("pred") & F.col("is_dup")).cast("long")).alias("fn"),
    ).collect()[0]
    tp, fp, fn = agg["tp"] or 0, agg["fp"] or 0, agg["fn"] or 0
    precision = tp / (tp + fp) if tp + fp else 1.0
    recall = tp / (tp + fn) if tp + fn else 1.0
    f1 = 2 * precision * recall / (precision + recall) if precision + recall else 0.0
    return {"tp": tp, "fp": fp, "fn": fn, "precision": precision, "recall": recall, "f1": f1}
