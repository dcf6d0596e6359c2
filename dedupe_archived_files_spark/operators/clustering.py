"""Stage 4 — cluster: match edges → connected components.

Iterative large-star/small-star connected components (Kiveris et al.,
"Connected Components in MapReduce and Beyond", public algorithm) as a
driver-side DataFrame loop — the Spark analogue of the reference's bounded
recursive expansion loop (nested-archive recursion with a depth cap,
core/extractor.py:68,102-104; SURVEY.md S10).

Why this algorithm at 100 TB: label propagation converges in O(diameter)
shuffles; large-star/small-star converges in O(log n) rounds even on
path-shaped components, each round a groupBy + join on the node key. Every
iteration `localCheckpoint`s to truncate the lineage (otherwise the plan tree
grows exponentially across iterations).

Node ids are urls (strings — min() is a total order); components are labeled
by their minimum member, which also becomes the canonical url (deterministic,
replacing the reference's order-dependent last-wins, core/database.py:195-208).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dedupe_archived_files_spark.config import PipelineConfig


# Hard cap on large-star/small-star rounds. The alternation converges in
# O(log^2 n) rounds (Kiveris et al.) and in practice ~log2 n: a 200k-node
# shuffled-label path needs 16, so 64 is far above any real graph. Hitting
# it means a bug, so it raises rather than returning partial labels.
CC_MAX_ROUNDS = 64


def _symmetric(edges: DataFrame) -> DataFrame:
    fwd = edges.select(F.col("url_a").alias("u"), F.col("url_b").alias("v"))
    rev = edges.select(F.col("url_b").alias("u"), F.col("url_a").alias("v"))
    return fwd.unionByName(rev)


def _large_star(edges: DataFrame) -> DataFrame:
    """Connect every strictly-larger neighbor of u to min(N(u) ∪ {u}).

    Symmetrizes internally — each round's input is a directed edge list, and
    neighborhoods must see both directions."""
    sym = _symmetric(edges.select(F.col("u").alias("url_a"), F.col("v").alias("url_b"))).distinct()
    mins = sym.groupBy("u").agg(F.min("v").alias("mv"))
    mins = mins.withColumn("m", F.least(F.col("u"), F.col("mv"))).select("u", "m")
    return (
        sym.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Orient edges high→low; connect all smaller neighbors (and u) to the min."""
    oriented = (
        edges.select(
            F.greatest(F.col("u"), F.col("v")).alias("u"),
            F.least(F.col("u"), F.col("v")).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    mins = oriented.groupBy("u").agg(F.min("v").alias("m"))
    nbr = (
        oriented.join(mins, "u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    self_edge = mins.select(F.col("u"), F.col("m").alias("v"))
    return (
        nbr.unionByName(self_edge)
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _checksum(edges: DataFrame) -> tuple[int, int]:
    # order-insensitive content signature; hashes reduced mod 1e9+7 so the sum
    # can't overflow a long under ANSI mode (~9e9 edges of headroom)
    row = edges.agg(
        F.count("*").alias("n"),
        F.coalesce(F.sum(F.xxhash64("u", "v") % F.lit(1_000_000_007)), F.lit(0)).alias("h"),
    ).collect()[0]
    return row["n"], row["h"]


def _driver_union_find(edges: DataFrame) -> DataFrame:
    """Exact driver-side connected components for edge sets under the
    adaptive threshold. Vectorized (optimization r6, guide §4.2/§6): edges
    arrive in ONE Arrow `toPandas` transfer (the per-row py4j collect
    measured 12.7 s for 4M edges vs ~1 s with Arrow), node ids are
    hash-factorized (no sort; works for string urls and long doc ids alike),
    and labels converge by numpy min-label propagation with pointer jumping
    (~3 passes on the clique-heavy graphs dedup produces; 4M edges in
    ~0.6 s vs 3.3 s for the dict union-find loop it replaces). The component
    representative — the minimum member by VALUE — comes from one pandas
    groupby-min, so output is identical to both the old loop and the
    distributed path: component = min reachable node."""
    import numpy as np
    import pandas as pd

    spark = edges.sparkSession
    out_type = edges.schema["u"].dataType
    schema = T.StructType([
        T.StructField("url", out_type, False),
        T.StructField("component", out_type, False),
    ])
    pdf = edges.select("u", "v").toPandas()
    if not len(pdf):
        return spark.createDataFrame([], schema)
    codes, uniq = pd.factorize(
        pd.concat([pdf["u"], pdf["v"]], ignore_index=True), sort=False
    )
    n = len(pdf)
    ui, vi = codes[:n], codes[n:]
    lab = np.arange(len(uniq), dtype=np.int64)
    while True:
        old = lab
        m = np.minimum(lab[ui], lab[vi])
        lab = lab.copy()
        np.minimum.at(lab, ui, m)
        np.minimum.at(lab, vi, m)
        while True:  # pointer jumping to the round's fixpoint
            nxt = lab[lab]
            if np.array_equal(nxt, lab):
                break
            lab = nxt
        if np.array_equal(lab, old):
            break
    members = pd.Series(uniq)
    rep = members.groupby(lab).transform("min")
    return spark.createDataFrame(
        pd.DataFrame({"url": members, "component": rep}), schema
    )


def connected_components(edges: DataFrame, cfg: PipelineConfig | None = None) -> DataFrame:
    """edges(url_a, url_b) → labels(url, component) where component is the
    minimum url reachable. Runs alternating large-star/small-star until the
    edge set is stable; a loop still changing after CC_MAX_ROUNDS rounds
    raises instead of returning partial labels. Edge sets below
    cfg.cc_driver_threshold take the exact driver union-find fast path
    (AQE-spirit adaptivity: pick the physical strategy by observed size)."""
    cfg = cfg or PipelineConfig()
    spark = edges.sparkSession

    cur = (
        edges.select(F.col("url_a").alias("u"), F.col("url_b").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        # materialize BEFORE the adaptive size probe (optimization r6): the
        # probe's count() previously evaluated the full upstream edge
        # generation once, and the chosen path then evaluated it AGAIN —
        # both paths consume the edge set anyway, so pinning it first makes
        # the probe free and every consumer read materialized rows.
        .localCheckpoint(eager=True)
    )
    if cfg.cc_driver_threshold and cur.count() <= cfg.cc_driver_threshold:
        return _driver_union_find(cur)
    prev_sig = None
    for _ in range(CC_MAX_ROUNDS):
        cur = _small_star(_large_star(cur)).localCheckpoint(eager=True)
        sig = _checksum(cur)
        if sig == prev_sig:
            break
        prev_sig = sig
    else:
        raise RuntimeError(
            f"connected components did not converge in {CC_MAX_ROUNDS} rounds"
        )

    # After convergence every edge is (node, root); nodes that ARE roots appear
    # only on the right side — add their self-labels.
    labels = cur.select(F.col("u").alias("url"), F.col("v").alias("component"))
    roots = cur.select(F.col("v").alias("url")).distinct().withColumn(
        "component", F.col("url")
    )
    all_labels = labels.unionByName(roots).groupBy("url").agg(
        F.min("component").alias("component")
    )
    return all_labels


def resolve_clusters(labels: DataFrame) -> DataFrame:
    """Stage 5 — resolve: labels → schema.CLUSTERS rows. Canonical member =
    the component label itself (min url). Group formation is the reference's
    A1 rollup (core/scanner.py:255-261) keyed by component."""
    return labels.select(
        "url",
        F.col("component").alias("cluster_id"),
        F.col("component").alias("canonical_url"),
    )


def cluster_summary(labels: DataFrame) -> DataFrame:
    """Per-cluster rollup (A1/A3/A4 analogues): size + members."""
    return (
        labels.groupBy(F.col("component").alias("cluster_id"))
        .agg(
            F.count("*").alias("cluster_size"),
            F.sort_array(F.collect_list("url")).alias("urls"),
        )
        .filter(F.col("cluster_size") >= 2)
    )
