"""Incremental / resumable scanning — the reference's only time-aware behavior
(SURVEY.md §2.3 J4-J6, §4 'incremental computation/memoization'):

* J6 — skip unchanged inputs: an archive whose (mtime, size) matches its
  lineage row is not rescanned (core/scanner.py:119-134; models.py:56-60).
  Here: anti-join the input snapshot on url against the processed watermark
  table, keeping rows newer than the processed capture of their url.
* J4 — hash-cache probe: reuse stored hashes when (mtime, size) unchanged
  (core/scanner.py:332-339; database.py:160-175). Here: left join against the
  previous pages_text checkpoint + coalesce.
* J5 — selection-state decoration: per-match user decision with a default
  (core/database.py:287-296; scanner.py:354-356).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def new_or_changed(pages: DataFrame, processed: DataFrame) -> DataFrame:
    """J6: rows of `pages` newer than the committed work.

    `processed` carries (url, warc_ts) of completed work. A row is kept when
    its url was never processed, or when its warc_ts is newer than the
    processed capture of its url — a re-crawl is reprocessed, exactly the
    reference's needs_rescan (models.py:56-60: mtime/size change ⇒ rescan).
    An older capture delivered again (a snapshot replaying history) is not
    "changed": reprocessing it would overwrite the newer committed row."""
    done = processed.select(
        F.col("url").alias("__done_url"), F.col("warc_ts").alias("__done_ts")
    )
    return pages.join(
        done,
        (F.col("url") == F.col("__done_url"))
        & (F.col("__done_ts") >= F.col("warc_ts")),
        "left_anti",
    )


def reuse_cached_hashes(pages: DataFrame, cached: DataFrame) -> DataFrame:
    """J4: decorate the input with previously computed hashes where the
    (url, warc_ts) identity is unchanged; rows without a valid cache entry
    keep null hashes and flow to the (expensive) extract+hash stage.

    Returns pages + (cached_full_hash, cached_quick_hash, cache_hit)."""
    c = cached.select(
        "url",
        "warc_ts",
        F.col("full_hash").alias("cached_full_hash"),
        F.col("quick_hash").alias("cached_quick_hash"),
    )
    return (
        pages.join(c, on=["url", "warc_ts"], how="left")
        .withColumn("cache_hit", F.col("cached_full_hash").isNotNull())
    )


def decorate_selection(
    matches: DataFrame, selections: DataFrame, default_selected: bool
) -> DataFrame:
    """J5: left join persisted per-match decisions, defaulting to
    `default_selected` (reference auto_select_duplicates, scanner.py:354-356).

    `selections` schema: (full_hash, target_url, selected boolean)."""
    s = selections.select(
        "full_hash", F.col("target_url"), F.col("selected").alias("stored_selected")
    )
    return (
        matches.join(s, on=["full_hash", "target_url"], how="left")
        .withColumn(
            "selected", F.coalesce(F.col("stored_selected"), F.lit(default_selected))
        )
        .drop("stored_selected")
    )


def last_writer_wins(df: DataFrame, key_cols: list[str], ts_col: str) -> DataFrame:
    """A6 made deterministic: the reference's INSERT OR REPLACE keeps the last
    row written per key, which under parallelism is nondeterministic
    (core/database.py:195-208; SURVEY.md §7.4). Here: max timestamp wins,
    ties broken by a total order over all remaining columns via a single
    window — same per-key single-winner contract, reproducible on any
    cluster."""
    from pyspark.sql import Window

    order = [F.col(ts_col).desc()] + [
        F.col(c).desc() for c in df.columns if c not in key_cols and c != ts_col
    ]
    w = Window.partitionBy(*key_cols).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def plan_deletions(
    matches_selected: DataFrame, dry_run: bool = True
) -> DataFrame:
    """S14 re-expressed: the final 'action' is an actions DataFrame
    (target_url, action, status, reason) — side effects stay OUT of the engine
    (reference FileOperations.delete_files, core/file_ops.py:22-76, performs
    them; a Spark job must not). Dry-run marks rows it would delete
    (file_ops.py dry_run contract: report, touch nothing)."""
    action = F.when(F.col("selected"), F.lit("delete")).otherwise(F.lit("keep"))
    status = F.when(
        F.col("selected"), F.lit("planned" if dry_run else "committed")
    ).otherwise(F.lit("skipped"))
    return matches_selected.select(
        F.col("target_url"),
        action.alias("action"),
        status.alias("status"),
        F.lit(None).cast("string").alias("reason"),
    )
