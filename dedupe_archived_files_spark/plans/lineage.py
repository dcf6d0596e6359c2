"""Checkpointed stages + per-partition lineage (north rule: every stage
checkpoints with per-partition lineage rows so a killed run resumes from the
last committed stage).

Storage: parquet directories under cfg.checkpoint_dir with an atomic _COMMITTED
marker per stage (Iceberg would give this via snapshots — its jars are not in
this image, so the store is format-agnostic behind this module; swap
`_write`/`_read` for `writeTo(...).append()` on a real deployment).

Lineage rows mirror the reference's `archives` bookkeeping table
(core/database.py:50-58: what was scanned, when, how many files) extended per
FIXTURES.md §4 with block-key ranges and score histograms.
"""

from __future__ import annotations

import json
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class CheckpointStore:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    # -- stage data -----------------------------------------------------------
    def _dir(self, stage: str) -> str:
        return os.path.join(self.root, stage)

    def _marker(self, stage: str) -> str:
        return os.path.join(self.root, f"{stage}._COMMITTED")

    def is_committed(self, stage: str) -> bool:
        return os.path.exists(self._marker(stage))

    def invalidate(self, stage: str) -> None:
        """Uncommit a stage (marker removal only — data stays for debugging).
        Used by the incremental pipeline to mark downstream stages stale
        BEFORE upserting an upstream one, so a crash between the two can
        never resume a stale downstream checkpoint."""
        marker = self._marker(stage)
        if os.path.exists(marker):
            os.remove(marker)

    # -- bucketing (Iceberg file-granularity analogue) -------------------------
    BUCKET_COL = "__bucket"

    @staticmethod
    def _bucket_expr(bucket_key: str, n_buckets: int):
        return F.pmod(F.xxhash64(F.col(bucket_key)), F.lit(n_buckets)).cast("int")

    def _is_bucketed(self, stage: str) -> bool:
        path = self._dir(stage)
        if not os.path.isdir(path):
            return False
        return any(n.startswith(f"{self.BUCKET_COL}=") for n in os.listdir(path))

    # The committed bucket modulus travels WITH the data (underscore-prefixed
    # → invisible to Spark's parquet reader): a scoped merge that hashed its
    # delta with a DIFFERENT n_buckets than the layout on disk would prune to
    # the wrong dirs and leave doomed rows alive in unread buckets — so every
    # scoped path validates the layout first and falls back to a full
    # (migrating) rewrite on any mismatch. A bucketed dir WITHOUT the file
    # (pre-layout-stamp engine) reads as None ≠ any n, forcing one clean
    # migration rewrite that stamps it.
    _LAYOUT_FILE = "_bucket_layout.json"

    def _write_layout(self, data_dir: str, n_buckets: int) -> None:
        with open(os.path.join(data_dir, self._LAYOUT_FILE), "w") as f:
            json.dump({"bucket_key_space": "xxhash64_pmod", "n_buckets": n_buckets}, f)

    def _bucket_layout(self, stage: str) -> int | None:
        try:
            with open(os.path.join(self._dir(stage), self._LAYOUT_FILE)) as f:
                return int(json.load(f)["n_buckets"])
        except (OSError, ValueError, KeyError, TypeError):
            return None

    def scoped_merge_ok(self, stage: str, n_buckets: int) -> bool:
        """True iff the stage's on-disk layout supports a bucket-scoped
        merge at this modulus: complete data dir, bucketed, and the stamped
        layout matches ``n_buckets``."""
        return (
            os.path.exists(os.path.join(self._dir(stage), "_SUCCESS"))
            and self._is_bucketed(stage)
            and self._bucket_layout(stage) == n_buckets
        )

    def write_stage(
        self,
        stage: str,
        df: DataFrame,
        key_col: str | None = None,
        bucket_key: str | None = None,
        n_buckets: int = 64,
    ) -> DataFrame:
        """Write a stage output + lineage, atomically: data first, lineage
        second, marker last. A crash between any two leaves the stage
        uncommitted → rerun redoes the whole stage (idempotent overwrite).

        ``bucket_key``: hash-partition the stage into ``n_buckets`` directory
        buckets on that column — the plain-parquet analogue of Iceberg's
        file-level granularity. A later :meth:`upsert_stage` with the same
        ``bucket_key`` then rewrites ONLY the buckets the delta touches
        (O(delta × corpus/n_buckets) I/O) instead of the whole stage."""
        path = self._dir(stage)
        # a FULL overwrite makes any leftover merge tmp/sentinel stale by
        # definition — drop them now, or a later recovery could resurrect a
        # pre-overwrite tmp over this commit (rolling it back silently)
        for d in (path + ".__merge_tmp", path + ".__merge_scoped_tmp"):
            if os.path.exists(d):
                shutil.rmtree(d)
        stale_sentinel = path + ".__merge_inprogress"
        if os.path.exists(stale_sentinel):
            os.remove(stale_sentinel)
        if bucket_key is not None:
            (
                df.withColumn(self.BUCKET_COL, self._bucket_expr(bucket_key, n_buckets))
                .write.mode("overwrite")
                .partitionBy(self.BUCKET_COL)
                .parquet(path)
            )
            self._write_layout(path, n_buckets)
        else:
            df.write.mode("overwrite").parquet(path)
        out = self.spark.read.parquet(path)
        self._write_lineage(stage, out, key_col)
        with open(self._marker(stage), "w") as f:
            json.dump({"stage": stage, "committed_at": time.time()}, f)
        return out.drop(self.BUCKET_COL)

    def read_stage(self, stage: str, require_sig_space: bool = False) -> DataFrame:
        if not self.is_committed(stage):
            raise FileNotFoundError(f"stage '{stage}' is not committed")
        df = self.spark.read.parquet(self._dir(stage))
        # Signature-space guard: a checkpoint written under a DIFFERENT
        # feature derivation (older engine version; foreign job) must not
        # resume silently — its band keys / simhash are join-incompatible
        # with freshly computed ones and the miss is a silent false negative.
        # One-row probe, not a scan: stages commit atomically, so every row
        # carries the same stamp.
        from dedupe_archived_files_spark.functions.minhash import SIGNATURE_SPACE

        if "sig_space" in df.columns:
            row = df.select("sig_space").first()
            found = row[0] if row is not None else None
            if found is not None and found != SIGNATURE_SPACE:
                raise ValueError(
                    f"checkpoint stage '{stage}' was written under signature "
                    f"space '{found}' but this engine derives "
                    f"'{SIGNATURE_SPACE}' — delete the stage (or its marker) "
                    f"to recompute it"
                )
        elif require_sig_space:
            raise ValueError(
                f"checkpoint stage '{stage}' has no sig_space column (written "
                f"by an engine predating signature-space stamping) — delete "
                f"the stage to recompute under '{SIGNATURE_SPACE}'"
            )
        return df.drop(self.BUCKET_COL)

    def resume_or_compute(
        self,
        stage: str,
        compute,
        key_col: str | None = None,
        require_sig_space: bool = False,
        bucket_key: str | None = None,
        n_buckets: int = 64,
    ) -> DataFrame:
        """The resume primitive: committed → read back (skip recompute,
        reference J6 semantics); else compute, commit, return."""
        if self.is_committed(stage):
            return self.read_stage(stage, require_sig_space=require_sig_space)
        return self.write_stage(
            stage, compute(), key_col, bucket_key=bucket_key, n_buckets=n_buckets
        )

    # -- upsert (MERGE INTO analogue) -----------------------------------------
    def upsert_stage(
        self,
        stage: str,
        df: DataFrame,
        merge_keys: list[str],
        bucket_key: str | None = None,
        n_buckets: int = 64,
    ) -> DataFrame:
        """MERGE-shaped upsert: rows of ``df`` REPLACE committed rows sharing
        the same ``merge_keys`` values; unmatched rows append. On Iceberg this
        whole method is one transactional statement::

            MERGE INTO tgt USING src ON <merge_keys>
            WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *

        The parquet implementation makes the same contract out of
        anti-join + union + an atomic directory swap:

        1. merged = (existing ⟕̸ src on keys) ∪ src  → written to a sibling
           ``.__merge_tmp`` dir (full result, _SUCCESS on completion);
        2. ``.__merge_inprogress`` sentinel dropped, THEN marker removed
           (stage now formally uncommitted, but the sentinel records that an
           upsert — not a fresh write — owns the window);
        3. old dir removed, tmp renamed into place (atomic on POSIX);
        4. lineage + marker rewritten, sentinel removed.

        Kill-safety: a crash before (2) leaves the old committed data intact
        (tmp is garbage or, if complete, merged on top of the committed
        state — idempotent either way); a crash in (2)-(3) is recovered by
        the completed-tmp check below (tmp holds the full merge result, the
        retry finishes the swap); a crash AFTER the rename but before the
        marker rewrite — marker gone AND tmp gone — is recovered via the
        sentinel: sentinel + live ``_SUCCESS`` data dir means the rename
        completed and the live dir already IS the merge result, so the retry
        recommits it instead of treating the stage as fresh (which would
        drop every pre-merge row)."""
        self.recover_upsert(stage, lineage_key=merge_keys[0])

        if not self.is_committed(stage):
            return self.write_stage(
                stage, df, merge_keys[0], bucket_key=bucket_key, n_buckets=n_buckets
            )

        if bucket_key is not None and self.scoped_merge_ok(stage, n_buckets):
            # Scoped MERGE (Iceberg file-level economics on plain parquet):
            # rewrite ONLY the directory buckets the delta touches. The
            # untouched buckets' parquet files are never read OR written —
            # delta I/O is O(delta × corpus/n_buckets), not O(corpus).
            # Eager pin: the delta's plan can be expensive (the incremental
            # pipeline passes the featurize UDF over new/changed rows) and is
            # consumed twice (bucket discovery + the merge write) — without
            # the pin both consumers re-run it.
            expr = self._bucket_expr(bucket_key, n_buckets)
            delta = df.withColumn(self.BUCKET_COL, expr).localCheckpoint(
                eager=True
            )
            touched = sorted(
                r[0]
                for r in delta.select(self.BUCKET_COL).distinct().collect()
            )
            live = self.spark.read.parquet(self._dir(stage)).filter(
                F.col(self.BUCKET_COL).isin(touched)  # directory pruning
            )
            kept = live.join(
                delta.select(*merge_keys).distinct(), merge_keys, "left_anti"
            )
            merged_touched = kept.unionByName(
                delta.select(*kept.columns)  # align column order
            )
            return self._swap_commit_buckets(
                stage, merged_touched, touched, merge_keys[0]
            )

        # full MERGE: the committed stage is unbucketed, or bucketed under a
        # different modulus (scoped_merge_ok refused) — one full rewrite, which
        # also migrates it to the requested layout (scoped thereafter).
        # read_stage only for its signature-space check of the rows on disk.
        self.read_stage(stage)
        delta = df.localCheckpoint(eager=True)  # consumed twice below
        return self.rewrite_stage(
            stage,
            lambda existing: existing.join(
                delta.select(*merge_keys).distinct(), merge_keys, "left_anti"
            ).unionByName(delta),
            key_col=merge_keys[0],
            bucket_key=bucket_key,
            n_buckets=n_buckets,
        )

    def replace_scoped(
        self,
        stage: str,
        fresh: DataFrame,
        doomed_fn,
        row_keys: list[str],
        bucket_key: str,
        n_buckets: int,
        lineage_key: str | None = None,
    ) -> DataFrame:
        """Delete+insert MERGE with bucket-scoped I/O — the general form
        :meth:`upsert_stage` is the keyed special case of. Semantics::

            DELETE FROM stage WHERE <row is in doomed_fn(stage)>;
            INSERT INTO stage SELECT * FROM fresh;

        ``doomed_fn(live_df)`` returns the subset of live rows to delete
        (identified by ``row_keys``); ``fresh`` holds the rows to insert.
        Unlike the keyed upsert, the doomed set is NOT derivable from the
        delta's keys alone (e.g. deleting every edge that TOUCHES a changed
        url — the match can be on either endpoint, while the bucket key is
        only ``url_a``), so touched-bucket discovery costs one column-pruned
        scan of the live stage (``row_keys`` + the bucket partition column;
        never the fat payload columns) — exactly Iceberg MERGE's
        find-matching-files pass. The WRITE then rewrites only
        buckets(doomed) ∪ buckets(fresh); untouched buckets keep their files
        and lineage rows verbatim.

        Rows present in both the kept set and ``fresh`` under the same
        ``row_keys`` are deduplicated (a scoped recompute may regenerate an
        unchanged row it was not required to delete); both copies are
        content-identical by construction, so the survivor is arbitrary.

        Requires a complete (``_SUCCESS``), bucketed data dir whose stamped
        layout matches ``n_buckets`` (:meth:`scoped_merge_ok`) — like
        :meth:`rewrite_stage`, the commit MARKER may have been invalidated by
        the caller's stale-downstream guard (markers are re-written by this
        merge's own commit). The incremental pipeline recomputes the stage
        in full otherwise."""
        self.recover_upsert(stage, lineage_key=lineage_key)
        if not self.scoped_merge_ok(stage, n_buckets):
            raise ValueError(
                f"replace_scoped requires a complete bucketed stage dir whose "
                f"stamped layout matches n_buckets={n_buckets}; '{stage}' "
                f"(layout={self._bucket_layout(stage)}) is not — use "
                f"rewrite_stage(bucket_key=...) to migrate first"
            )
        live = self.spark.read.parquet(self._dir(stage))
        # eager pins: both frames are small (O(doomed keys) / O(fresh rows))
        # and consumed twice — bucket discovery and the merge write
        doomed_keys = (
            doomed_fn(live)
            .select(self.BUCKET_COL, *row_keys)
            .distinct()
            .localCheckpoint(eager=True)
        )
        fresh_b = fresh.withColumn(
            self.BUCKET_COL, self._bucket_expr(bucket_key, n_buckets)
        ).localCheckpoint(eager=True)
        # pin the touched-bucket ids BEFORE any write (the plans read the
        # live files the swap replaces); both sides are small: ≤ n_buckets
        touched = sorted(
            {
                r[0]
                for r in doomed_keys.select(self.BUCKET_COL)
                .distinct()
                .collect()
            }
            | {
                r[0]
                for r in fresh_b.select(self.BUCKET_COL)
                .distinct()
                .collect()
            }
        )
        if not touched:
            # zero buckets hold doomed or fresh rows: contents are already
            # correct, but the caller's stale-downstream guard invalidated
            # the marker — re-commit it in place (data + lineage unchanged)
            out = self.spark.read.parquet(self._dir(stage))
            with open(self._marker(stage), "w") as f:
                json.dump({"stage": stage, "committed_at": time.time()}, f)
            return out.drop(self.BUCKET_COL)
        live_t = live.filter(F.col(self.BUCKET_COL).isin(touched))
        kept_t = live_t.join(
            doomed_keys.select(*row_keys).distinct(), row_keys, "left_anti"
        )
        merged_touched = kept_t.unionByName(
            fresh_b.select(*kept_t.columns)
        ).dropDuplicates(row_keys)
        return self._swap_commit_buckets(
            stage, merged_touched, touched, lineage_key
        )

    def rewrite_stage(
        self,
        stage: str,
        rewrite_fn,
        key_col: str | None = None,
        bucket_key: str | None = None,
        n_buckets: int = 64,
    ) -> DataFrame:
        """Read-modify-write commit: ``rewrite_fn(existing_df_or_None)``
        returns the stage's FULL new contents, derived from (and lazily
        reading) its current parquet files. The result goes through the same
        tmp-dir + sentinel + atomic-rename swap as :meth:`upsert_stage`, so
        the plan can safely scan the very files it replaces (the scan happens
        while writing the tmp dir; the live dir is untouched until the
        rename) and every upsert crash window is covered identically.

        ``existing`` is passed even when the stage's marker was invalidated
        by the caller (the incremental pipeline uncommits downstream stages
        BEFORE touching upstream ones) — the only requirement is a complete
        data dir (``_SUCCESS``); partial writes surface as ``None``.

        ``bucket_key``: write the result in the bucketed layout — the
        migration path for a pre-bucketing stage so subsequent merges can use
        :meth:`replace_scoped` / scoped :meth:`upsert_stage`."""
        self.recover_upsert(stage, lineage_key=key_col)
        existing = None
        if os.path.exists(os.path.join(self._dir(stage), "_SUCCESS")):
            existing = self.spark.read.parquet(self._dir(stage)).drop(
                self.BUCKET_COL
            )
        merged = rewrite_fn(existing)
        if bucket_key is not None:
            merged = merged.withColumn(
                self.BUCKET_COL, self._bucket_expr(bucket_key, n_buckets)
            )
            return self._swap_commit(
                stage, merged, key_col, partition_bucketed=True,
                n_buckets=n_buckets,
            )
        return self._swap_commit(stage, merged, key_col)

    def _swap_commit(
        self,
        stage: str,
        merged: DataFrame,
        lineage_key: str | None,
        partition_bucketed: bool = False,
        n_buckets: int | None = None,
    ) -> DataFrame:
        """Commit ``merged`` as the new contents of ``stage`` via the
        kill-safe swap documented on :meth:`upsert_stage` (tmp write →
        sentinel → marker removal → atomic rename → lineage + marker →
        sentinel removal). ``merged``'s plan may read the stage's current
        files."""
        path = self._dir(stage)
        tmp = path + ".__merge_tmp"
        marker = self._marker(stage)
        sentinel = path + ".__merge_inprogress"
        if os.path.exists(tmp):
            shutil.rmtree(tmp)
        w = merged.write.mode("overwrite")
        if partition_bucketed:
            w = w.partitionBy(self.BUCKET_COL)
        w.parquet(tmp)
        if partition_bucketed and n_buckets is not None:
            # stamp the layout INTO the tmp so the atomic rename carries it
            self._write_layout(tmp, n_buckets)
        with open(sentinel, "w") as f:
            json.dump({"stage": stage, "started_at": time.time()}, f)
        if os.path.exists(marker):
            os.remove(marker)
        if os.path.exists(path):
            shutil.rmtree(path)
        os.rename(tmp, path)
        out = self.spark.read.parquet(path)
        self._write_lineage(stage, out, lineage_key)
        with open(marker, "w") as f:
            json.dump({"stage": stage, "committed_at": time.time()}, f)
        os.remove(sentinel)
        return out.drop(self.BUCKET_COL)

    def _swap_commit_buckets(
        self,
        stage: str,
        merged_touched: DataFrame,
        touched: list[int],
        lineage_key: str | None,
    ) -> DataFrame:
        """Bucket-scoped variant of :meth:`_swap_commit`: ``merged_touched``
        holds the full new contents of ONLY the ``touched`` buckets (with the
        bucket column). Each bucket directory is swapped individually after
        the whole tmp write completes, so untouched buckets are never read,
        written, or even stat'd.

        Kill-safety (extends the upsert window analysis): the sentinel is
        written only after the tmp write's ``_SUCCESS``, and records
        ``scoped`` + the touched bucket list. Every per-bucket ``os.rename``
        is atomic; a crash mid-loop leaves each touched bucket either fully
        old (its dir still in tmp) or fully new (renamed out of tmp) —
        :meth:`recover_upsert` finishes exactly the renames whose bucket dirs
        remain in tmp, then recommits. The live dir's root ``_SUCCESS`` (from
        its original commit) is never touched, so readers of a recovered
        stage see a complete dataset either way.

        The tmp dir name differs from the full-swap one ON PURPOSE: a scoped
        tmp holds only the TOUCHED buckets, so the full-swap recovery
        (rename whole tmp over the live dir) applied to it would silently
        drop every untouched bucket. Distinct names make the two recovery
        paths unconfusable even when a crash lands between the tmp write and
        the sentinel write (where the sentinel's ``scoped`` flag does not
        exist yet)."""
        path = self._dir(stage)
        tmp = path + ".__merge_scoped_tmp"
        marker = self._marker(stage)
        sentinel = path + ".__merge_inprogress"
        if os.path.exists(tmp):
            shutil.rmtree(tmp)
        (
            merged_touched.write.mode("overwrite")
            .partitionBy(self.BUCKET_COL)
            .parquet(tmp)
        )
        # a touched bucket with no dir in the just-written tmp was merged to
        # EMPTY (delete-heavy merge) — record that set NOW, while tmp is
        # complete and untouched: later (and on crash recovery) absence from
        # tmp is ambiguous between "merged empty" and "already renamed out"
        in_tmp = {
            int(name.split("=", 1)[1])
            for name in os.listdir(tmp)
            if name.startswith(f"{self.BUCKET_COL}=")
        }
        emptied = [b for b in touched if b not in in_tmp]
        with open(sentinel, "w") as f:
            json.dump(
                {
                    "stage": stage,
                    "started_at": time.time(),
                    "scoped": True,
                    "buckets": touched,
                    "empty_buckets": emptied,
                },
                f,
            )
        if os.path.exists(marker):
            os.remove(marker)
        self._finish_bucket_swaps(path, tmp, emptied)
        out = self.spark.read.parquet(path)
        # lineage scoped like the data: recompute rows for the TOUCHED
        # buckets only (partition pruning keeps the scan off the untouched
        # ones), carry every other bucket's committed lineage row verbatim
        self._write_lineage(
            stage,
            out.filter(F.col(self.BUCKET_COL).isin(touched)),
            lineage_key,
            carry_except=touched,
        )
        with open(marker, "w") as f:
            json.dump({"stage": stage, "committed_at": time.time()}, f)
        os.remove(sentinel)
        return out.drop(self.BUCKET_COL)

    def _finish_bucket_swaps(
        self, path: str, tmp: str, empty: list[int] | None = None
    ) -> None:
        """Rename every bucket dir remaining inside ``tmp`` into the live
        stage dir (replacing that bucket's old contents), then drop tmp.
        Idempotent: a bucket dir's presence in tmp means its swap has not
        completed; absence means it already swapped.

        ``empty``: bucket ids whose merge result is EMPTY (delete-heavy
        :meth:`replace_scoped`) — recorded by the writer at sentinel time,
        because after renames begin, absence-from-tmp is ambiguous between
        "merged empty" and "already swapped". Their live dirs are removed,
        or their doomed rows would silently survive. Deletions run BEFORE
        the renames and are existence-guarded, so a crash anywhere re-enters
        this loop with tmp still present and both steps replay
        idempotently."""
        if not os.path.isdir(tmp):
            return
        present = {
            name
            for name in os.listdir(tmp)
            if name.startswith(f"{self.BUCKET_COL}=")
        }
        for b in empty or []:
            live_b = os.path.join(path, f"{self.BUCKET_COL}={b}")
            if os.path.exists(live_b):
                shutil.rmtree(live_b)
        for name in sorted(present):
            live_b = os.path.join(path, name)
            if os.path.exists(live_b):
                shutil.rmtree(live_b)
            os.rename(os.path.join(tmp, name), live_b)
        shutil.rmtree(tmp)

    def recover_upsert(self, stage: str, lineage_key: str | None = None) -> bool:
        """Finish a previous :meth:`upsert_stage` that died mid-swap; returns
        True if anything was recovered. Safe (no-op) on a committed or fresh
        stage. Called automatically by upsert_stage; callable directly by a
        resuming driver before it inspects commit state."""
        path = self._dir(stage)
        tmp = path + ".__merge_tmp"
        scoped_tmp = path + ".__merge_scoped_tmp"
        marker = self._marker(stage)
        sentinel = path + ".__merge_inprogress"

        def _recommit(touched: list[int] | None = None) -> None:
            recovered = self.spark.read.parquet(path)
            if touched:
                # scoped recovery: recompute lineage for the touched buckets
                # only (some swapped pre-crash, some just now — their
                # committed lineage rows are stale either way), carry the rest
                self._write_lineage(
                    stage,
                    recovered.filter(F.col(self.BUCKET_COL).isin(touched)),
                    lineage_key,
                    carry_except=touched,
                )
            else:
                self._write_lineage(stage, recovered, lineage_key)
            with open(marker, "w") as f:
                json.dump({"stage": stage, "committed_at": time.time(),
                           "recovered": True}, f)

        def _sentinel_meta() -> dict:
            try:
                with open(sentinel) as f:
                    meta = json.load(f)
                return meta if meta.get("scoped") else {}
            except (OSError, ValueError):
                return {}

        def _sentinel_buckets() -> list[int] | None:
            return _sentinel_meta().get("buckets")

        recovered = False
        # A tmp is only trustworthy when the SENTINEL vouches for it: the
        # writers' ordering is tmp write → sentinel → marker removal →
        # rename(s), so every genuine mid-swap crash leaves the sentinel in
        # place. An uncommitted stage with a tmp but NO sentinel means the
        # marker was removed by someone else (the incremental pipeline's
        # stale-downstream guard, or a fresh-write crash) and the tmp may
        # predate a LATER full rewrite of the stage — renaming it over the
        # live dir would silently roll that rewrite back. Those orphans are
        # garbage: delete them and let the caller recompute.
        vouched = os.path.exists(sentinel)
        if not self.is_committed(stage):
            if vouched and os.path.exists(os.path.join(scoped_tmp, "_SUCCESS")):
                # scoped swap died mid-loop: every bucket dir still inside
                # the scoped tmp is a complete per-bucket merge result whose
                # rename had not happened — finish exactly those renames
                # (untouched live buckets are never read or written)
                self._finish_bucket_swaps(
                    path, scoped_tmp, _sentinel_meta().get("empty_buckets")
                )
                _recommit(_sentinel_buckets())
                recovered = True
            elif vouched and os.path.exists(os.path.join(tmp, "_SUCCESS")):
                # full swap never finished: tmp holds the full merge result
                if os.path.exists(path):
                    shutil.rmtree(path)
                os.rename(tmp, path)
                _recommit()
                recovered = True
            elif vouched and os.path.exists(os.path.join(path, "_SUCCESS")):
                # rename completed but marker rewrite did not: the live dir
                # already holds the merged rows — recommit, don't restart
                # (scoped sentinel → scoped lineage recommit)
                _recommit(_sentinel_buckets())
                recovered = True
            else:
                for d in (tmp, scoped_tmp):
                    if os.path.exists(d):
                        shutil.rmtree(d)
        else:
            # committed stage + leftover tmp: a merge crashed BEFORE its
            # marker removal, so the live data is the intact pre-merge
            # state — the tmp is stale (the caller's upsert recomputes it)
            for d in (tmp, scoped_tmp):
                if os.path.exists(d):
                    shutil.rmtree(d)
        if os.path.exists(sentinel):
            os.remove(sentinel)
        return recovered

    # -- lineage --------------------------------------------------------------
    def _write_lineage(
        self,
        stage: str,
        df: DataFrame,
        key_col: str | None,
        carry_except: list[int] | None = None,
    ) -> None:
        """Per-partition lineage rows for ``stage``. For a BUCKETED stage the
        lineage grain is one row per directory bucket (``partition_id`` =
        bucket id — stable across writes and the unit a scoped merge
        replaces); for an unbucketed stage it is the write's Spark partition
        id, as before. ``carry_except``: scoped-merge mode — ``df`` holds only
        the touched buckets, whose ids are listed here; every OTHER bucket's
        committed lineage row is carried over verbatim (tiny read: the
        lineage table has one row per bucket), so lineage I/O is scoped
        exactly like the data I/O."""
        key = F.col(key_col).cast("string") if key_col else F.lit(None).cast("string")
        score = F.col("score") if "score" in df.columns else F.lit(None).cast("double")
        pid = (
            F.col(self.BUCKET_COL).cast("int")
            if self.BUCKET_COL in df.columns
            else F.spark_partition_id()
        )
        lineage = (
            df.select(
                pid.alias("partition_id"),
                key.alias("k"),
                score.alias("s"),
            )
            .groupBy("partition_id")
            .agg(
                F.min("k").alias("block_key_min"),
                F.max("k").alias("block_key_max"),
                F.count("*").alias("row_count"),
                F.count("s").alias("pair_count"),
                F.array(
                    *[
                        F.coalesce(
                            F.sum(
                                F.when(
                                    F.least(F.floor(F.col("s") * 10), F.lit(9)) == i, 1
                                ).otherwise(0)
                            ),
                            F.lit(0),
                        ).cast("long")
                        for i in range(10)
                    ]
                ).alias("score_histogram"),
            )
            .withColumn("stage", F.lit(stage))
            .withColumn("snapshot_id", F.lit(int(time.time() * 1000)))
            .withColumn("committed_at", F.current_timestamp())
        )
        if carry_except is not None:
            v2 = os.path.join(self.root, "_lineage_v2")
            if os.path.exists(v2):
                kept_df = self.spark.read.parquet(v2).filter(
                    (F.col("stage") == stage)
                    & ~F.col("partition_id").isin(carry_except)
                ).select(*lineage.columns)
                # pin driver-side (≤ one row per bucket): the write below
                # overwrites the very files this plan reads, and Spark
                # refuses a lazy read-from-overwrite-target
                kept_rows = kept_df.collect()
                if kept_rows:
                    lineage = lineage.unionByName(
                        self.spark.createDataFrame(kept_rows, kept_df.schema)
                    )
        # dynamic partition overwrite keyed by stage: a crash between this
        # write and the marker makes the rerun REPLACE this stage's lineage
        # rows instead of re-appending duplicates — the idempotent-overwrite
        # contract now covers lineage, not just stage data. Written under a
        # VERSIONED subdir (_lineage_v2): the pre-partitioned layout wrote
        # flat parquet files into _lineage/, and mixing those with stage=<x>/
        # subdirs breaks partition discovery. Contract: lineage() reflects the
        # CURRENT committed state of each stage (committed_at/snapshot_id say
        # when); it is not an append-only history log.
        (
            lineage.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("stage")
            .parquet(os.path.join(self.root, "_lineage_v2"))
        )

    def audit(self) -> DataFrame:
        """Queryable audit surface over the per-partition lineage rows
        (VERDICT r4 #6 — the north rule's lineage made consumable, not just
        written): ONE row per committed stage with volume totals,
        partition-skew diagnostics, and the aggregated score histogram.
        Driver-callable after any checkpointed run
        (``scripts/run_job.py --audit`` prints it).

        ``partition_skew`` = max/avg partition row count — a value far above
        1 means one task carried the stage (a hot block key or a bad
        partitioning), the first thing to check when a stage's wall-clock
        stops scaling with executors."""
        ln = self.lineage()
        hist = F.array(
            *[
                F.coalesce(
                    F.sum(F.element_at(F.col("score_histogram"), i + 1)),
                    F.lit(0),
                ).cast("long")
                for i in range(10)
            ]
        )
        return ln.groupBy("stage").agg(
            F.max("snapshot_id").alias("snapshot_id"),
            F.max("committed_at").alias("committed_at"),
            F.count("*").cast("long").alias("n_partitions"),
            F.sum("row_count").cast("long").alias("row_count"),
            F.sum("pair_count").cast("long").alias("pair_count"),
            F.max("row_count").cast("long").alias("max_partition_rows"),
            F.round(
                F.max("row_count") / F.avg("row_count"), 4
            ).alias("partition_skew"),
            hist.alias("score_histogram"),
        )

    @staticmethod
    def audit_drift(current: DataFrame, previous: DataFrame) -> DataFrame:
        """Row/pair-count drift between two audit snapshots (this run vs a
        saved previous one): a blocking-cap regression or a fixture change
        shows up as an edges pair_count jump long before it shows in output
        quality. ``*_drift`` columns are relative ((now - prev) / prev); null
        when the stage is new or previously empty."""
        cur = current.select(
            "stage",
            F.col("row_count").alias("rows_now"),
            F.col("pair_count").alias("pairs_now"),
        )
        prev = previous.select(
            "stage",
            F.col("row_count").alias("rows_prev"),
            F.col("pair_count").alias("pairs_prev"),
        )

        def rel(now, before):
            return F.when(
                F.col(before).isNotNull() & (F.col(before) != 0),
                F.round((F.col(now) - F.col(before)) / F.col(before), 4),
            )

        return (
            cur.join(prev, "stage", "full_outer")
            .withColumn("row_drift", rel("rows_now", "rows_prev"))
            .withColumn("pair_drift", rel("pairs_now", "pairs_prev"))
        )

    def lineage(self) -> DataFrame:
        v2 = os.path.join(self.root, "_lineage_v2")
        legacy = os.path.join(self.root, "_lineage")
        if not os.path.exists(v2):
            # legacy layout (flat, unpartitioned) — readable for old roots
            return self.spark.read.parquet(legacy)
        cur = self.spark.read.parquet(v2)
        if not os.path.exists(legacy):
            return cur
        # Mixed root: a pre-v2 checkpoint root whose stages were RESUMED (not
        # rewritten) by this engine never migrates their lineage rows into
        # _lineage_v2 — union the legacy rows for stages absent from v2 so
        # resumed stages don't silently vanish from lineage() output.
        old = self.spark.read.parquet(legacy)
        missing = old.join(cur.select("stage").distinct(), "stage", "left_anti")
        for col in cur.columns:
            if col not in missing.columns:
                missing = missing.withColumn(
                    col, F.lit(None).cast(cur.schema[col].dataType)
                )
        return cur.unionByName(missing.select(*cur.columns))
