"""Pipeline configuration — the analogue of the reference's ``AppConfig``
(reference core/models.py:83-121, 16 scalar knobs + validate()).

All thresholds that shaped the reference's behavior are carried over with the
same semantics, re-based onto web pages:

* ``min_size``             — reference ``min_file_size`` (core/scanner.py:143-145):
                             rows below it are filtered symmetrically everywhere.
* ``quick_hash_size``      — reference ``partial_hash_size=8192`` (core/models.py:98):
                             the cheap blocking hash covers the first N bytes.
* ``quick_hash_threshold`` — reference ``partial_hash_threshold=1 MiB``
                             (core/models.py:97): only bodies >= this get the
                             two-tier quick-then-verify treatment.
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class PipelineConfig:
    # --- filtering (reference P2/P3) ---
    min_size: int = 0  # bytes of extracted text; symmetric on both join sides

    # --- two-tier hashing (reference P4-P8, models.py:97-98) ---
    quick_hash_size: int = 8192
    quick_hash_threshold: int = 1_048_576

    # --- near-dup blocking (north rule; no reference analogue) ---
    shingle_size: int = 3            # token n-gram width
    minhash_perms: int = 128         # signature length
    # b=16 bands of r=8 rows: half the band-key rows of the earlier b=32/r=4
    # (the key table dominates the blocking shuffle/agg at corpus scale) and
    # each band is MORE selective, so fewer false-positive candidates reach
    # the verify join. Miss probability for a true pair at s = tau = 0.85:
    # (1 - 0.85^8)^16 = 6.2e-3; at s = 0.9: 1.2e-4 — and the simhash
    # OR-channel plus exact/url/quick channels independently cover near-dups,
    # so the F1 >= 0.99 gate holds (asserted in-suite).
    lsh_bands: int = 16              # bands * rows_per_band == minhash_perms
    tau_jaccard: float = 0.85        # verification threshold on exact Jaccard
    simhash_bits: int = 60           # fits a signed 64-bit long (query channel)
    # pipeline simhash gate: keep pairs at shingle-simhash Hamming <= this
    # (OR-combined with the Jaccard gate in operators.scoring.verified_edges).
    # Calibrated on the synth corpus: planted near-dups (J 0.886-0.9) land at
    # 3-10 of 64 bits, hard negatives (J <= 0.47) at 13-35 — 10 catches pairs
    # the tau=0.9 Jaccard gate just misses without admitting any negative.
    max_hamming: int = 10

    # --- skew handling (north rule) ---
    max_block_size: int = 2000       # rows per blocking key before salting/capping
    salt_buckets: int = 16
    # Target GROUPS per partition for the blocking count aggregation — the
    # pipeline's highest-cardinality agg (rows × ~19 keys/doc, nearly all
    # groups unique). Its partition count must scale with DATA, not cores:
    # a per-task hash table beyond the LLC turns every probe into a DRAM
    # round-trip (measured 16-core, 2.4M pages / 45.6M keys: 49 s at 16
    # partitions = 2.9M groups/task vs 30 s at 64 partitions = 0.7M).
    # blocking_products sizes an explicit repartition from the n_docs hint;
    # without the hint it falls back to spark.sql.shuffle.partitions.
    agg_keys_per_partition: int = 600_000

    # Directory buckets for the checkpointed pages_text stage (plain-parquet
    # analogue of Iceberg file granularity): an incremental MERGE rewrites
    # only the buckets the delta's urls hash into, so delta I/O is
    # O(delta x corpus/store_buckets) instead of a full-stage rewrite. At
    # 10^12 docs this would be sized so one bucket ~ one executor's worth of
    # files (e.g. 2^14); 64 keeps test-scale file counts sane.
    store_buckets: int = 64

    # --- clustering ---
    # below this edge count, connected components runs as exact driver-side
    # label propagation (a multi-round distributed loop on a small graph is
    # pure scheduler overhead); 0 disables the fast path. Sized by DRIVER
    # MEMORY, not the local bench: the vectorized path holds the edge arrays
    # (16 B/edge ≈ 80 MB at 5M) plus O(nodes) labels, transferred in one
    # Arrow batch — measured 4M edges end-to-end in ~2 s vs ~7 s for the
    # distributed loop's O(log n) checkpointed rounds; the crossover sits
    # well above this bound, so the cap is the memory-safety line.
    cc_driver_threshold: int = 5_000_000

    # --- incremental / lineage ---
    checkpoint_dir: str | None = None

    extra: dict = field(default_factory=dict)

    @property
    def lsh_rows_per_band(self) -> int:
        return self.minhash_perms // self.lsh_bands

    def validate(self) -> list[str]:
        """Return a list of human-readable problems (reference
        AppConfig.validate(), core/models.py:102-121, returns error strings)."""
        errors: list[str] = []
        if self.min_size < 0:
            errors.append("min_size must be >= 0")
        if self.quick_hash_size <= 0:
            errors.append("quick_hash_size must be > 0")
        if self.quick_hash_threshold < self.quick_hash_size:
            errors.append("quick_hash_threshold must be >= quick_hash_size")
        if self.minhash_perms % self.lsh_bands != 0:
            errors.append("minhash_perms must be divisible by lsh_bands")
        if not (0.0 < self.tau_jaccard <= 1.0):
            errors.append("tau_jaccard must be in (0, 1]")
        if not (0 < self.simhash_bits <= 63):
            errors.append("simhash_bits must fit a signed 64-bit long")
        if self.shingle_size < 1:
            errors.append("shingle_size must be >= 1")
        if self.max_block_size < 2:
            errors.append("max_block_size must be >= 2")
        return errors

    def validated(self) -> "PipelineConfig":
        errs = self.validate()
        if errs:
            raise ValueError("; ".join(errs))
        return self
