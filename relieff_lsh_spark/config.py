"""Pipeline configuration.

The analog of the reference's ``KNiNeConfiguration`` bundle (reference
ReliefFFeatureSelector.scala:491-494 — radius0 / numTables / keyLength /
maxComparisons / refine), reshaped for near-duplicate detection. Thresholds
are *configuration*, never derived from sampled data (the reference reads a
global constant from the first edge at R:372 — a smell SURVEY.md §4 tells us
to avoid).

The canonical values below are pinned by FIXTURES.md §4 so that "same
shingle/signature config" (BASELINE.json) is well-defined across the
pipeline, the brute-force oracle, and the bench harness.
"""

from __future__ import annotations

from dataclasses import dataclass, field, asdict


@dataclass(frozen=True)
class DedupConfig:
    # --- text channel: k-shingle MinHash, banded b x r (OR-construction) ---
    shingle_k: int = 5          # word-shingle width
    n_perms: int = 128          # MinHash signature length
    bands: int = 32             # LSH bands (b)
    rows_per_band: int = 4      # rows per band (r); b*r == n_perms
    jaccard_min: float = 0.8    # exact-Jaccard verification threshold

    # --- audio channel: spectral fingerprint -> SimHash-64 ---
    simhash_bits: int = 64
    simhash_bands: int = 4      # 4 bands x 16 bits: pigeonhole-exact for hamming<=3
    hamming_max: int = 3
    n_freq_bands: int = 64      # spectral fingerprint dimensionality
    fmax_hz: float = 4000.0     # analyze 0..4kHz (valid for all sr >= 8kHz)
    fft_window: int = 1024
    fft_hop: int = 512
    max_fft_frames: int = 64    # evenly-spaced frame cap (mean-spectrum
                                # estimator; bounds FFT memory bandwidth)

    # --- substring channel: winnowing minimizers over word shingles ---
    substr_k: int = 4           # shingle width for minimizer keys
    substr_window: int = 2      # winnowing window; guarantees any shared
                                # span of >= substr_k + substr_window - 1 words
                                # shares a minimizer key

    # --- skew / work budget (maxComparisons analog, reference R:159,173) ---
    bucket_cap: int = 64        # max rows per (band, hash) bucket before action
    salt_factor: int = 8        # hot buckets split into this many sub-buckets

    # --- physical ---
    shuffle_partitions: int = 32
    seed: int = 42

    def __post_init__(self) -> None:
        if self.bands * self.rows_per_band != self.n_perms:
            raise ValueError(
                f"bands*rows_per_band ({self.bands}*{self.rows_per_band}) "
                f"must equal n_perms ({self.n_perms})"
            )
        if self.simhash_bits % self.simhash_bands != 0:
            raise ValueError("simhash_bits must divide evenly into simhash_bands")
        # Pigeonhole recall guarantee: hamming_max errors spread over
        # simhash_bands bands leave >=1 band untouched iff bands > hamming_max.
        if self.simhash_bands <= self.hamming_max:
            raise ValueError(
                "simhash_bands must exceed hamming_max for exact multi-index recall"
            )
        # Analytic LSH recall budget (SURVEY.md §7.4.2): a pair at exactly
        # the verification threshold j collides on >=1 of b bands with
        # probability 1-(1-j^r)^b. The north_rule demands dup-pair recall
        # >= 0.99, so the banding scheme itself must clear that bar at the
        # configured threshold — checked here, not just asserted empirically.
        if self.text_recall_at_threshold < 0.99:
            raise ValueError(
                f"banded MinHash recall at jaccard_min={self.jaccard_min} is "
                f"{self.text_recall_at_threshold:.4f} < 0.99; raise bands or "
                "lower rows_per_band"
            )

    @property
    def simhash_band_bits(self) -> int:
        return self.simhash_bits // self.simhash_bands

    @property
    def text_recall_at_threshold(self) -> float:
        """P(>=1 band collision) for a pair at jaccard == jaccard_min:
        1 - (1 - j^r)^b. Pairs above the threshold only do better."""
        return 1.0 - (1.0 - self.jaccard_min ** self.rows_per_band) ** self.bands

    @property
    def text_recall_salted(self) -> float:
        """Worst-case recall when EVERY band bucket a pair shares is salted:
        the pair survives a salted band only if both sides land in the same
        of salt_factor sub-buckets (p = j^r / salt_factor per band). The
        real cost is far smaller — salting only triggers on buckets past
        bucket_cap — but this bound is logged so the trade-off is explicit."""
        p = self.jaccard_min ** self.rows_per_band / self.salt_factor
        return 1.0 - (1.0 - p) ** self.bands

    def to_dict(self) -> dict:
        return asdict(self)


CANONICAL = DedupConfig()
