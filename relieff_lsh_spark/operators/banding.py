"""Unified LSH banding: every candidate channel becomes rows of one relation

    bands(clip_id: string, channel: string, band_id: int, band_hash: long)

so a single capped/salted equi-join generates candidates for all channels
(the reference's multi-table LSH bucketing, call sites reference
ReliefFFeatureSelector.scala:156-175, re-expressed as posexplode + groupBy
keys per SURVEY.md §2.2 P4 / §2.3 J4).

Channels:
  text   — 32 banded-MinHash hashes per clip (b x r OR-construction)
  audio  — simhash split into 4 x 16-bit chunks: pigeonhole-exact recall for
           hamming <= 3 (any pair within 3 bits agrees on >= 1 chunk).
           16-bit keys are coarse; random cross-clip collisions are bounded
           by the bucket cap and discarded at verify — a cost knob, not a
           correctness issue. At larger deployments raise simhash_bits /
           bands via config.
  substr — winnowing minimizer keys (variable count per clip)
  exact  — xxhash64 of raw bytes (byte-identical clones; computed in a
           narrow projection so `bytes` never shuffles)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from relieff_lsh_spark.config import DedupConfig

BAND_COLS = ["clip_id", "channel", "band_id", "band_hash"]


def text_bands(text_sigs: DataFrame) -> DataFrame:
    """Explode per-clip band-hash arrays; clips with no shingles are dropped
    (they cannot pass Jaccard verification anyway)."""
    return (
        text_sigs.where(F.col("n_shingles") > 0)
        .select("clip_id", F.posexplode("text_bands").alias("band_id", "band_hash"))
        .select("clip_id", F.lit("text").alias("channel"), "band_id", "band_hash")
    )


def substr_bands(text_sigs: DataFrame) -> DataFrame:
    return (
        text_sigs.select("clip_id", F.explode("substr_keys").alias("band_hash"))
        .select("clip_id", F.lit("substr").alias("channel"),
                F.lit(0).alias("band_id"), "band_hash")
    )


def audio_bands(audio_sigs: DataFrame, cfg: DedupConfig) -> DataFrame:
    bits = cfg.simhash_band_bits
    mask = (1 << bits) - 1
    chunks = F.array(*[
        F.shiftrightunsigned(F.col("simhash"), b * bits).bitwiseAND(F.lit(mask))
        for b in range(cfg.simhash_bands)
    ])
    return (
        audio_sigs.where(F.col("simhash").isNotNull())  # quarantined codecs
        .select("clip_id", F.posexplode(chunks).alias("band_id", "band_hash"))
        .select("clip_id", F.lit("audio").alias("channel"), "band_id", "band_hash")
    )


def exact_bands(corpus: DataFrame) -> DataFrame:
    """Byte-identity channel. Narrow projection: hashes bytes at the scan,
    ships only (clip_id, hash)."""
    return corpus.select(
        "clip_id",
        F.lit("exact").alias("channel"),
        F.lit(0).alias("band_id"),
        F.xxhash64("bytes").alias("band_hash"),
    )


def all_bands(corpus: DataFrame, text_sigs: DataFrame, audio_sigs: DataFrame,
              cfg: DedupConfig) -> DataFrame:
    return (
        text_bands(text_sigs)
        .unionByName(substr_bands(text_sigs))
        .unionByName(audio_bands(audio_sigs, cfg))
        .unionByName(exact_bands(corpus))
    )
