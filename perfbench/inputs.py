"""Seeded benchmark inputs and their brute-force oracle.

    python3 perfbench/inputs.py <workload> <seed> <run_dir> <oracle_path> <procs>

writes `<run_dir>/corpus.parquet` and `<run_dir>/planted.json` and, unless
`<oracle_path>` exists, the `brute_oracle` components of the corpus there. The same seed gives the
same files. Rendering uses at most `procs` worker processes.
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pyarrow.parquet as pq

from relieff_lsh_spark.config import DedupConfig
from relieff_lsh_spark.sources.corpus import (
    RowSpec,
    _base_audio,
    _render_part,
    _transcript,
    build_specs,
    make_vocab,
    write_corpus,
)

# audio_corpus: the generator's own duplicate mix of 0.5-3 s clips; the
# signatures stage (decode/FFT/SimHash Arrow UDF) is its largest stage and
# only about 1k candidate pairs reach verification.
AUDIO_N = 1200
# hot_bands: a base corpus plus planted groups of short clips sharing one
# spectrum and one transcript. Sizes straddle bucket_cap (64) and
# bucket_cap * salt_factor (512): one group is joined as is, two are salted,
# one is dropped; candidates, verify and the components fixpoint dominate.
HOT_BASE_N = 1000
HOT_SIZES = (40, 100, 250, 560)
HOT_DUR_MS = 500
# names the corpus of each workload; keys the oracle and counter caches
SIZES = {"audio_corpus": f"n{AUDIO_N}",
         "hot_bands": f"n{HOT_BASE_N}+" + "+".join(map(str, HOT_SIZES))}


def hot_specs(base_n: int, seed: int, hot_sizes: tuple[int, ...]) -> tuple[list[RowSpec], list[dict]]:
    """build_specs(base_n, seed) plus one planted group per size: short clips
    of one spectrum under heavy noise (distinct bytes, near-identical
    SimHash) with one identical short transcript (identical MinHash bands)."""
    specs = build_specs(base_n, seed)
    rng = np.random.default_rng([seed, 1])
    vocab = make_vocab(rng)
    groups = []
    for gi, size in enumerate(hot_sizes):
        audio = _base_audio(rng, 0)
        audio.update(dur_ms=HOT_DUR_MS, extra_noise_db=10.0)
        words = _transcript(rng, vocab, 5, 7)
        gid = f"g_planted_{gi}"
        groups.append({"group_id": gid, "size": size})
        for _ in range(size):
            row_audio = dict(audio, noise_seed=int(rng.integers(0, 2**31)))
            specs.append(RowSpec(group_id=gid, kind="planted", words=list(words), **row_audio))
    specs = [specs[i] for i in rng.permutation(len(specs))]
    for i, s in enumerate(specs):
        s.clip_id = f"clip_{i:08d}"
    for g in groups:
        g["clip_ids"] = [s.clip_id for s in specs if s.group_id == g["group_id"]]
    return specs, groups


def write_specs(specs: list[RowSpec], out_dir: str, procs: int) -> None:
    """Render specs into `<out_dir>/corpus.parquet/part-*.parquet`, one part
    per worker, with 100-row row groups (scan splits)."""
    import multiprocessing as mp

    path = os.path.join(out_dir, "corpus.parquet")
    os.makedirs(path, exist_ok=True)
    bounds = [(i * len(specs) // procs, (i + 1) * len(specs) // procs) for i in range(procs)]
    jobs = [
        (os.path.join(path, f"part-{i:04d}.parquet"), specs[lo:hi], 100)
        for i, (lo, hi) in enumerate(bounds) if hi > lo
    ]
    with mp.get_context("spawn").Pool(len(jobs)) as pool:
        pool.map(_render_part, jobs)


def make_corpus(workload: str, seed: int, out_dir: str, procs: int) -> list[dict]:
    """Write the workload's corpus; returns its planted groups."""
    if workload == "audio_corpus":
        write_corpus(AUDIO_N, out_dir, seed=seed, batch_rows=100, procs=procs)
        return []
    if workload == "hot_bands":
        specs, groups = hot_specs(HOT_BASE_N, seed, HOT_SIZES)
        write_specs(specs, out_dir, procs)
        return groups
    raise ValueError(f"unknown workload {workload!r}")


def over_cap(groups: list[dict], cfg: DedupConfig) -> list[dict]:
    """Planted groups whose buckets exceed bucket_cap * salt_factor: the
    pipeline drops them by design, so recall is measured without them."""
    return [g for g in groups if g["size"] > cfg.bucket_cap * cfg.salt_factor]


def write_oracle(corpus_dir: str, excluded: set[str], out_path: str) -> None:
    from relieff_lsh_spark.plans.oracle import brute_oracle

    pdf = pq.read_table(
        corpus_dir, columns=["clip_id", "bytes", "codec", "transcript"]
    ).to_pandas()
    pdf = pdf[~pdf["clip_id"].isin(excluded)].sort_values("clip_id").reset_index(drop=True)
    comps = brute_oracle(pdf, DedupConfig())
    tmp = out_path + ".tmp"
    comps.to_parquet(tmp, index=False)
    os.replace(tmp, out_path)


def main(argv: list[str]) -> None:
    workload, seed, run_dir, oracle_path, procs = argv
    seed, procs = int(seed), int(procs)
    groups = make_corpus(workload, seed, run_dir, procs)
    cfg = DedupConfig()
    corpus = os.path.join(run_dir, "corpus.parquet")
    n = sum(pq.ParquetFile(p).metadata.num_rows for p in pq.ParquetDataset(corpus).files)
    with open(os.path.join(run_dir, "planted.json"), "w") as f:
        json.dump({"n": n, "groups": groups,
                   "over_cap": [g["group_id"] for g in over_cap(groups, cfg)]}, f)
    if not os.path.exists(oracle_path):
        excluded = {c for g in over_cap(groups, cfg) for c in g["clip_ids"]}
        write_oracle(corpus, excluded, oracle_path)
    # flush the written corpus now, so its writeback does not land in a pass
    os.sync()


if __name__ == "__main__":
    main(sys.argv[1:])
