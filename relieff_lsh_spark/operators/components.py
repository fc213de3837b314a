"""Connected components via alternating large-star/small-star on DataFrames.

Replaces the reference's per-key neighbor aggregation (groupByKey + bounded
neighbor lists, ReliefFFeatureSelector.scala:141-150) with the aggregation a
dedup pipeline needs: every clip gets the minimum clip_id reachable through
verified duplicate edges (SURVEY.md §3.3, §7.1 M6).

Algorithm (Kiveris et al., "Connected Components in MapReduce and Beyond" —
public): alternate
  large-star: every node's larger neighbors re-attach to the minimum of its
              closed neighborhood
  small-star: every node and its smaller neighbors attach to that minimum
until the edge set is a fixpoint (a forest of stars rooted at each
component's minimum id). Converges in O(log n) rounds vs O(diameter) for
plain min-label propagation — and, critically for scale, each round
shuffles only the EDGE relation (duplicate pairs), never the full vertex
set. Vertices untouched by any edge are singletons and join in exactly
once at the end.

Round-2 scaling note: the round-1 min-label loop shuffled all n vertex
labels every iteration and was the worst-scaling stage at 4x cores (1.44x);
this formulation's per-round work is O(|E|), with |E| << n for a dedup
corpus.

One-task path: a dedup graph is small (the verified edges are a sliver of
the corpus), and at that size the star loop is all fixed cost — every
round is a few Spark jobs of planning, codegen and scheduling around a
tiny shuffle. So when the entry count finds at most ONE_TASK_MAX_EDGES
edges, the whole edge set is coalesced into one task and solved by a
vectorized union-find behind one Arrow boundary (mapInArrow), and the
result reports iterations=0. The choice rests only on that count, which
the entry job takes anyway. The star loop stays for edge sets above one
task's memory and time budget, and for calls resuming from a round
checkpoint, whose state the loop wrote.

Lineage/restart discipline: each round the edge state is truncated with
localCheckpoint; when `checkpoint_dir` is given, every `checkpoint_every`-th
round ALSO writes the state to parquet (the reference's persisted-graph
resume, R:262/336) and a fresh call resumes from the newest valid round —
on a real cluster localCheckpoint blocks die with their executor, so the
fixpoint loop needs storage-backed checkpoints to survive restarts.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

# Tuning note (round 5): disabling AQE for the fixpoint loop — on the
# theory that AQE's per-exchange materialization jobs are pure driver
# latency for a tiny edge relation — was tried and measured 8x SLOWER
# (21-24s -> 167-170s on a 200k-edge synthetic at local[8], eager and lazy
# checkpoints alike): without AQE the round-over-round localCheckpoint
# lineage truncation stops holding the executed plan to O(1) stages per
# round and the static 32/64-partition exchanges lose coalescing. The
# AQE + lazy-checkpoint shape below is load-bearing, not incidental. What
# actually fixed the stage's 2->8-core latency was (a) spark.locality.wait=0
# (session.py): each tiny stage sat a full 3s locality timeout before
# launching its first task on cached fixpoint blocks; and (b) expressing
# each star round's min-per-key as a WINDOW over the edge relation instead
# of groupBy + join-back — one exchange per round instead of two, measured
# (BENCH/_work, 392k-edge synthetic incl. a 250k-node tree and a
# 2k-diameter path, interleaved best-of-2) 41.4s -> 29.5s at local[8] and
# 60.1s -> 51.6s at local[2], identical outputs and round count.
#
# Barrier depth: the star loop composes PAIRS_PER_BARRIER (large+small)
# pairs lazily per materialization barrier/checksum action. The fixpoint is
# latency-bound, so fewer barriers = less fixed cost, at the price of up to
# PAIRS_PER_BARRIER-1 wasted (cheap, already-converged) rounds after the true
# fixpoint and a coarser convergence check. Re-measured at the window-star
# HEAD (same synthetic shape, local[8]): 1 and 2 pairs are equivalent within
# host noise (bests 11.9-13.9s vs 14.1-14.3s across two interleaved
# sessions), 3-4 are clearly WORSE (19.6s/28.8s — deeper lazy composition
# costs more in plan depth/AQE materialization than the saved checksum
# actions). 2 stays: every recorded scaling/bench artifact ran it, and 1 is
# not a demonstrated win.
PAIRS_PER_BARRIER = 2

# Edge count up to which the graph is solved in one task (module docstring).
# Kernel cost at the cap, for a random graph of 2^20 string-id edges over
# 2^19 ids, on one core of a 4-core Xeon host: 1.0-1.1 s, and 269 MB peak
# RSS for the whole Python process, of which 197 MB was the input batches
# plus imports before the call.
ONE_TASK_MAX_EDGES = 1 << 20


@dataclass
class ComponentsResult:
    components: DataFrame   # (clip_id, component_id)
    iterations: int
    converged: bool


def _large_star(e: DataFrame) -> DataFrame:
    """e(u, v) directed child->parent (u > v). Every node's LARGER neighbors
    attach to min(closed neighborhood).

    min-per-key is a window over the SAME relation, not a groupBy +
    join-back: one exchange of the edge relation per round instead of two
    (the fixpoint is latency-bound — every exchange is an AQE
    materialization job's worth of driver latency — and the window's
    per-key sort is bounded by the largest star, trivially small next to
    the join it replaces). Output multiset identical to the join form:
    mins had exactly one row per u, so the join attached m row-for-row."""
    both = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    m = F.least(F.col("u"), F.min("v").over(W.partitionBy("u"))).alias("m")
    # No distinct here: duplicates produced within one round are bounded
    # (one row per directed input edge) and the round-closing distinct in
    # _small_star canonicalizes the state — dropping this exchange removes
    # a full shuffle of the edge relation from every round.
    return (
        both.select("u", "v", m)
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .where(F.col("u") != F.col("v"))
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Every node and its SMALLER neighbors attach to min(closed nbhd).
    Same window-not-join shape as _large_star; the (u, m) root edge is
    emitted once per input row instead of once per group (the join form's
    union with `mins`), and the round-closing distinct — already present —
    canonicalizes, so the output SET is unchanged."""
    d = e.select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
    dw = d.select("u", "v", F.min("v").over(W.partitionBy("u")).alias("m"))
    out = dw.select(F.col("v").alias("u"), F.col("m").alias("v")).union(
        dw.select("u", F.col("m").alias("v"))
    )
    return out.where(F.col("u") != F.col("v")).distinct()


def _min_roots(a: np.ndarray, b: np.ndarray, n: int) -> np.ndarray:
    """Union-find over dense ids 0..n-1 joined by edges (a[i], b[i]):
    returns root with root[x] = the smallest id in x's component.

    Each round hooks every edge's larger root under the smallest root it
    touches, then pointer-jumps until every tree has depth one. A parent
    is never larger than its child, so no cycle can form; edges whose ends
    share a root drop out, and the rounds stop when none is left."""
    parent = np.arange(n, dtype=np.int64)
    while a.size:
        ra, rb = parent[a], parent[b]
        np.minimum.at(parent, np.maximum(ra, rb), np.minimum(ra, rb))
        while True:
            jumped = parent[parent]
            if np.array_equal(jumped, parent):
                break
            parent = jumped
        live = parent[a] != parent[b]
        a, b = a[live], b[live]
    return parent


def _one_task_stars(batches):
    """mapInArrow body for the one-task path: all (u, v) edges in, the
    star-forest edges (node, component min) out for every non-root node —
    the same state the star loop converges to. Ids are numbered by their
    rank in Spark's order (binary order for strings), so the smallest dense
    id of a component is its smallest id. No per-row Python objects."""
    batches = [b for b in batches if b.num_rows]
    if not batches:
        return
    table = pa.Table.from_batches(batches)
    m = table.num_rows
    ids = pa.concat_arrays(
        table.column("u").chunks + table.column("v").chunks
    ).dictionary_encode()
    rank = pc.rank(ids.dictionary, sort_keys="ascending").to_numpy() - 1
    by_rank = np.empty_like(rank)
    by_rank[rank] = np.arange(len(rank), dtype=rank.dtype)
    values = ids.dictionary.take(pa.array(by_rank))
    dense = rank[ids.indices.to_numpy()].astype(np.int64)
    root = _min_roots(dense[:m], dense[m:], len(rank))
    child = np.flatnonzero(root != np.arange(len(root)))
    yield pa.RecordBatch.from_arrays(
        [values.take(pa.array(child)), values.take(pa.array(root[child]))],
        names=["u", "v"],
    )


def _checksum(df: DataFrame) -> int:
    # Order-insensitive edge-state fingerprint: one hash-agg job per round
    # instead of a join+count against the previous state. bit_xor cannot
    # overflow and (u, v) tuples are distinct, so no xor self-cancellation.
    # A 64-bit collision between consecutive states is ~2^-64/round; the
    # fixpoint is re-verified with an EXACT set comparison when the
    # checksum first repeats (below), so a collision costs one extra round,
    # never a wrong answer.
    row = df.agg(F.bit_xor(F.xxhash64("u", "v")).alias("c")).collect()[0]
    return int(row["c"] or 0)


def _checksum_and_count(df: DataFrame) -> tuple[int, int]:
    # Initial-state variant: the emptiness probe and the first checksum are
    # the SAME aggregate scan, so fold them into one action (one job
    # materializes the entry checkpoint, vs isEmpty + checksum = two).
    row = df.agg(
        F.bit_xor(F.xxhash64("u", "v")).alias("c"), F.count("*").alias("n")
    ).collect()[0]
    return int(row["c"] or 0), int(row["n"])


def _latest_checkpoint(checkpoint_dir: str) -> tuple[int, str] | None:
    if not checkpoint_dir or not os.path.isdir(checkpoint_dir):
        return None
    best = None
    for name in os.listdir(checkpoint_dir):
        if name.startswith("round_"):
            p = os.path.join(checkpoint_dir, name)
            if os.path.exists(os.path.join(p, "_SUCCESS")):
                r = int(name.split("_")[1])
                if best is None or r > best[0]:
                    best = (r, p)
    return best


def connected_components(
    edges: DataFrame,
    vertices: DataFrame,
    max_iters: int = 25,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 10,  # rounds between storage-backed checkpoints;
    # 10 = one mid-fixpoint write for the O(log n) round counts dedup graphs
    # exhibit (the star fixpoint converges in ~8 rounds on the 92k-diameter
    # bench component) — the restart-protection/extra-write trade-off
    # round 2 effectively ran with
) -> ComponentsResult:
    """edges(a, b) undirected + vertices(clip_id) -> (clip_id, component_id)
    where component_id = min clip_id in the component. Singletons keep their
    own id."""
    spark = edges.sparkSession
    e = (
        edges.select(
            F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v")
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )

    start_round = 0
    resumed = _latest_checkpoint(checkpoint_dir) if checkpoint_dir else None
    if resumed is not None:
        start_round, path = resumed
        e = spark.read.parquet(path)
    # lazy: the entry _checksum_and_count action below is the materializing
    # job (its docstring always promised that); eager=True ran a separate
    # materialization job first — one extra full pass of the edge relation
    # per call (round-6, plan/job-count check in OPTIMIZATION_r06.md)
    e = e.localCheckpoint(eager=False)

    prev_sum, n_edges = _checksum_and_count(e)
    converged = n_edges == 0
    if not converged and resumed is None and n_edges <= ONE_TASK_MAX_EDGES:
        e = (
            e.coalesce(1)
            .mapInArrow(_one_task_stars, e.schema)
            .localCheckpoint(eager=False)
        )
        converged = True
    it = start_round
    last_ckpt = start_round  # rounds-since-checkpoint tracker: the loop
    # advances `it` by 2 per pass, so a naive `it % checkpoint_every == 0`
    # with an odd cadence would only fire on multiples of 2*checkpoint_every
    if converged:
        prev_sum = None
    while not converged and it < max_iters:
        # PAIRS_PER_BARRIER star rounds per materialization barrier (see the
        # constant). Convergence is still exact — the checksum repeat is
        # re-verified set-wise below.
        it += PAIRS_PER_BARRIER
        ne = e
        for _ in range(PAIRS_PER_BARRIER):
            ne = _small_star(_large_star(ne))
        new_e = ne.localCheckpoint(eager=False)
        # the checksum action materializes the lazy checkpoint: ONE Spark
        # job per double-round
        new_sum = _checksum(new_e)
        if new_sum == prev_sum:
            # exact fixpoint verification (checksums are probabilistic):
            # symmetric difference must be empty. Both states are distinct
            # (u, v) sets (the round-closing distinct in _small_star), so a
            # group of count 1 in the concatenation IS an asymmetric row —
            # ONE job instead of two exceptAll passes.
            diff = (
                new_e.unionAll(e)
                .groupBy("u", "v")
                .count()
                .where(F.col("count") == 1)
                .limit(1)
                .count()
            )
            if diff == 0:
                converged = True
        if checkpoint_dir and (it - last_ckpt >= checkpoint_every) and not converged:
            path = os.path.join(checkpoint_dir, f"round_{it}")
            new_e.write.mode("overwrite").parquet(path)
            new_e = spark.read.parquet(path)
            last_ckpt = it
        e = new_e
        prev_sum = new_sum

    # star edges: (child u -> root v); roots and singletons map to themselves
    active_labels = e.select(
        F.col("u").alias("clip_id"), F.col("v").alias("component_id")
    )
    comps = (
        vertices.select("clip_id")
        .join(active_labels, "clip_id", "left")
        .select(
            "clip_id",
            F.coalesce("component_id", "clip_id").alias("component_id"),
        )
    )
    return ComponentsResult(components=comps, iterations=it, converged=converged)


def pair_recall(result: DataFrame, oracle: DataFrame) -> dict:
    """Pair-level recall/precision of `result` vs `oracle` component
    assignments, computed from the (oracle_comp x result_comp) contingency
    table — n*(n-1)/2 arithmetic on group sizes, never materializing pairs
    (scales to huge components).

    Both inputs: (clip_id, component_id). ONE Spark action (round-4 ADVICE:
    the old three collects ran the contingency join three times, and this
    runs inside every e2e test): the full-outer contingency table is built
    once behind a lazy checkpoint, and the three aggregates — agree pairs
    over both-labeled cells, oracle pairs over all oracle-labeled rows,
    result pairs over all result-labeled rows — collect as one 1-row
    cross-join."""
    o = oracle.select("clip_id", F.col("component_id").alias("oc"))
    r = result.select("clip_id", F.col("component_id").alias("rc"))
    cell = (
        o.join(r, "clip_id", "full")
        .groupBy("oc", "rc")
        .agg(F.count("*").alias("n"))
        .localCheckpoint(eager=False)
    )
    pairs = F.sum(F.col("n") * (F.col("n") - 1) / 2)
    both_df = cell.where(
        F.col("oc").isNotNull() & F.col("rc").isNotNull()
    ).agg(pairs.alias("agree"))
    o_df = (
        cell.where(F.col("oc").isNotNull())
        .groupBy("oc").agg(F.sum("n").alias("n"))
        .agg(pairs.alias("op"))
    )
    r_df = (
        cell.where(F.col("rc").isNotNull())
        .groupBy("rc").agg(F.sum("n").alias("n"))
        .agg(pairs.alias("rp"))
    )
    row = both_df.crossJoin(o_df).crossJoin(r_df).collect()[0]
    both = float(row["agree"] or 0.0)
    o_pairs = float(row["op"] or 0.0)
    r_pairs = float(row["rp"] or 0.0)
    return {
        "agree_pairs": both,
        "oracle_pairs": o_pairs,
        "result_pairs": r_pairs,
        "recall": both / o_pairs if o_pairs else 1.0,
        "precision": both / r_pairs if r_pairs else 1.0,
    }
