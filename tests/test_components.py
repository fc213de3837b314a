"""Connected components: propagation fixpoint vs union-find ground truth."""

from __future__ import annotations

import numpy as np
import pytest

import relieff_lsh_spark.operators.components as components
from relieff_lsh_spark.operators.components import connected_components, pair_recall
from relieff_lsh_spark.plans.oracle import UnionFind


@pytest.fixture
def star_loop(monkeypatch):
    """Send every non-empty edge set to the large-star/small-star loop."""
    monkeypatch.setattr(components, "ONE_TASK_MAX_EDGES", 0)


def _run(spark, edges, vertices):
    e = spark.createDataFrame(edges, "a string, b string")
    v = spark.createDataFrame([(x,) for x in vertices], ["clip_id"])
    res = connected_components(e, v)
    return {r["clip_id"]: r["component_id"] for r in res.components.collect()}, res


def _union_find(edges, vertices):
    uf = UnionFind(vertices)
    for a, b in edges:
        uf.union(a, b)
    return {v: uf.find(v) for v in vertices}


def _random_sparse():
    rng = np.random.default_rng(11)
    vertices = [f"r{i:03d}" for i in range(150)]
    pairs = rng.integers(0, 150, (110, 2))
    return [(vertices[i], vertices[j]) for i, j in pairs if i != j], vertices


def _path_401():
    ids = [f"p{i:04d}" for i in range(401)]
    return [(ids[i], ids[i + 1]) for i in range(400)], ids


def _disjoint_cliques():
    vertices, edges = [], []
    for c, size in enumerate((2, 3, 5, 8)):
        members = [f"k{c}_{i}" for i in range(size)]
        vertices += members
        edges += [(x, y) for i, x in enumerate(members) for y in members[i + 1:]]
    return edges, vertices + ["k_lonely"]


def _star():
    leaves = [f"s{i:02d}" for i in range(30)]
    return [("s99", x) for x in leaves], leaves + ["s99"]


def _empty():
    return [], [f"e{i}" for i in range(5)]


def _mixed_case_non_ascii():
    # byte order: "B" < "Z" < "a" < "b" < "zz" < "É" < "ß" < "ä" < "é" < "Ａ",
    # unlike a case-folding or locale order
    vertices = ["zz", "b", "Ａ", "é", "É", "ß", "a", "Z", "B", "ä"]
    edges = [("zz", "Ａ"), ("Ａ", "é"), ("é", "É"), ("a", "ß"), ("ß", "b"), ("B", "ä")]
    return edges, vertices


GRAPHS = {
    "random_sparse": _random_sparse,
    "path_401": _path_401,
    "disjoint_cliques": _disjoint_cliques,
    "star": _star,
    "empty": _empty,
    "mixed_case_non_ascii": _mixed_case_non_ascii,
}


@pytest.mark.parametrize("graph", list(GRAPHS))
def test_one_task_matches_star_loop_and_union_find(spark, monkeypatch, graph):
    edges, vertices = GRAPHS[graph]()
    one_task, res = _run(spark, edges, vertices)
    assert res.converged and res.iterations == 0
    monkeypatch.setattr(components, "ONE_TASK_MAX_EDGES", -1)
    looped, res = _run(spark, edges, vertices)
    assert res.converged
    assert one_task == looped == _union_find(edges, vertices)


def test_one_task_edge_budget_boundary(spark, monkeypatch):
    """The path choice rests on the entry edge count alone: at most
    ONE_TASK_MAX_EDGES distinct edges take the one-task path."""
    monkeypatch.setattr(components, "ONE_TASK_MAX_EDGES", 3)
    ids = [f"b{i}" for i in range(6)]
    edges = [(ids[i], ids[i + 1]) for i in range(5)]
    for n_edges, one_task in ((3, True), (4, False)):
        got, res = _run(spark, edges[:n_edges], ids)
        assert res.converged
        assert (res.iterations == 0) == one_task, (n_edges, res.iterations)
        assert got == _union_find(edges[:n_edges], ids)


def test_chain_and_singletons(spark):
    vertices = [f"v{i}" for i in range(8)]
    edges = [("v0", "v1"), ("v1", "v2"), ("v2", "v3"), ("v5", "v6")]
    got, res = _run(spark, edges, vertices)
    assert res.converged
    assert got["v0"] == got["v1"] == got["v2"] == got["v3"] == "v0"
    assert got["v5"] == got["v6"] == "v5"
    assert got["v4"] == "v4" and got["v7"] == "v7"


def test_matches_union_find_random(spark, star_loop):
    rng = np.random.default_rng(3)
    vertices = [f"n{i:03d}" for i in range(120)]
    edges = []
    for _ in range(100):
        i, j = rng.integers(0, 120, 2)
        if i != j:
            a, b = sorted((vertices[i], vertices[j]))
            edges.append((a, b))
    got, res = _run(spark, edges, vertices)
    assert got == _union_find(edges, vertices)
    assert res.converged


def test_pair_recall_contingency(spark):
    oracle = spark.createDataFrame(
        [("a", "g1"), ("b", "g1"), ("c", "g1"), ("d", "g2"), ("e", "g2"), ("f", "g3")],
        ["clip_id", "component_id"],
    )
    # result splits g1 into {a,b} + {c}: catches 1 of g1's 3 pairs + g2's 1 pair
    result = spark.createDataFrame(
        [("a", "r1"), ("b", "r1"), ("c", "r2"), ("d", "r3"), ("e", "r3"), ("f", "r4")],
        ["clip_id", "component_id"],
    )
    m = pair_recall(result, oracle)
    assert m["oracle_pairs"] == 4.0
    assert m["agree_pairs"] == 2.0
    assert m["recall"] == 0.5
    assert m["precision"] == 1.0


def test_resume_from_round_checkpoint(spark, tmp_path, star_loop):
    """Kill-mid-fixpoint resume: a run cut off by max_iters leaves persisted
    round state; a fresh call with the same checkpoint_dir continues from it
    (storage-backed, not executor-pinned localCheckpoint blocks)."""
    import os

    # a path graph needs several star rounds to collapse
    vertices = [f"p{i:02d}" for i in range(24)]
    edges = [(vertices[i], vertices[i + 1]) for i in range(23)]
    e = spark.createDataFrame(edges, ["a", "b"])
    v = spark.createDataFrame([(x,) for x in vertices], ["clip_id"])
    ckpt = str(tmp_path / "rounds")

    partial = connected_components(
        e, v, max_iters=2, checkpoint_dir=ckpt, checkpoint_every=1
    )
    assert not partial.converged
    assert os.path.exists(os.path.join(ckpt, "round_2", "_SUCCESS"))

    resumed = connected_components(
        e, v, max_iters=25, checkpoint_dir=ckpt, checkpoint_every=1
    )
    assert resumed.converged
    assert resumed.iterations > 2  # continued counting from the saved round
    got = {r["clip_id"]: r["component_id"] for r in resumed.components.collect()}
    assert all(c == "p00" for c in got.values())


def test_checkpoint_cadence_odd_interval(spark, tmp_path, star_loop):
    """checkpoint_every is honored in rounds even though the loop advances
    the round counter by 2 per pass: with checkpoint_every=3 a long-diameter
    graph must persist a round no later than round 4 (the first pass where
    rounds-since-last-checkpoint >= 3). The pre-fix `it % checkpoint_every`
    test would first fire at round 6."""
    import os

    vertices = [f"c{i:02d}" for i in range(40)]
    edges = [(vertices[i], vertices[i + 1]) for i in range(39)]
    e = spark.createDataFrame(edges, ["a", "b"])
    v = spark.createDataFrame([(x,) for x in vertices], ["clip_id"])
    ckpt = str(tmp_path / "rounds_odd")

    res = connected_components(
        e, v, max_iters=4, checkpoint_dir=ckpt, checkpoint_every=3
    )
    assert not res.converged  # path-40 needs more than 4 rounds
    assert os.path.exists(os.path.join(ckpt, "round_4", "_SUCCESS"))


def test_long_path_converges_within_round_cap(spark, star_loop):
    """Adversarial diameter (round-4 VERDICT optional #7): a path graph of
    diameter 400 >> max_iters=25. Plain min-label propagation needs
    O(diameter) rounds and would hit the cap unconverged — the round-2
    defect class. The star algorithm's O(log n) contraction must converge
    well inside the cap and label every vertex with the global minimum."""
    n = 401
    ids = [f"p{i:04d}" for i in range(n)]
    e = spark.createDataFrame(
        [(ids[i], ids[i + 1]) for i in range(n - 1)], ["a", "b"]
    )
    v = spark.createDataFrame([(x,) for x in ids], ["clip_id"])
    res = connected_components(e, v)
    assert res.converged
    assert res.iterations <= 25, res.iterations
    got = {(r["clip_id"], r["component_id"]) for r in res.components.collect()}
    assert got == {(x, ids[0]) for x in ids}


def test_pair_recall_disjoint_vertex_sets(spark):
    """pair_recall semantics under vertex-set mismatch (pins the one-job
    full-outer rewrite): oracle-only clips still count toward oracle_pairs
    (missed -> recall loss) and result-only clips toward result_pairs
    (precision loss), exactly as the old per-side aggregates did."""
    oracle = spark.createDataFrame(
        [("x1", "g"), ("x2", "g"), ("x3", "g")], ["clip_id", "component_id"]
    )
    # result knows x1/x2 (same group) but never saw x3; adds y1/y2 pair
    result = spark.createDataFrame(
        [("x1", "g"), ("x2", "g"), ("y1", "h"), ("y2", "h")],
        ["clip_id", "component_id"],
    )
    m = pair_recall(result, oracle)
    assert m["oracle_pairs"] == 3.0   # C(3,2) — x3 still counted
    assert m["result_pairs"] == 2.0   # C(2,2)=1 + C(2,2)=1 — y pair counted
    assert m["agree_pairs"] == 1.0    # only (x1,x2) agreed
    assert m["recall"] == 1.0 / 3.0
    assert m["precision"] == 0.5
