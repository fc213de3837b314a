"""Benchmark of the dedup pipeline on this host, end to end and per stage.

    python3 perfbench/run.py --workload {audio_corpus,hot_bands} --seed N \
        --seconds S --trace {0,1}

Run from the repository root. Inputs are generated from the seed in a child
session. A second child session starts Spark at local[nproc] and times
`DedupPipeline.run(resume=False)` passes over the corpus until S seconds
have passed (at least one pass; the first is cold). With --trace 1 the pass
is traced instead: stage spans, job groups and the Spark event log, reported
as per-stage metrics. Correctness is checked after the passes, untimed: pair
recall of the last pass's components against `brute_oracle`, the planted
over-cap group in the drop counters (hot_bands), and the pass counters
against the first run of the same workload and seed. Every process a child
session starts is waited for, and killed after a grace period; a survivor
fails the run.

The last stdout line is one JSON object: correct, attempted, failed, metrics.
Work files live under `.perfbench/` in the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from procs import KILL_WAIT_S, SessionRun, host_info  # noqa: E402

WORK = ".perfbench"
RECALL_MIN = 0.99
DEADLINE_S = 170.0  # a run, children and their cleanup included
GRACE_S = 10.0  # a leader's exit to its session's last exit (the JVM: ~2 s)


def driver_mem(mem_total_mb: int) -> str:
    """A quarter of MemTotal, at least 1g: session.py pre-touches the whole
    heap (-Xms = -Xmx), and this host's memory is shared."""
    return f"{max(1, mem_total_mb // 4096)}g"


def child_env(root: str, run_dir: str, host: dict) -> dict:
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": os.pathsep.join([root, HERE]),
        "SPARK_DRIVER_MEM": driver_mem(host["mem_total_mb"]),
        "SPARK_GRAFT_CPUS": str(host["nproc"]),
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        # keep the JVMs inside the checkout too: native-library extraction
        # goes to java.io.tmpdir, and hsperfdata would go to /tmp
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    for k in ("SPARK_GRAFT_MASTER", "PYSPARK_GATEWAY_PORT", "PYSPARK_GATEWAY_SECRET"):
        env.pop(k, None)
    return env


def run_child(cmd: list[str], env: dict, log: str, deadline: float) -> SessionRun:
    run = SessionRun([sys.executable, *cmd], env, log)
    code, survivors = run.wait(deadline - time.time() - GRACE_S - KILL_WAIT_S, GRACE_S)
    if survivors:
        raise SystemExit(f"processes survived SIGKILL: {survivors}")
    if code != 0:
        with open(log, errors="replace") as f:
            tail = f.read()[-4000:]
        raise SystemExit(f"{cmd[0]} exited with {code}; log tail:\n{tail}")
    return run


def pair_recall(result, oracle) -> float:
    """Share of the oracle's same-component pairs that `result` also puts in
    one component (both: DataFrames of clip_id, component_id)."""
    m = oracle.merge(result, on="clip_id", suffixes=("_o", "_r"))

    def pairs(sizes):
        return float((sizes * (sizes - 1) / 2).sum())

    both = pairs(m.groupby(["component_id_o", "component_id_r"]).size())
    want = pairs(oracle.groupby("component_id").size())
    return both / want if want else 1.0


def check(res: dict, run_dir: str, oracle_path: str, ref_path: str) -> tuple[dict, list[str]]:
    """Untimed correctness checks; returns (facts, failed check messages)."""
    import pandas as pd
    import pyarrow.parquet as pq

    bad: list[str] = []
    last = res["passes"][-1]
    with open(os.path.join(run_dir, "planted.json")) as f:
        planted = json.load(f)
    oracle = pd.read_parquet(oracle_path)
    comps = pq.read_table(
        os.path.join(last["warehouse"], "components", "v=1"),
        columns=["clip_id", "component_id"],
    ).to_pandas()
    recall = pair_recall(comps[comps["clip_id"].isin(oracle["clip_id"])], oracle)
    if recall < RECALL_MIN:
        bad.append(f"recall {recall:.4f} < {RECALL_MIN}")
    cfg = inputs.DedupConfig()
    for g in planted["groups"]:
        if g["group_id"] in planted["over_cap"]:
            # one identical transcript: each of its text bands is one bucket
            # of at least `size` rows, over the cap, so dropped and counted
            need = g["size"] * cfg.bands
            got = last["counters"]["candidates.dropped_rows"]
            if got < need:
                bad.append(f"over-cap group {g['group_id']}: dropped_rows {got} < {need}")
    passes = res["passes"]
    ref = passes[0]["counters"]
    if os.path.exists(ref_path):
        with open(ref_path) as f:
            ref = json.load(f)
    else:
        with open(ref_path, "w") as f:
            json.dump(ref, f, indent=1, sort_keys=True)
    for p in passes:
        if p["counters"] != ref:
            diff = {k: (ref.get(k), v) for k, v in p["counters"].items() if ref.get(k) != v}
            bad.append(f"pass {p['tag']} counters differ from seed reference: {diff}")
    return {"recall": recall, "n": planted["n"]}, bad


def e2e_metrics(res: dict, run: SessionRun, facts: dict) -> dict:
    passes = res["passes"]
    return {
        "setup_s": (res["timed_start"] - run.t_launch, "s"),
        "cpu_s": (statistics.median(p["cpu_s"] for p in passes), "s"),
        "peak_rss_mb": (run.peak_rss_mb([(p["start"], p["end"]) for p in passes]), "MB"),
        "recall": (facts["recall"], "ratio"),
    }


def layer_metrics(res: dict, facts: dict, untraced_wall_s: float) -> dict:
    from spans import DRIVER_TAG, STAGES

    traced, ev = res["passes"][0], res["event_log"]
    spans = {s["name"]: s for s in res["spans"]}
    cores = res["host"]["nproc"]
    c = traced["counters"]
    out = {}
    for s in STAGES:
        span, e = spans[s], ev.get(s, {})
        wall = span["end"] - span["start"]
        busy = e.get("task_busy_s", 0.0)
        out.update({
            f"{s}.wall_s": (wall, "s"),
            f"{s}.task_busy_s": (busy, "s"),
            f"{s}.cpu_s": (span["cpu_s"], "s"),
            f"{s}.gc_s": (e.get("gc_s", 0.0), "s"),
            f"{s}.idle_frac": (1.0 - busy / (wall * cores), "ratio"),
            f"{s}.jobs": (int(e.get("jobs", 0)), "count"),
            f"{s}.shuffle_write_mb": (e.get("shuffle_write_mb", 0.0), "MB"),
            f"{s}.spill_mb": (e.get("spill_mb", 0.0), "MB"),
            f"{s}.py_sent_mb": (e.get("py_sent_mb", 0.0), "MB"),
            f"{s}.rows_out": (c[f"{s}.rows"], "count"),
        })
    out.update({
        "candidates.salted_buckets": (c["candidates.salted_buckets"], "count"),
        "candidates.dropped_buckets": (c["candidates.dropped_buckets"], "count"),
        "candidates.dropped_rows": (c["candidates.dropped_rows"], "count"),
        "verified.yield": (c["verified.rows"] / max(c["candidates.rows"], 1), "ratio"),
        "components.rounds": (c["components.rounds"], "count"),
        "signatures.quarantined": (c["signatures.quarantined"], "count"),
    })
    pipe = spans[DRIVER_TAG]
    pipe_wall = pipe["end"] - pipe["start"]
    stage_wall = sum(spans[s]["end"] - spans[s]["start"] for s in STAGES)
    out.update({
        "pipeline.driver_s": (pipe_wall - stage_wall, "s"),
        "pipeline.jobs": (int(ev.get(DRIVER_TAG, {}).get("jobs", 0)), "count"),
        "trace.wall_s": (traced["wall_s"], "s"),
        "trace.clips_per_s": (facts["n"] / traced["wall_s"], "1/s"),
        "trace.overhead_s": (traced["wall_s"] - untraced_wall_s, "s"),
    })
    return out


class Run:
    """One workload and seed in one checkout: its inputs, work dirs and the
    records of earlier runs."""

    def __init__(self, workload: str, seed: int, seconds: float):
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.deadline = time.time() + DEADLINE_S
        self.host = host_info()
        root = os.getcwd()
        work = os.path.join(root, WORK)
        for d in ("oracle", "counters", "records"):
            os.makedirs(os.path.join(work, d), exist_ok=True)
        self.sizes = inputs.SIZES[workload]
        key = f"{workload}-{self.sizes}-s{seed}"
        self.oracle = os.path.join(work, "oracle", f"{key}.parquet")
        self.counters = os.path.join(work, "counters", f"{key}.json")
        self.records = os.path.join(work, "records", f"{workload}.jsonl")
        self.dir = os.path.join(work, "runs", f"{key}-{os.getpid()}")
        shutil.rmtree(self.dir, ignore_errors=True)
        os.makedirs(self.dir)
        self.env = child_env(root, self.dir, self.host)
        self.log = os.path.join(self.dir, "child.log")

    def prepare(self) -> None:
        run_child([os.path.join(HERE, "inputs.py"), self.workload, str(self.seed), self.dir,
                   self.oracle, str(self.host["nproc"])], self.env, self.log, self.deadline)

    def untraced_walls(self) -> list[float]:
        """Pass walls of the correct untraced runs recorded for this corpus:
        of this seed if there are any, else of every seed."""
        if not os.path.exists(self.records):
            return []
        with open(self.records) as f:
            recs = [json.loads(line) for line in f]
        recs = [r for r in recs if r["sizes"] == self.sizes and not r["trace"] and not r["bad"]]
        same = [r for r in recs if r["seed"] == self.seed] or recs
        return [p["wall_s"] for r in same for p in r["passes"]]

    def measure(self, trace: bool, untraced_wall_s: float | None = None) -> tuple[int, int, dict, list[str]]:
        """Run the worker; returns (attempted, failed, metrics, failed checks)."""
        run = run_child([os.path.join(HERE, "worker.py"), self.dir, str(self.seconds),
                         str(int(trace))], self.env, self.log, self.deadline)
        with open(os.path.join(self.dir, "result.json")) as f:
            res = json.load(f)
        res["host"] = {**self.host, "driver_mem": self.env["SPARK_DRIVER_MEM"]}
        bad = [f["error"].strip().splitlines()[-1] for f in res["failures"]]
        metrics = {}
        if not bad:
            facts, bad = check(res, self.dir, self.oracle, self.counters)
            metrics = (layer_metrics(res, facts, untraced_wall_s) if trace
                       else e2e_metrics(res, run, facts))
        for p in res["passes"]:
            shutil.rmtree(p["warehouse"], ignore_errors=True)
        record = {
            "workload": self.workload, "sizes": self.sizes, "seed": self.seed,
            "trace": int(trace), "time": time.time(), "host": res["host"], "bad": bad,
            "session_s": res["session_ready"] - run.t_launch,
            "worker_s": run.t_exit - run.t_launch,
            "steal_frac": [p["steal_frac"] for p in res["passes"]],
            "passes": [{k: p[k] for k in ("tag", "wall_s", "cpu_s", "counters")}
                       for p in res["passes"]],
            "metrics": metrics,
            "spans": res.get("spans"),
        }
        with open(self.records, "a") as f:
            f.write(json.dumps(record) + "\n")
        return res["attempted"], len(res["failures"]), metrics, bad


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(inputs.SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a SIGTERM unwinds like an exception, so the child sessions get killed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("terminated"))

    run = Run(args.workload, args.seed, args.seconds)
    try:
        run.prepare()
        if args.trace:
            # trace.overhead_s is the traced wall minus the untraced one:
            # measure an untraced run first when none is recorded yet
            if not run.untraced_walls():
                _, _, _, bad = run.measure(trace=False)
                if bad:
                    raise SystemExit(f"untraced reference run failed: {bad}")
            attempted, failed, metrics, bad = run.measure(
                True, statistics.median(run.untraced_walls()))
        else:
            attempted, failed, metrics, bad = run.measure(trace=False)
    finally:
        shutil.rmtree(run.dir, ignore_errors=True)
    for msg in bad:
        print(f"check failed: {msg}", file=sys.stderr)
    print(json.dumps({
        "correct": not bad,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if not bad else 1


if __name__ == "__main__":
    if not os.path.isdir("relieff_lsh_spark"):
        sys.exit("run from the repository root: relieff_lsh_spark/ not found")
    sys.path.insert(0, os.getcwd())
    import inputs

    sys.exit(main())
