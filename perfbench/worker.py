"""One benchmark run inside its own session: start Spark and time
`DedupPipeline.run(resume=False)` passes over `<run_dir>/corpus.parquet`
until the requested seconds have passed (at least one pass; the first is
cold, as in a one-shot CLI run). With tracing on, the one pass is traced.
Writes `<run_dir>/result.json`.

    python3 perfbench/worker.py <run_dir> <seconds> <trace>
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
import traceback

from procs import cpu_times, session_cpu_s

def counters(pipe) -> dict:
    """The integer outcome of a pass; identical for every pass on one corpus."""
    m = pipe.metrics
    out = {f"{s}.rows": int(m[s]["rows"]) for s in ("signatures", "candidates", "verified", "components")}
    out.update({f"candidates.{k}": int(v) for k, v in m["candidates"]["counters"].items()})
    out["components.rounds"] = int(m["components"]["counters"]["iterations"])
    out["signatures.quarantined"] = int(sum(m["signatures"]["quarantined_by_codec"].values()))
    out["n_components"] = int(m["summary"]["n_components"])
    out["clips_in_dup_groups"] = int(m["summary"]["clips_in_dup_groups"])
    return out


def main(argv: list[str]) -> None:
    run_dir, seconds, trace = argv[0], float(argv[1]), argv[2] == "1"
    from relieff_lsh_spark.config import DedupConfig
    from relieff_lsh_spark.plans.dedup_pipeline import DedupPipeline
    from relieff_lsh_spark.session import get_spark

    sid = os.getsid(0)
    res: dict = {"passes": [], "failures": [], "attempted": 0}
    # Spark wants the Unix socket dir under 61 characters (socket paths may
    # not exceed 107 bytes). A path relative to the checkout root, which is
    # the cwd of every process of the run, stays short however deep the
    # checkout is. Socket file names are random, so runs can share it.
    sock_dir = os.path.join(".perfbench", "sock")
    os.makedirs(sock_dir, exist_ok=True)
    conf = {
        "spark.sql.files.maxPartitionBytes": str(32 * 1024 * 1024),
        "spark.python.unix.domain.socket.dir": sock_dir,
    }
    if trace:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    res["session_ready"] = time.time()
    cfg = DedupConfig()

    def one_pass(tag: str, tracer=None) -> dict:
        wh = os.path.join(run_dir, f"wh_{tag}")
        pipe = DedupPipeline(spark, cfg, wh, os.path.join(run_dir, "corpus.parquet"))
        steal0, tot0 = cpu_times()
        cpu0, t0 = session_cpu_s(sid), time.time()
        if tracer:
            tracer.run_pipeline(pipe)
        else:
            pipe.run(resume=False)
        t1, cpu1 = time.time(), session_cpu_s(sid)
        steal1, tot1 = cpu_times()
        return {"tag": tag, "start": t0, "end": t1, "wall_s": t1 - t0, "cpu_s": cpu1 - cpu0,
                "steal_frac": (steal1 - steal0) / max(tot1 - tot0, 1),
                "counters": counters(pipe), "warehouse": wh}

    def attempt(tag: str, tracer=None) -> dict | None:
        res["attempted"] += 1
        try:
            p = one_pass(tag, tracer)
        except Exception:
            res["failures"].append({"tag": tag, "error": traceback.format_exc()})
            return None
        if res["passes"]:  # keep only the last pass's snapshots on disk
            shutil.rmtree(res["passes"][-1]["warehouse"], ignore_errors=True)
        res["passes"].append(p)
        return p

    res["timed_start"] = time.time()
    if trace:
        from spans import Tracer

        tracer = Tracer(spark)
        if attempt("traced", tracer):
            res["spans"] = tracer.spans
    else:
        while attempt(f"p{len(res['passes'])}") and time.time() - res["timed_start"] < seconds:
            pass
    spark.stop()
    if "spans" in res:
        from spans import event_log_metrics

        res["event_log"] = event_log_metrics(os.path.join(run_dir, "eventlog"))
    with open(os.path.join(run_dir, "result.json"), "w") as f:
        json.dump(res, f, indent=1)


if __name__ == "__main__":
    main(sys.argv[1:])
