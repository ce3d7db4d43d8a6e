#!/usr/bin/env python3
"""Records the benchmark's baseline on this host at the checked-out commit.

Runs every workload (those listed in `BENCHMARK.json` and those run by
name only) once untraced and once traced with one seed, and writes
`perfbench/baseline.json`: the printed
metrics, the host (nproc, memory, CPU model), load average at the start
and end of each run, the JVM flags, the seed and the commit, the reason
each workload was chosen, and the layer-to-metric map. It claims no gain.

Usage: python3 perfbench/baseline.py [--seed N] [--seconds S]
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import run  # noqa: E402

# why the workloads that BENCHMARK.json does not list were built
BY_NAME = {
    "structural_peel": "the loop layer used differently: shrinking active "
                       "sets and wedge joins over a StructuralIndex built "
                       "in set-up",
    "graph_ingest": "cold graph derivation and writes with no shared work; "
                    "the loop does nothing",
}

LAYER_MAP = [
    {"layers": ["operators.*", "Checkpoints.*"],
     "moves": ["work_per_s", "wall_s", "peak_storage_mb"],
     "on": ["rank_loop"], "flat_on": ["train_data", "graph_ingest"]},
    {"layers": ["operators.*", "StructuralIndex.read_s"],
     "moves": ["work_per_s"], "on": ["structural_peel"],
     "flat_on": ["train_data", "graph_ingest"]},
    {"layers": ["StructuralIndex.build_s"], "moves": ["setup_s"],
     "on": ["structural_peel"],
     "flat_on": ["rank_loop", "graph_ingest", "train_data"]},
    {"layers": ["GraphIO.*"],
     "moves": ["work_per_s", "wall_s", "setup_s"],
     "on": ["graph_ingest (work_per_s, wall_s)",
            "rank_loop (setup_s)", "structural_peel (setup_s)"],
     "flat_on": ["train_data"]},
    {"layers": ["RankOutput.*"], "moves": ["work_per_s"],
     "on": ["graph_ingest"], "flat_on": ["rank_loop"]},
    {"layers": ["pipelines.*"], "moves": ["work_per_s"],
     "on": ["train_data"],
     "flat_on": ["rank_loop", "structural_peel", "graph_ingest"]},
    {"layers": ["streaming.*"], "moves": ["work_per_s"],
     "on": ["train_data"],
     "flat_on": ["rank_loop", "structural_peel", "graph_ingest"]},
    {"layers": ["driver.dark_s", "*.dark_s"], "moves": ["wall_s"],
     "on": ["every workload"], "flat_on": []},
]

# each layer's self time per traced pass
LAYER_SELF = ["GraphIO.wall_s", "operators.wall_s", "Checkpoints.release_s",
              "StructuralIndex.read_s", "RankOutput.wall_s", "pipelines.wall_s",
              "streaming.wall_s", "sink.wall_s"]


def host():
    info = {"nproc": len(os.sched_getaffinity(0))}
    with open("/proc/meminfo") as f:
        info["mem_total_kb"] = int(f.readline().split()[1])
    with open("/proc/cpuinfo") as f:
        for line in f:
            if line.startswith("model name"):
                info["cpu_model"] = line.split(":", 1)[1].strip()
                break
    return info


def commit():
    r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                       capture_output=True, text=True)
    return r.stdout.strip() if r.returncode == 0 else None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=None)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = a.seconds or spec["run_seconds"]
    out = {"claim": None, "commit": commit(), "seed": a.seed,
           "seconds": seconds, "host": host(), "workloads": {},
           "layer_map": LAYER_MAP}
    why = dict(BY_NAME, **{w["name"]: w["why"] for w in spec["workloads"]})
    for name in run.WORKLOADS:
        entry = {"why": why[name],
                 "in_benchmark_json": name not in BY_NAME}
        for trace in (0, 1):
            r = subprocess.run(
                [sys.executable, "perfbench/run.py", "--workload", name,
                 "--seed", str(a.seed), "--seconds", str(seconds),
                 "--trace", str(trace)],
                cwd=ROOT, capture_output=True, text=True, timeout=900)
            if r.returncode != 0:
                sys.exit(f"{name} trace={trace} failed:\n{r.stderr}")
            res = json.loads(r.stdout.strip().splitlines()[-1])
            with open(os.path.join(run.BUILD, "work", name,
                                   "result.json")) as f:
                detail = json.load(f)
            key = "traced" if trace else "untraced"
            entry[key] = res
            entry[key + "_run"] = {
                k: detail[k] for k in ("loadavg_start", "loadavg_end",
                                       "jvm_flags", "cpus", "session_s",
                                       "setup_cold_s", "warm_pass_s")}
            entry[key + "_run"]["pass_wall_s"] = [
                p["wall_s"] for p in detail["passes"]]
            if trace:
                # the traced pass is a process's second pass, the untraced
                # wall_s the median of its second and third; the sum differs
                # from wall_s by that warm-up step, the tracing overhead,
                # Spark jobs the benchmark's own glue started, and
                # run-to-run variation
                m = {k: v["value"] for k, v in res["metrics"].items()}
                covered = sum(m[k] for k in LAYER_SELF) + m["driver.dark_s"]
                wall = entry["untraced"]["metrics"]["wall_s"]["value"]
                entry["self_time_check"] = {
                    "sum_layer_self_s_plus_driver_dark_s": covered,
                    "untraced_wall_s": wall,
                    "share_of_untraced_wall_s": covered / wall}
        out["workloads"][name] = entry
        print(f"recorded {name}", flush=True)
    with open(os.path.join(HERE, "baseline.json"), "w") as f:
        json.dump(out, f, indent=1)
        f.write("\n")


if __name__ == "__main__":
    main()
