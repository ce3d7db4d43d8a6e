#!/usr/bin/env python3
"""Smoke test of the benchmark itself.

Runs every workload once untraced, and the workloads listed in
`BENCHMARK.json` once traced, each for one second on one seed, and
asserts that:

- each run exits 0 and its last stdout line is the result object;
- every metric `BENCHMARK.json` names is printed, with its unit;
- no job failed or differed from its oracle;
- the run left `git status` clean (when run inside a git checkout).

Also checks that the command fails fast, without printing a result,
in a directory that holds only `BENCHMARK.json` and `perfbench/`.

Usage: python3 perfbench/smoke.py [--seed N]
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import run  # noqa: E402


def bench(args, cwd=ROOT):
    return subprocess.run([sys.executable, "perfbench/run.py"] + args,
                          cwd=cwd, capture_output=True, text=True,
                          timeout=900)


def git_dirty():
    r = subprocess.run(["git", "status", "--porcelain"], cwd=ROOT,
                       capture_output=True, text=True)
    return r.stdout.rstrip() if r.returncode == 0 else ""


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    seed = ap.parse_args().seed
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    listed = [w["name"] for w in spec["workloads"]]
    wanted = {0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
              1: {m["name"]: m["unit"] for m in spec["per_layer"]}}
    assert wanted[0] == run.END_TO_END, "BENCHMARK.json end_to_end != run.py"
    assert wanted[1] == run.PER_LAYER, "BENCHMARK.json per_layer != run.py"
    dirty_before = git_dirty()
    problems = []
    cases = [(w, 0) for w in run.WORKLOADS] + [(w, 1) for w in listed]
    for workload, trace in cases:
        r = bench(["--workload", workload, "--seed", str(seed),
                   "--seconds", "1", "--trace", str(trace)])
        tag = f"{workload} trace={trace}"
        if r.returncode != 0:
            problems.append(f"{tag}: exit {r.returncode}: {r.stderr[-400:]}")
            continue
        res = json.loads(r.stdout.strip().splitlines()[-1])
        got = {k: v["unit"] for k, v in res["metrics"].items()}
        if got != wanted[trace]:
            problems.append(f"{tag}: metrics/units differ from BENCHMARK.json")
        if not res["correct"] or res["failed"] or res["attempted"] < 1:
            problems.append(f"{tag}: {res['failed']}/{res['attempted']} "
                            "jobs failed")
        print(f"ok   {tag}: {res['attempted']} jobs checked", flush=True)
    if git_dirty() != dirty_before:
        problems.append("the runs changed `git status`:\n" + git_dirty())
    bare = os.path.join(run.BUILD, "smoke-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("target", "__pycache__"))
    r = bench(["--workload", listed[0], "--seed", str(seed),
               "--seconds", "1", "--trace", "0"], cwd=bare)
    shutil.rmtree(bare)
    if r.returncode == 0 or r.stdout.strip():
        problems.append("without the engine sources the command did "
                        "not fail cleanly")
    for p in problems:
        print("FAIL " + p)
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
