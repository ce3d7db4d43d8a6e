#!/usr/bin/env python3
"""Runs one benchmark workload against the engine and prints its metrics.

Usage (from the repository root):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1>

The last line of standard output is one JSON object:
`{"correct", "attempted", "failed", "metrics"}`. With `--trace 0` the
metrics are the end-to-end ones, with `--trace 1` the per-layer ones
(see `perfbench/README.md`). Every job's output is checked against the
DuckDB oracle of the engine gate it reproduces, run on the same inputs.

Builds the engine and the harness with sbt when their sources changed,
generates the seeded inputs, and keeps everything it writes under
`.bench_build/` in the repository root.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from concurrent.futures import ThreadPoolExecutor

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
DEADLINE_S = 170

# Inputs: the smallest test scale's tables (1500 orders, 6000 line items,
# 1000 events, 500 documents), documents replicated `DOC_REPS` times.
DOC_REPS = 2
WORKLOADS = ["rank_loop", "structural_peel", "graph_ingest", "train_data"]

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "work_per_s": "1/s",
    "cpu_s": "s",
    "peak_storage_mb": "MB",
}


PER_LAYER = {
    "GraphIO.wall_s": "s",
    "GraphIO.jobs": "count",
    "GraphIO.input_mb": "MB",
    "GraphIO.shuffle_mb": "MB",
    "GraphIO.cached_mb": "MB",
    "GraphIO.layout_write_s": "s",
    "GraphIO.layout_read_s": "s",
    "GraphIO.setup_s": "s",
    "operators.wall_s": "s",
    "operators.iterations": "count",
    "operators.s_per_iter": "s",
    "operators.jobs_per_iter": "count",
    "operators.stages_per_iter": "count",
    "operators.tasks_per_stage": "count",
    "operators.shuffle_mb_per_iter": "MB",
    "operators.exec_cpu_s": "s",
    "operators.gc_s": "s",
    "operators.spill_mb": "MB",
    "operators.dark_s": "s",
    "Checkpoints.blocks_written": "count",
    "Checkpoints.mb_written": "MB",
    "Checkpoints.release_s": "s",
    "Checkpoints.missing_block_warns": "count",
    "Checkpoints.release_useful_ratio": "ratio",
    "StructuralIndex.build_s": "s",
    "StructuralIndex.read_s": "s",
    "StructuralIndex.mb": "MB",
    "RankOutput.wall_s": "s",
    "RankOutput.write_mb": "MB",
    "pipelines.wall_s": "s",
    "pipelines.exec_cpu_s": "s",
    "pipelines.shuffle_mb": "MB",
    "pipelines.spill_mb": "MB",
    "pipelines.dark_s": "s",
    "pipelines.docs_per_s": "1/s",
    "streaming.wall_s": "s",
    "streaming.batches": "count",
    "streaming.trigger_s": "s",
    "streaming.add_batch_s": "s",
    "streaming.wal_commit_s": "s",
    "streaming.state_commit_s": "s",
    "streaming.state_mb": "MB",
    "streaming.dark_s": "s",
    "streaming.events_per_s": "1/s",
    "sink.wall_s": "s",
    "driver.dark_s": "s",
    "driver.gc_s": "s",
    "driver.peak_heap_after_gc_mb": "MB",
    "trace.overhead_frac": "ratio",
}
PER_LAYER.update({f"job.{g}.wall_s": "s" for g in sorted([
    "hits_base", "salsa_iterative", "pagerank_converged",
    "graph_components_indexed", "graph_ktruss_indexed",
    "graph_label_prop_indexed", "graph_kcore_indexed", "graph_degrees",
    "salsa_simplified", "rank_topk", "graph_bucketed_write",
    "pipeline_near_dedup", "dedup_minhash_lsh", "stream_restart_tws"])})


JAVA_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Digest of every file the build reads from the checkout."""
    files = []
    for pattern in ("build.sbt", "project/*.properties", "project/*.sbt",
                    "src/main/**/*", "perfbench/build.sbt",
                    "perfbench/project/*.properties", "perfbench/src/**/*"):
        files += [f for f in glob.glob(os.path.join(ROOT, pattern),
                                       recursive=True) if os.path.isfile(f)]
    h = hashlib.sha256()
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath():
    """Builds the engine and harness if needed; returns the classpath."""
    stamp_file = os.path.join(BUILD, "build.stamp")
    cp_file = os.path.join(BUILD, "classpath")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=out,
            text=True, timeout=840)
        out.write(r.stdout)
    if r.returncode != 0:
        fail(f"build failed, see {log}")
    cp = [ln for ln in r.stdout.splitlines() if ".jar" in ln or "classes" in ln]
    if not cp:
        fail(f"no classpath in build output, see {log}")
    with open(cp_file, "w") as f:
        f.write(cp[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp[-1].strip()


def canon_digest(con, sql):
    """Order-insensitive digest of a query result: columns sorted by name,
    floats rounded to 12 digits, rows sorted (the oracle-check canon)."""
    rel = con.sql(sql)
    cols = [d[0] for d in rel.description]
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = []
    for r in rel.fetchall():
        vals = []
        for i in idx:
            v = r[i]
            if isinstance(v, float):
                v = repr(round(v, 12))
            vals.append(str(v))
        rows.append("|".join(vals))
    rows.sort()
    h = hashlib.sha256("|".join(sorted(cols)).encode())
    for row in rows:
        h.update(b"\n" + row.encode())
    return h.hexdigest(), len(rows)


class Oracle:
    """DuckDB oracle over the generated inputs, digests cached per input
    directory and query text."""

    def __init__(self, data_dir):
        self.con = duckdb.connect()
        for t in ("orders", "lineitem", "events", "documents"):
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                             f"read_parquet('{data_dir}/{t}.parquet')")
        self.cache_file = os.path.join(
            BUILD, "oracle", os.path.basename(data_dir) + ".json")
        self.cache = {}
        if os.path.exists(self.cache_file):
            with open(self.cache_file) as f:
                self.cache = json.load(f)

    @staticmethod
    def key(sql):
        return hashlib.sha256(sql.encode()).hexdigest()

    def prefetch(self, sqls):
        """Computes the digests not cached yet, one query per thread (the
        dedup oracles run mostly single-threaded in DuckDB)."""
        todo = {self.key(q): q for q in sqls if self.key(q) not in self.cache}
        if not todo:
            return
        with ThreadPoolExecutor(len(todo)) as pool:
            digests = pool.map(
                lambda q: list(canon_digest(self.con.cursor(), q)),
                todo.values())
            self.cache.update(zip(todo, digests))
        os.makedirs(os.path.dirname(self.cache_file), exist_ok=True)
        tmp = self.cache_file + ".tmp"
        with open(tmp, "w") as f:
            json.dump(self.cache, f)
        os.replace(tmp, self.cache_file)

    def expected(self, sql):
        self.prefetch([sql])
        return tuple(self.cache[self.key(sql)])

    def got(self, out_dir):
        return canon_digest(
            self.con, f"SELECT * FROM read_parquet('{out_dir}/*.parquet')")

    def auth_rows(self, out_dir):
        return self.con.sql(
            f"SELECT count(*) FROM read_parquet('{out_dir}/*.parquet') "
            "WHERE kind = 'auth'").fetchone()[0]


def check_job(oracle, sql, job):
    """True when the job ran and its output equals the oracle's."""
    if not job["ok"]:
        print(f"perfbench: {job['gate']} failed: {job['error']}",
              file=sys.stderr)
        return False
    try:
        got = oracle.got(job["out"])
        want = oracle.expected(sql)
        ok = got[0] == want[0]
        if ok and os.path.isdir(job["out"] + ".text"):
            # a ranked text sink holds one line per authority
            lines = 0
            for f in glob.glob(os.path.join(job["out"] + ".text", "part-*")):
                with open(f) as fh:
                    lines += sum(1 for _ in fh)
            ok = lines == oracle.auth_rows(job["out"])
    except Exception as e:  # a missing or unreadable output is a failure
        print(f"perfbench: {job['gate']} check error: {e}", file=sys.stderr)
        return False
    if not ok:
        print(f"perfbench: {job['gate']} differs from its oracle "
              f"({got[1]} rows vs {want[1]})", file=sys.stderr)
    return ok


def run_harness(args, cp, data_dir, work, deadline):
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = ["java"]
    for p in JAVA_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            "-Xmx3g", "-XX:+UseParallelGC",
            "-cp", f"{cp}", "perfbench.Harness",
            "--workload", args.workload, "--data", data_dir, "--work", work,
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--cpus", str(cpus)]
    log = os.path.join(BUILD, "logs",
                       f"{args.workload}-seed{args.seed}-trace{args.trace}.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, cwd=work, stdout=out, stderr=out)
        try:
            p.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"harness timed out, see {log}")
    if p.returncode != 0:
        fail(f"harness exited with {p.returncode}, see {log}")
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.workload not in WORKLOADS:
        fail(f"unknown workload {args.workload!r}; one of {WORKLOADS}")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("the engine sources (build.sbt, src/main/scala/graft) are "
             "missing; run from a full checkout")

    built = time.time()
    cp = classpath()
    # a run that had to build gets the build time on top of its deadline
    deadline = START + DEADLINE_S + (time.time() - built)
    data_dir = gen.generate(args.seed, DOC_REPS, os.path.join(
        BUILD, "data", f"{gen.version()}-d{DOC_REPS}-seed{args.seed}"))
    work = os.path.join(BUILD, "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    res = run_harness(args, cp, data_dir, work, deadline)

    oracle = Oracle(data_dir)
    oracle.prefetch(set(res["oracles"].values()))
    attempted = failed = 0
    for p in res["passes"]:
        for job in p["jobs"]:
            attempted += 1
            if not check_job(oracle, res["oracles"][job["gate"]], job):
                failed += 1
    shutil.rmtree(os.path.join(work, "out"), ignore_errors=True)

    timed = [p for p in res["passes"] if not p["traced"]]
    if args.trace == 0:
        jobs = [j for p in timed for j in p["jobs"]]
        values = {
            "setup_s": res["setup_s"],
            "wall_s": statistics.median(p["wall_s"] for p in timed),
            "work_per_s": sum(j["work"] for j in jobs) /
                          sum(j["wall_s"] for j in jobs),
            "cpu_s": statistics.median(p["cpu_s"] for p in timed),
            "peak_storage_mb": res["peak_storage_mb"],
        }
        metrics = {k: {"value": values[k], "unit": u}
                   for k, u in END_TO_END.items()}
    else:
        missing = set(PER_LAYER) ^ set(res["layers"])
        if missing:
            fail(f"per-layer metrics out of sync: {sorted(missing)}")
        metrics = {k: {"value": res["layers"][k], "unit": u}
                   for k, u in PER_LAYER.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


START = time.time()
if __name__ == "__main__":
    main()
