#!/usr/bin/env python3
"""Closed-loop benchmark of the query registry, one workload per run.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. It builds the program and the harness
from source with sbt (once per source tree: the build's class dirs are
copied into perfbench/.build/<source hash>/, so later runs of the same
tree reuse them), runs the harness in one JVM (see
src/main/scala/perfbench/PerfBench.scala), checks every query's result
against its DuckDB oracle with tools/compare.py, and prints one JSON line
as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones. The full record of the run goes to perfbench/.run/.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, "data", "sf0.01")
TINY = os.path.join(HERE, "data", "sf0.001")
BUILD_DIR = os.path.join(HERE, ".build")
RUN_DIR = os.path.join(HERE, ".run")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# Time limits: a run that has to build may take 900 s, any other 180 s.
LIMIT_S, LIMIT_BUILD_S = 175, 890

# query_p50_s stays in the record only: with three queries a run's median
# latency is one sub-second query's, and its spread across ten seeds (0.39
# of the median on corpus_stream, 4-core VM) is wider than any allowed bound.
END_TO_END = {
    "setup_s": "s", "pass_wall_s": "s", "pass_cpu_s": "s",
    "cache_peak_mb": "MB",
}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_key():
    """Hash of every file the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def run_bounded(cmd, cwd, limit_s, env=None):
    """Run cmd in its own process group, its output to stderr; on timeout
    kill the group and wait."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=sys.stderr,
                         stderr=sys.stderr, start_new_session=True)
    try:
        return p.wait(timeout=max(1.0, limit_s))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        log(f"timed out after {limit_s:.0f} s: {cmd[0]}")
        return None


def cached_launch(key):
    """The cached (jvm options, classpath) of source tree key, or None. A
    cache is used only if every classpath entry inside the checkout is one
    of its own copies, so it never runs classes another build left in
    target/."""
    cache = os.path.join(BUILD_DIR, key)
    launch = os.path.join(cache, "launch.txt")
    if not os.path.isfile(launch):
        return None
    with open(launch) as f:
        opts, cp = f.read().split("\n")[:2]
    cp = cp.split("\0")
    for e in cp:
        inside = os.path.commonpath([ROOT, e]) == ROOT
        if not os.path.exists(e) or (
                inside and os.path.commonpath([cache, e]) != cache):
            return None
    return opts.split("\0"), cp


def build(deadline):
    """Compile the program and the harness; return (jvm options, classpath)."""
    key = source_key()
    launch = cached_launch(key)
    if launch is None:
        log(f"building {key} with sbt")
        env = dict(os.environ, COURSIER_MODE="offline")
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
        rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true",
                          "compile", "perfbench/launchFile"],
                         HERE, deadline - time.monotonic(), env)
        if rc != 0:
            raise SystemExit(f"[perfbench] build failed (sbt exit {rc})")
        # Copy the class dirs (and any other classpath entry inside the
        # checkout) into the cache; jars outside it are left where they are.
        with open(os.path.join(HERE, "target", "launch.txt")) as f:
            opts, cp = f.read().split("\n")[:2]
        cache = os.path.join(BUILD_DIR, key)
        tmp = f"{cache}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        cached = []
        for i, e in enumerate(cp.split("\0")):
            if os.path.commonpath([ROOT, e]) != ROOT:
                cached.append(e)
                continue
            dst = os.path.join(tmp, "cp", f"{i}-{os.path.basename(e)}")
            (shutil.copytree if os.path.isdir(e) else shutil.copyfile)(e, dst)
            cached.append(os.path.join(cache, os.path.relpath(dst, tmp)))
        with open(os.path.join(tmp, "launch.txt"), "w") as f:
            f.write(opts + "\n" + "\0".join(cached) + "\n")
        shutil.rmtree(cache, ignore_errors=True)
        os.replace(tmp, cache)
        launch = cached_launch(key)
    return launch


def oracle_gate(dump_dir, dumped, limit_s):
    """Compare each dumped query with its oracle SQL (dump_dir holds
    oracle_sql.json) by running tools/compare.py. Returns
    {query: None | reason}; a query it gives no verdict for has failed."""
    cmd = [sys.executable, os.path.join(ROOT, "tools", "compare.py"),
           DATA, dump_dir] + list(dumped)
    p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                         stderr=sys.stderr, text=True, start_new_session=True)
    try:
        out, _ = p.communicate(timeout=max(1.0, limit_s))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        out, _ = p.communicate()
        log(f"oracle compare timed out after {limit_s:.0f} s")
    sys.stderr.write(out)
    verdict = {q: f"no verdict from tools/compare.py (exit {p.returncode})"
               for q in dumped}
    for line in out.splitlines():
        status, _, rest = line.partition(" ")
        name, _, detail = rest.strip().partition(":")
        if status in ("OK", "FAIL") and name in verdict:
            verdict[name] = None if status == "OK" else detail.strip()
    return verdict


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    a = ap.parse_args()
    t0 = time.monotonic()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))
            and os.path.isfile(os.path.join(ROOT, "tools", "compare.py"))):
        log(f"no program sources under {ROOT}: run from a checkout's root")
        return 2
    missing = [t for d in (DATA, TINY) for t in TABLES
               if not os.path.isfile(os.path.join(d, t + ".parquet"))]
    if missing:
        log(f"benchmark data missing: {missing}")
        return 2

    built = cached_launch(source_key()) is not None
    deadline = t0 + (LIMIT_S if built else LIMIT_BUILD_S)
    jvm_opts, cp = build(deadline)

    out_dir = os.path.join(RUN_DIR, f"{a.workload}-seed{a.seed}-trace{a.trace}")
    shutil.rmtree(out_dir, ignore_errors=True)
    tmp = os.path.join(out_dir, "tmp")
    os.makedirs(tmp)
    cmd = (["java"] + jvm_opts +
           [f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            "-cp", os.pathsep.join(cp), "perfbench.PerfBench",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--data", DATA, "--tiny", TINY, "--out", out_dir])
    # Leave time for the oracle compare after the JVM exits.
    rc = run_bounded(cmd, out_dir, deadline - time.monotonic() - 10)
    record_path = os.path.join(out_dir, "record.json")
    if rc != 0 or not os.path.isfile(record_path):
        log(f"harness failed (exit {rc}); see the log above")
        return 1
    with open(record_path) as f:
        rec = json.load(f)

    verdict = oracle_gate(os.path.join(out_dir, "dump"), rec["dumped"],
                          deadline - time.monotonic())
    mismatches = {q: r for q, r in verdict.items() if r}
    for q, r in sorted(mismatches.items()):
        log(f"ORACLE MISMATCH {q}: {r}")
    for msg in rec["failures"]:
        log(f"FAILED {msg}")
    attempted = rec["attempted"] + len(verdict)
    failed = len(rec["failures"]) + len(mismatches)
    rec["oracle"] = verdict
    rec["failed_ops_frac"] = failed / attempted
    with open(os.path.join(out_dir, "result.json"), "w") as f:
        json.dump(rec, f, indent=1)
    shutil.rmtree(os.path.join(out_dir, "dump"), ignore_errors=True)
    shutil.rmtree(tmp, ignore_errors=True)

    e2e = rec["end_to_end"]
    log(f"{a.workload} seed {a.seed}: failed_ops_frac {failed}/{attempted}; "
        f"query_p50_s {e2e['query_p50_s']:.4f} s over "
        f"{e2e['query_samples']} query executions; "
        f"env {json.dumps(rec['env'])}")
    if a.trace:
        metrics = {k: {"value": v, "unit": unit_of(k)}
                   for k, v in sorted(rec["per_layer"].items())}
    else:
        metrics = {k: {"value": e2e[k], "unit": u}
                   for k, u in END_TO_END.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


def unit_of(name):
    suffix = name.rsplit("_", 1)[-1]
    return {"s": "s", "mb": "MB", "kb": "KB", "frac": "ratio",
            "share": "ratio", "util": "ratio"}.get(suffix, "count")


if __name__ == "__main__":
    sys.exit(main())
