#!/usr/bin/env python3
"""Lake benchmark: run one workload through `ducklake.main.*` and print its
metrics as one JSON line.

    python3 lakebench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the program and the
harness from source (sbt, in lakebench/) and generates the corpus
(lakebench/gen.py); later runs reuse both while their sources are
unchanged. Everything a run writes stays under lakebench/work/, and the
run's lake is removed when it ends. See lakebench/README.md.
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
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
WORKLOADS = ("replica_10x", "write_mix", "tpch_10x", "dedup_10x", "point_frag")
# a run must end within RUN_LIMIT_S; the first run of a checkout also
# builds, and may take FIRST_RUN_LIMIT_S
RUN_LIMIT_S = 175
FIRST_RUN_LIMIT_S = 890
BUILD_TIMEOUT_S = 700
HEAP = "-Xmx3g"


def fail(msg):
    print(f"lakebench: {msg}", file=sys.stderr)
    sys.exit(2)


def tree_hash(paths, suffixes=None):
    """sha256 over the relative names and bytes of every file under `paths`."""
    h = hashlib.sha256()
    for base in paths:
        walk = ([(os.path.dirname(base), [], [os.path.basename(base)])]
                if os.path.isfile(base) else os.walk(base))
        for d, dirs, files in walk:
            dirs.sort()
            for f in sorted(files):
                p = os.path.join(d, f)
                if suffixes and not p.endswith(suffixes):
                    continue
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def wait_or_kill(proc, timeout):
    """Wait for `proc`; past `timeout` kill its whole process group. Returns
    the exit code, or None after a kill."""
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None


def build():
    """Compile the program and the harness if their sources changed; return
    the harness's JVM command line (options, then the classpath) and
    whether it built."""
    sources = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "src", "main"),
               os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties"),
               os.path.join(HERE, "src")]
    missing = [p for p in sources if not os.path.exists(p)]
    if missing:
        fail(f"program sources missing: {', '.join(os.path.relpath(p, ROOT) for p in missing)}")
    stamp = tree_hash(sources)
    launch = os.path.join(HERE, "target", "launch.txt")
    stamp_file = os.path.join(WORK, "build.stamp")
    if os.path.exists(launch) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return [l for l in open(launch).read().splitlines() if l], False
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        repos = os.path.expanduser("~/.sbt/repositories")
        env["SBT_OPTS"] = "-Dsbt.offline=true -Xmx3g" + (
            f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
            if os.path.exists(repos) else "")
    try:
        proc = subprocess.Popen(["sbt", "--batch", "-Dsbt.log.noformat=true", "launchFile"],
                                cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                                stdin=subprocess.DEVNULL, start_new_session=True)
    except OSError as e:
        fail(f"build failed: {e}")
    if wait_or_kill(proc, BUILD_TIMEOUT_S) != 0 or not os.path.exists(launch):
        fail("build failed")
    os.makedirs(WORK, exist_ok=True)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return [l for l in open(launch).read().splitlines() if l], True


def corpus(sf):
    """Generate the corpus once per generator version and size."""
    gen = os.path.join(HERE, "gen.py")
    out = os.path.join(WORK, f"corpus-sf{sf}")
    marker = os.path.join(out, "_DONE")
    stamp = tree_hash([gen])
    if os.path.exists(marker) and open(marker).read() == stamp:
        return out
    shutil.rmtree(out, ignore_errors=True)
    r = subprocess.run([sys.executable, gen, "--out", out, "--sf", str(sf)],
                       stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        fail("corpus generation failed")
    with open(marker, "w") as f:
        f.write(stamp)
    return out


def corpus_fingerprint(out):
    return tree_hash([out], suffixes=(".parquet",))


def duckdb_pass(run_dir, corpus_dir, cores):
    """Reference only: one pass of the same TPC-H SQL in DuckDB over the same
    files, after a warm-up pass."""
    import duckdb
    con = duckdb.connect()
    con.execute(f"SET threads = {cores}")
    for t in ("region", "nation", "customer", "supplier", "part", "orders", "lineitem"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{corpus_dir}/{t}/*.parquet')")
    sqls = [line.split("\t", 1)[1] for line in
            open(os.path.join(run_dir, "tpch_sql.tsv")).read().splitlines() if line]
    for q in sqls:
        con.execute(q).fetchall()
    t0 = time.perf_counter()
    for q in sqls:
        con.execute(q).fetchall()
    return time.perf_counter() - t0


def main():
    ap = argparse.ArgumentParser(description="lake benchmark: one workload, one run")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=0.005, help="scale of one of the ten replicas")
    a = ap.parse_args()

    start = time.monotonic()
    launch, built = build()
    corpus_dir = corpus(a.sf)
    fp_before = corpus_fingerprint(corpus_dir)
    cores = len(os.sched_getaffinity(0))
    run_dir = os.path.join(WORK, "runs", uuid.uuid4().hex[:12])
    os.makedirs(os.path.join(run_dir, "tmp"))
    cmd = (["java"] + launch[:-2] +
           [HEAP, f"-Djava.io.tmpdir={run_dir}/tmp", f"-Dderby.stream.error.file={run_dir}/derby.log"] +
           launch[-2:] +
           ["lakebench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--corpus", corpus_dir,
            "--run", run_dir, "--cores", str(cores)])
    try:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=subprocess.PIPE, stderr=sys.stderr,
                                stdin=subprocess.DEVNULL, text=True, start_new_session=True)
        # 10 s stay for the DuckDB pass and the cleanup
        limit = FIRST_RUN_LIMIT_S if built else RUN_LIMIT_S
        budget = limit - (time.monotonic() - start) - 10
        try:
            out, _ = proc.communicate(timeout=budget)
        except subprocess.TimeoutExpired:
            wait_or_kill(proc, 0)
            fail(f"run exceeded {budget:.0f} s")
        lines = [l for l in out.splitlines() if l.startswith("LAKEBENCH_RESULT ")]
        if proc.returncode != 0 or not lines:
            fail(f"harness exited with {proc.returncode} and no result")
        result = json.loads(lines[-1].split(" ", 1)[1])
        if a.trace:
            has_tpch = os.path.exists(os.path.join(run_dir, "tpch_sql.tsv"))
            result["metrics"]["tpch.duckdb_pass_s"] = {
                "value": duckdb_pass(run_dir, corpus_dir, cores) if has_tpch else 0.0, "unit": "s"}
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if corpus_fingerprint(corpus_dir) != fp_before:
        print("lakebench: the run changed its input corpus", file=sys.stderr)
        result["correct"] = False
        result["failed"] += 1
    print(json.dumps(result))


if __name__ == "__main__":
    main()
