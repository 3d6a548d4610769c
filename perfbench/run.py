#!/usr/bin/env python3
"""Run one benchmark workload of the engine and print its result.

Usage (from the repository root):
    python3 perfbench/run.py --workload extract|queries --seed N \
        --seconds S --trace 0|1 [--cores N]

Builds the engine and the harness from source on first use (sbt, offline,
outputs under .bench_build/ and the sbt target dirs), generates the
inputs, then runs the harness JVM once. The last line of standard output
is one JSON object: correct, attempted, failed and metrics (the
end-to-end metrics with --trace 0, the per-layer metrics with --trace 1).
The full run record and, when tracing, the span file are written to
.bench_build/runs/<workload>-seed<N>-trace<T>/.
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
OUT = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("extract", "queries")
# scale factor of each workload's generated input tables
SCALES = {"extract": "0.1", "queries": "0.005"}
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800
# heap of the harness JVM; the engine's build reads it from this variable
DRIVER_MEM = "3g"


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of everything the build and the generated inputs depend on."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties"),
             os.path.join(HERE, "datagen.py"),
             os.path.join(HERE, "run.py")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def run_logged(cmd, log, timeout, cwd=ROOT, env=None):
    """Run cmd in its own process group; kill the group on timeout."""
    with open(log, "wb") as fh:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=fh,
                             stderr=subprocess.STDOUT, start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def tail(log, n=30):
    with open(log, "rb") as fh:
        return b"\n".join(fh.read().splitlines()[-n:]).decode(errors="replace")


def build(stamp):
    """Compile engine + harness and write the launch files, once per stamp."""
    stamp_file = os.path.join(OUT, "build.stamp")
    launch = [os.path.join(OUT, f) for f in ("classpath.txt", "jvm_options.txt")]
    if all(map(os.path.exists, launch)) and os.path.exists(stamp_file) and \
            open(stamp_file).read() == stamp:
        return
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    env = dict(os.environ, SPARK_DRIVER_MEM=DRIVER_MEM)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(OUT, "build.log")
    t0 = time.time()
    rc = run_logged(["sbt", "--batch", "-Dsbt.log.noformat=true",
                     "compile", "launch"], log, BUILD_TIMEOUT_S,
                    cwd=HERE, env=env)
    if rc != 0:
        print(tail(log), file=sys.stderr)
        fail(f"build failed (exit {rc}); log in {log}")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    print(f"[perfbench] built in {time.time() - t0:.1f}s")


def java_cmd(args):
    cp = open(os.path.join(OUT, "classpath.txt")).read().strip()
    opts = open(os.path.join(OUT, "jvm_options.txt")).read().split()
    return ["java"] + opts + ["-cp", cp, "perfbench.Main"] + args


def prepare(stamp, cores):
    """Generate the input tables and the stored extract corpus, once."""
    data = os.path.join(OUT, "data", stamp)
    done = os.path.join(data, "READY")
    if os.path.exists(done):
        return data
    shutil.rmtree(os.path.join(OUT, "data"), ignore_errors=True)
    os.makedirs(data)
    t0 = time.time()
    for workload, sf in SCALES.items():
        subprocess.run([sys.executable, os.path.join(HERE, "datagen.py"), sf,
                        os.path.join(data, workload)], check=True)
    log = os.path.join(data, "prepare.log")
    rc = run_logged(java_cmd(["--mode", "prepare", "--cores", str(cores),
                              "--data", data]), log, BUILD_TIMEOUT_S)
    if rc != 0:
        print(tail(log), file=sys.stderr)
        fail(f"input preparation failed (exit {rc}); log in {log}")
    open(done, "w").close()
    print(f"[perfbench] inputs prepared in {time.time() - t0:.1f}s")
    return data


def commit_id(stamp):
    """The git commit when there is one, else the hash of the sources."""
    try:
        sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True,
                             timeout=10).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        sha = ""
    return sha or f"sources-{stamp}"


def stage_corpus(data, seed, out):
    """Copy the stored extract corpus into 64 files with a seed-permuted
    row order and row-to-file assignment. The rows, and so every pin, are
    the same for every seed."""
    import numpy as np
    import pyarrow.parquet as pq
    table = pq.read_table(os.path.join(data, "corpus"))
    table = table.take(np.random.default_rng(seed).permutation(table.num_rows))
    os.makedirs(out)
    for i, rows in enumerate(np.array_split(np.arange(table.num_rows), 64)):
        pq.write_table(table.take(rows), os.path.join(out, f"part-{i:05d}.parquet"))


def check_names(result, trace):
    """Warn when the emitted metrics drift from BENCHMARK.json."""
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        return
    spec = json.load(open(spec_path))
    want = {m["name"] for m in spec["per_layer" if trace else "end_to_end"]}
    got = set(result["metrics"])
    for name in sorted(want - got):
        print(f"perfbench: metric {name} not produced", file=sys.stderr)
    for name in sorted(got - want):
        print(f"perfbench: metric {name} not in BENCHMARK.json",
              file=sys.stderr)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    nproc = os.cpu_count() or 1
    ap.add_argument("--cores", type=int, default=min(4, nproc))
    a = ap.parse_args()
    if not 1 <= a.cores <= nproc:
        fail(f"refusing --cores {a.cores} on a host with {nproc} cores")
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"engine source {need} not found under {ROOT}")

    os.makedirs(OUT, exist_ok=True)
    stamp = source_stamp()
    build(stamp)
    data = prepare(stamp, a.cores)

    run_id = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    out = os.path.join(OUT, "runs", run_id)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    staged = os.path.join(out, "corpus")
    stage_corpus(data, a.seed, staged)
    log = os.path.join(out, "harness.log")
    cmd = java_cmd(["--mode", "run", "--workload", a.workload,
                    "--seed", str(a.seed), "--seconds", str(a.seconds),
                    "--trace", str(a.trace), "--cores", str(a.cores),
                    "--data", data, "--out", out, "--staged", staged,
                    "--pins", os.path.join(HERE, "pins.json"),
                    "--commit", commit_id(stamp)])
    rc = run_logged(cmd, log, RUN_TIMEOUT_S)
    lines = open(log, errors="replace").read().splitlines()
    result = [ln[len("RESULT "):] for ln in lines if ln.startswith("RESULT ")]
    if rc != 0 or not result:
        print(tail(log), file=sys.stderr)
        fail(f"harness failed (exit {rc}); log in {log}")
    for ln in lines:
        if ln.startswith("[perfbench]"):
            print(ln)
    # the staged corpus is not part of the record
    shutil.rmtree(staged)
    res = json.loads(result[-1])
    check_names(res, a.trace == 1)
    print(json.dumps(res))


if __name__ == "__main__":
    main()
