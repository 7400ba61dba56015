#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
        [--record <file>]

Run from the root of a checkout. Builds the engine and the benchmark from
source with sbt when the sources changed since the last build, runs one
workload in one JVM, prints every metric with its unit and sample count,
and prints as its last line one JSON object with `correct`, `attempted`,
`failed` and `metrics` (the end-to-end metrics of BENCHMARK.json with
`--trace 0`, its per-layer metrics with `--trace 1`). Exits 1 when a
correctness check failed, 2 on bad usage or a checkout without the engine's
sources, 3 when the build fails, 4 when the run fails or times out.
`--record` also writes everything the run measured to a file.
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
TARGET = os.path.join(HERE, "target")
CLASSPATH_FILE = os.path.join(TARGET, "bench-classpath.txt")
STAMP_FILE = os.path.join(TARGET, "bench-stamp.txt")
HEAP = "-Xmx2g"
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    """Every file the build reads from the checkout, sorted."""
    roots = [
        os.path.join(ROOT, "src", "main"),
        os.path.join(ROOT, "project"),
        os.path.join(HERE, "src", "main"),
        os.path.join(HERE, "project"),
    ]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = [x for x in dirs if x not in ("target", "project")]
            files += [os.path.join(d, n) for n in names
                      if n.endswith((".scala", ".java", ".sbt", ".properties"))]
    return sorted(f for f in files if os.path.isfile(f))


def source_hash():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile with sbt unless the stamp says the sources are unchanged."""
    stamp = source_hash()
    if os.path.exists(CLASSPATH_FILE) and os.path.exists(STAMP_FILE):
        with open(STAMP_FILE) as fh:
            if fh.read().strip() == stamp:
                return
    if shutil.which("sbt") is None:
        log("sbt not found on PATH")
        sys.exit(3)
    log("building engine and benchmark with sbt")
    t0 = time.time()
    rc = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "benchClasspath"],
                   cwd=HERE, timeout=BUILD_TIMEOUT_S, stdout=sys.stderr)
    if rc != 0 or not os.path.exists(CLASSPATH_FILE):
        log(f"build failed (rc={rc})")
        sys.exit(3)
    with open(STAMP_FILE, "w") as fh:
        fh.write(stamp + "\n")
    log(f"built in {time.time() - t0:.0f} s")


def run_child(cmd, cwd, timeout, stdout=None, env=None):
    """Run `cmd` in its own process group; kill the group on timeout and
    wait for it, so no process outlives the benchmark."""
    p = subprocess.Popen(cmd, cwd=cwd, stdout=stdout, stderr=sys.stderr,
                         stdin=subprocess.DEVNULL, env=env, start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        log(f"timed out after {timeout} s: {cmd[0]}")
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--record")
    a = ap.parse_args()
    # a TERM from whoever runs the benchmark still stops the JVM (run_child)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    engine_build = os.path.join(ROOT, "build.sbt")
    engine_src = os.path.join(ROOT, "src", "main", "scala")
    if not (os.path.isfile(spec_path) and os.path.isfile(engine_build) and os.path.isdir(engine_src)):
        log("this directory holds no engine to build: run from the root of a full checkout")
        sys.exit(2)
    with open(spec_path) as fh:
        spec = json.load(fh)

    t_start = time.time()
    build()
    with open(CLASSPATH_FILE) as fh:
        lines = [x.strip() for x in fh.read().splitlines() if x.strip()]
    classpath, engine_opts = lines[0], [o for o in lines[1:] if not o.startswith("-Xmx")]

    work = os.path.join(HERE, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    cmd = (["java", HEAP, "-XX:-UsePerfData", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
           + engine_opts + ["-cp", classpath, "perfbench.Main",
                            "--workload", a.workload, "--seed", str(a.seed),
                            "--seconds", str(a.seconds), "--trace", str(a.trace),
                            "--work", work, "--out", out])
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    try:
        rc = run_child(cmd, cwd=ROOT, timeout=RUN_TIMEOUT_S, stdout=sys.stderr, env=env)
        if rc != 0 or not os.path.exists(out):
            log(f"run failed (rc={rc})")
            sys.exit(4)
        with open(out) as fh:
            res = json.load(fh)
        if a.record:
            with open(a.record, "w") as fh:
                json.dump(res, fh, indent=1, sort_keys=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    if a.trace == 0:
        metrics = {}
        for m in spec["end_to_end"]:
            got = res["end_to_end"][m["name"]]
            metrics[m["name"]] = {"value": got["value"], "unit": m["unit"]}
            print(f"{m['name']} = {got['value']:.6g} {m['unit']} (n={got['n']})")
        for name, got in sorted(res["detail"].items()):
            print(f"{name} = {got['value']:.6g} {got['unit']} (n={got['n']})")
    else:
        metrics = {}
        for m in spec["per_layer"]:
            v = res["per_layer"].get(m["name"], 0.0)
            metrics[m["name"]] = {"value": v, "unit": m["unit"]}
            print(f"{m['name']} = {v:.6g} {m['unit']}")
    for msg in res["check_failures"]:
        print(f"check failed: {msg}")
    print(f"run took {time.time() - t_start:.1f} s", file=sys.stderr)
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    sys.exit(0 if res["correct"] else 1)


if __name__ == "__main__":
    main()
