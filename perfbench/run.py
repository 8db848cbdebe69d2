#!/usr/bin/env python3
"""Record-linkage benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the engine and the
benchmark from source (sbt, offline) into perfbench/target; later runs
reuse that build while the sources are unchanged. Each run starts one
JVM (perfbench.Main) that generates the workload's input from the seed,
runs the program for the measuring window and checks its outputs. The
traced run of resolve_skewed_ckpt also starts two scaling legs, each in
its own JVM. The last line of standard output is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with every end_to_end metric of BENCHMARK.json when --trace is 0 and
every per_layer metric when --trace is 1. The full record (sizes,
environment, checks) and the span file are kept in .bench_build/results.
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
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
DEADLINE_S = 170
LEGS_S = 60

JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
HEAP = "3g"


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x != "target")
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def build(deadline):
    stamp = source_stamp()
    cp_file = os.path.join(HERE, "target", f"classpath-{stamp}.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            return fh.read().strip(), stamp
    log("building engine + benchmark (sbt)")
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
        timeout=max(60, deadline - time.time()))
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit(f"build failed ({proc.returncode})")
    lines = [l.strip() for l in proc.stdout.splitlines()
             if os.pathsep in l and "perfbench" in l and not l.startswith("[")]
    if not lines:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit("build printed no classpath")
    with open(cp_file, "w") as fh:
        fh.write(lines[-1])
    return lines[-1], stamp


def java_cmd(cp, work, args):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in JAVA_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # a fixed heap keeps the resident set from following heap resizing
    return [java, *opens, f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-cp", cp, "perfbench.Main", *args]


def run_jvm(cmd, deadline, capture=False):
    """Run one JVM in its own process group; kill the group on timeout."""
    proc = subprocess.Popen(cmd, cwd=ROOT, start_new_session=True,
                            stdout=subprocess.PIPE if capture else sys.stderr,
                            stderr=sys.stderr, text=True)
    try:
        out, _ = proc.communicate(timeout=max(1, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise SystemExit("run exceeded its time limit")
    if proc.returncode != 0:
        raise SystemExit(f"benchmark JVM exited {proc.returncode}")
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        raise SystemExit(f"unknown workload {a.workload}")
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        raise SystemExit("engine sources (src/main/scala/graft) not found")
    started = time.time()
    first_build = not os.path.isdir(os.path.join(HERE, "target"))
    cp, stamp = build(started + 880)
    deadline = time.time() + DEADLINE_S if not first_build else started + 890

    threads = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") \
        else os.cpu_count()
    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    work = os.path.join(OUT, "work", f"{tag}-{os.getpid()}")
    results = os.path.join(OUT, "results")
    os.makedirs(results, exist_ok=True)
    result_file = os.path.join(results, f"{tag}.json")
    if os.path.exists(result_file):
        os.remove(result_file)
    try:
        run_jvm(java_cmd(cp, work, [
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--threads", str(threads), "--work", work,
            "--result", result_file]), deadline)
        with open(result_file) as fh:
            res = json.load(fh)
        layer = res["per_layer"]
        # the two scaling legs need about a minute; on a host too slow to
        # fit them in the run's time limit they are skipped and the
        # efficiency stays 0 (the result file says so)
        want_legs = a.trace and a.workload == "resolve_skewed_ckpt"
        if want_legs and deadline - time.time() < LEGS_S:
            res["scaling_legs_skipped"] = True
            log("scaling legs skipped: not enough time left in this run")
        elif want_legs:
            legs = {}
            for t in (1, threads):
                out = run_jvm(java_cmd(cp, work, ["--leg", "1", "--threads", str(t),
                                                  "--work", work]),
                              deadline, capture=True)
                legs[t] = float([l for l in out.splitlines() if l.startswith("LEG ")][-1].split()[1])
            layer["pipeline.scaling_efficiency"] = legs[1] / legs[threads] / threads
            res["scaling_legs_s"] = {str(k): v for k, v in legs.items()}
    finally:
        shutil.rmtree(work, ignore_errors=True)

    # a seed's assignments must hash the same in every run of this checkout
    hash_file = os.path.join(results, f"hash-{a.workload}-s{a.seed}-{stamp}.txt")
    if res["assignment_hash"]:
        if os.path.exists(hash_file):
            with open(hash_file) as fh:
                prev = fh.read().strip()
            same = prev == res["assignment_hash"]
            res["checks"].append({"name": "assignment_hash.same_across_runs", "ok": same,
                                  "detail": f"{prev} vs {res['assignment_hash']}"})
            if not same:
                res["correct"] = False
                res["failed"] += 1
                res["error_rate"] = res["failed"] / res["attempted"]
        else:
            with open(hash_file, "w") as fh:
                fh.write(res["assignment_hash"])
    res["build_stamp"] = stamp
    res["git_commit"] = git_commit()
    with open(result_file, "w") as fh:
        json.dump(res, fh, indent=1)

    kind = "per_layer" if a.trace else "end_to_end"
    declared = {m["name"]: m["unit"] for m in spec[kind]}
    measured = layer if a.trace else res["end_to_end"]
    values = {n: measured.get(n, 0.0) for n in declared}
    missing = [n for n in declared if n not in measured and not a.trace]
    if missing:
        raise SystemExit(f"metrics not measured: {missing}")
    summary(res)
    print(json.dumps({
        "correct": bool(res["correct"]),
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": {n: {"value": float(values[n]), "unit": u} for n, u in declared.items()},
    }))


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                              capture_output=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def summary(res):
    """Every measured figure by name, with the checks, on stderr."""
    for k in ("end_to_end", "per_layer", "sizes", "env"):
        for n, v in res.get(k, {}).items():
            log(f"{k:10s} {n} = {v}")
    log(f"error_rate = {res['error_rate']} ({res['failed']}/{res['attempted']})")
    for c in res["checks"]:
        if not c["ok"]:
            log(f"check FAILED: {c['name']}: {c['detail']}")


if __name__ == "__main__":
    main()
