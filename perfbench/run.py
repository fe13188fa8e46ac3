#!/usr/bin/env python3
"""Seeded benchmark of cozospark, run from the root of a checkout:

    python3 perfbench/run.py --workload script_write --seed 1 --seconds 15 --trace 0

Builds the engine and the harness from source with sbt (perfbench/build.sbt;
the first run in a checkout compiles), generates the workload's inputs from
the seed, runs the harness JVM (one client, local[nproc]), checks every
op's output, and prints a summary line followed by one JSON result line.
`--trace 1` runs the traced variant and reports the per-layer metrics.
The full artifact lands in .bench_build/results/. GLOSSARY.md lists every
metric.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import report  # noqa: E402

WORKLOADS = ("script_read", "script_write", "curate_batch")
HEAP = "3g"
JVM_TIMEOUT_S = 150


def sbt_opts():
    """Offline sbt settings, used when the environment gives none."""
    opts = "-Dsbt.offline=true -Xmx2g"
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts = f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} {opts}"
    return opts


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def tree_hash(root, paths):
    h = hashlib.sha256()
    for p in paths:
        full = os.path.join(root, p)
        files = [full] if os.path.isfile(full) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(full) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def build(root, build_dir):
    """Compile engine + harness unless this source tree was built already;
    returns (classpath, JVM options)."""
    key = tree_hash(root, ["build.sbt", "project/build.properties", "src/main",
                           "perfbench/build.sbt", "perfbench/src"])
    launch = os.path.join(build_dir, f"launch-{key}.txt")
    if not os.path.exists(launch):
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        env.setdefault("SBT_OPTS", sbt_opts())
        tmp = os.path.join(build_dir, "sbt-tmp")  # sbt's sockets and scratch stay in the checkout
        os.makedirs(tmp, exist_ok=True)
        with open(os.path.join(build_dir, "sbt.log"), "w") as log:
            r = subprocess.run(["sbt", "--batch", "-Dsbt.server.autostart=false",
                                f"-Djava.io.tmpdir={tmp}", f"-Djna.tmpdir={tmp}", "-J-XX:-UsePerfData",
                                "benchLaunch"],
                               cwd=os.path.join(root, "perfbench"), env=env, stdout=log,
                               stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL, timeout=840)
        if r.returncode != 0:
            fail(f"build failed, see {build_dir}/sbt.log")
        shutil.copy(os.path.join(root, "perfbench", "target", "launch.txt"), launch)
    with open(launch) as f:
        lines = f.read().splitlines()
    # the engine's forked-run options, minus its heap: the heap is pinned here
    return lines[0], [o for o in lines[1:] if o and not o.startswith("-Xm")]


def steal_sample():
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return sum(v), v[7] if len(v) > 7 else 0


def commit_of(root):
    try:
        head = subprocess.run(["git", "rev-parse", "--short", "HEAD"], cwd=root, capture_output=True,
                              text=True, timeout=10)
        if head.returncode != 0:
            return "unknown"
        dirty = subprocess.run(["git", "status", "--porcelain"], cwd=root, capture_output=True,
                               text=True, timeout=10).stdout.strip()
        return head.stdout.strip() + ("+dirty" if dirty else "")
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        fail("run from the root of a cozospark checkout (build.sbt and src/main/scala/graft not found)")
    build_dir = os.path.join(root, ".bench_build")
    os.makedirs(build_dir, exist_ok=True)
    cp, jvm_opts = build(root, build_dir)

    run_id = f"{a.workload}-{a.seed}-trace{a.trace}"
    inputs = os.path.join(build_dir, "inputs", run_id)
    work = os.path.join(build_dir, "work", run_id)
    shutil.rmtree(inputs, ignore_errors=True)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    t0 = time.time()
    digest = gen.generate(a.workload, a.seed, inputs)
    gen_s = time.time() - t0

    cores = str(len(os.sched_getaffinity(0)))
    out_file = os.path.join(work, "measurements.jsonl")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    # the heap is committed and touched up front, so peak RSS is the
    # pinned heap plus what the JVM and Spark use outside it
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work}/tmp",
           *jvm_opts,
           "-cp", cp, "perfbench.Main", a.workload, inputs, out_file, str(a.seconds),
           str(a.trace), cores, work]
    st0 = steal_sample()
    t1 = time.time()
    with open(os.path.join(work, "jvm.log"), "w") as log:
        try:
            r = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                               timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"harness JVM timed out after {JVM_TIMEOUT_S} s, see {work}/jvm.log")
    st1 = steal_sample()
    if r.returncode != 0:
        fail(f"harness JVM exited with {r.returncode}, see {work}/jvm.log")
    with open(out_file) as f:
        records = [json.loads(line) for line in f]

    t2 = time.time()
    (check.check_curate if a.workload == "curate_batch" else check.check_script)(inputs, records)
    phases = {"gen_s": gen_s, "jvm_s": t2 - t1, "check_s": time.time() - t2}
    all_ops = [o for o in records if o["type"] == "op"]
    ops = [o for o in all_ops if o["pass"] in ("main", "untraced", "traced")]
    bad = [o for o in all_ops if report.failed(o)]
    errors = [{"pass": o["pass"], "id": o["id"], "cls": o["cls"],
               "error": o["error"] or o["check_error"]} for o in bad]
    warm_failed = any(o["pass"].startswith("warmup") for o in bad)
    n_failed = sum(1 for o in ops if report.failed(o))

    env = next(r for r in records if r["type"] == "env")
    stamp = {"commit": commit_of(root), "nproc": int(cores), "heap": HEAP, "confs": env["confs"],
             "jvm_args": env["jvm_args"], "spark_version": env["spark_version"],
             "steal_pct": (st1[1] - st0[1]) / max(1, st1[0] - st0[0]) * 100.0,
             "input_digest": digest, "seed": a.seed, "seconds": a.seconds, "phases": phases}
    if a.trace:
        metrics = report.per_layer(records, a.workload, int(cores), gen_s)
        units = report.PER_LAYER_UNITS
        extra = {}
    else:
        metrics, extra = report.end_to_end(records, a.workload)
        units = report.E2E_UNITS
    correct = n_failed == 0 and not warm_failed and all(v is not None for v in metrics.values())

    artifact = {"workload": a.workload, "trace": a.trace, "env": stamp, "correct": correct,
                "attempted": len(ops), "failed": n_failed, "errors": errors[:50],
                "metrics": metrics, "extra": extra}
    if a.trace:
        artifact["spans"] = [r for r in records if r["type"] in ("span", "job", "knee")]
    os.makedirs(os.path.join(build_dir, "results"), exist_ok=True)
    with open(os.path.join(build_dir, "results", f"{run_id}.json"), "w") as f:
        json.dump(artifact, f, indent=1)
    shutil.rmtree(inputs, ignore_errors=True)
    shutil.rmtree(os.path.join(work, "tmp"), ignore_errors=True)
    shutil.rmtree(os.path.join(work, "spark-local"), ignore_errors=True)

    summary = {"workload": a.workload, "seed": a.seed, "correct": correct,
               "failed_frac": n_failed / max(1, len(ops)), "commit": stamp["commit"],
               "input_digest": digest, "steal_pct": round(stamp["steal_pct"], 3),
               "metrics": {k: f"{v} {units[k]}" for k, v in metrics.items()},
               **({"also": extra} if extra else {})}
    print(json.dumps(summary))
    print(json.dumps({"correct": correct, "attempted": len(ops), "failed": n_failed,
                      "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}}))


if __name__ == "__main__":
    main()
