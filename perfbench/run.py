#!/usr/bin/env python3
"""Request-level benchmark of the graft engine through its Engine facade.

    python3 perfbench/run.py --workload retrieval|browse|stream_ingest \
        --seed N --seconds S --trace 0|1 [--smoke]

Run from the root of a checkout. The first run builds the engine and the
load generator from source with sbt (perfbench/build.sbt) and caches the
classpath under .bench_build/; later runs reuse it while the sources are
unchanged. Each run starts one JVM (graft.perfbench.Main) that loads the
corpus (perfbench/data), sets up the serving root, replays a
seeded closed-loop request stream for S seconds and checks the outputs.
This script aggregates the JVM's raw record into metrics, prints each
metric with its unit, and prints one JSON object as the last line:
the end-to-end metrics BENCHMARK.json lists for --trace 0, its per-layer
metrics for --trace 1. The exit code is non-zero when any output check or
operation failed.
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
sys.path.insert(0, HERE)

import stats  # noqa: E402

BUILD_DIR = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("retrieval", "browse", "stream_ingest")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 840

# Load-generator knobs per mode. The full mode is sized so that 48 runs of
# the two benchmarked workloads fit in under an hour on a 4-core host, each
# run paying a cold JVM and one serving-root set-up. The smoke mode runs
# tiny segments and one read between landings: a quick end-to-end check of
# every workload and its output checks.
MODES = {
    "full": {"reads-between": 4, "compact-every": 2,
             "segment-upserts": 40, "segment-tombstones": 10},
    "smoke": {"reads-between": 1, "compact-every": 2,
              "segment-upserts": 6, "segment-tombstones": 2},
}

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
XMX = "3g"


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every file the build reads, to know when to rebuild."""
    h = hashlib.sha1()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs if "target" not in d]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine + load generator once per source state; returns the classpath."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"no engine sources at {os.path.join(ROOT, need)}: run from a checkout")
    stamp = source_stamp()
    cp_file = os.path.join(BUILD_DIR, "classpath.txt")
    stamp_file = os.path.join(BUILD_DIR, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as cf:
                    return cf.read().strip()
    os.makedirs(BUILD_DIR, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    env["SBT_OPTS"] = (opts + " -Dsbt.server.autostart=false").strip()
    log = os.path.join(BUILD_DIR, "build.log")
    with open(log, "w") as lf:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                            "perfbench/writeClasspath"],
                           cwd=HERE, env=env, stdout=lf, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=BUILD_LIMIT_S)
    if p.returncode != 0 or not os.path.exists(cp_file):
        fail(f"build failed, see {log}")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    with open(cp_file) as cf:
        return cf.read().strip()


def launch(cp, workload, args, out, budget_s):
    """Run the benchmark JVM in its own process group; kill it on overrun."""
    cmd = ["java", f"-Xms{XMX}", f"-Xmx{XMX}", f"-Djava.io.tmpdir={out}/tmp",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for o in JDK_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.perfbench.Main",
            "--workload", workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace), "--out", out,
            "--data", os.path.join(HERE, "data")]
    for k, v in MODES["smoke" if args.smoke else "full"].items():
        cmd += [f"--{k}", str(v)]
    os.makedirs(os.path.join(out, "tmp"), exist_ok=True)
    with open(os.path.join(out, "jvm.log"), "w") as lf:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=lf, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            return p.wait(timeout=budget_s)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None


def run_one(cp, workload, args, t0):
    """One benchmark JVM run; returns its report (exits on a crash)."""
    out = os.path.join(BUILD_DIR, "runs", f"{workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    budget = max(30.0, RUN_LIMIT_S - (time.monotonic() - t0))
    code = launch(cp, workload, args, out, budget)
    result_path = os.path.join(out, "result.json")
    if code is None:
        fail(f"benchmark JVM exceeded {budget:.0f}s; log in {out}/jvm.log", 4)
    if not os.path.exists(result_path):
        fail(f"benchmark JVM exited {code} without a result; log in {out}/jvm.log", 4)
    with open(result_path) as fh:
        result = json.load(fh)
    spans = None
    if args.trace:
        with open(os.path.join(out, "trace.jsonl")) as fh:
            spans = [json.loads(line) for line in fh if line.strip()]
    report = stats.report(result, spans)
    # keep the raw record, trace and log; drop the roots and scratch files
    for sub in os.listdir(out):
        if sub not in ("result.json", "trace.jsonl", "jvm.log"):
            path = os.path.join(out, sub)
            shutil.rmtree(path, ignore_errors=True) if os.path.isdir(path) else os.remove(path)
    with open(os.path.join(out, "report.json"), "w") as fh:
        json.dump(report, fh, indent=1)
    if code != 0:
        report["correct"] = False
    return report


def listed_metrics():
    """BENCHMARK.json's end-to-end and per-layer metrics, {name: unit} each."""
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        fail(f"no {path}: run from a checkout")
    with open(path) as fh:
        spec = json.load(fh)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny segments; with --workload all, runs every workload")
    args = ap.parse_args()
    if args.workload == "all" and not args.smoke:
        fail("--workload all is for --smoke runs")
    t0 = time.monotonic()
    end_to_end, per_layer = listed_metrics()
    cp = build()
    workloads = WORKLOADS if args.workload == "all" else (args.workload,)
    # the first run's time limit includes the build; later ones start fresh
    reports = [run_one(cp, w, args, t0 if i == 0 else time.monotonic())
               for i, w in enumerate(workloads)]
    for w, rep in zip(workloads, reports):
        for line in stats.describe(rep):
            print(f"{w}: {line}" if len(workloads) > 1 else line)
    # the listed metrics; a layer the workload does not exercise reports 0
    metrics = {}
    for w, rep in zip(workloads, reports):
        try:
            chosen = (stats.select(rep["per_layer"], per_layer, absent=0.0) if args.trace
                      else stats.select(rep["end_to_end"], end_to_end))
        except ValueError as e:
            fail(f"{w}: {e}", 5)
        for k, v in chosen.items():
            metrics[f"{w}.{k}" if len(workloads) > 1 else k] = v
    final = {"correct": all(r["correct"] for r in reports),
             "attempted": sum(r["attempted"] for r in reports),
             "failed": sum(r["failed"] for r in reports),
             "metrics": metrics}
    print(json.dumps(final))
    sys.exit(0 if final["correct"] else 1)


if __name__ == "__main__":
    main()
