#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload corpus_scan|ingest_follow \
        --seed N --seconds S --trace 0|1

Builds the engine and the benchmark from source (perfbench/build.py), then
runs graft.perfbench.Main in a fresh JVM with its own work directory under
.bench_work/ (warehouse, Spark local dir, state and output dirs, all removed
at the end). Prints one raw line per metric (`metric <name> <value> <unit>`),
the parts of set-up, the run's counters (input sizes, generation time,
near-duplicate recall, ...), the wall of each timed step, each op kind's sample
count, median and tail percentile (the highest with ten samples beyond it,
once there are that many), one line per failed check, and, as the last line,
the JSON result. With --trace 0 the result holds the end-to-end metrics;
with --trace 1 the per-layer ones.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import build  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("corpus_scan", "ingest_follow")
# the JVM's share of the 180 s a run may take (the first run of a checkout
# also builds, which has its own allowance)
JVM_LIMIT_S = 165
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def slots():
    """Task slots: the host's cores, at most 4."""
    return max(1, min(4, os.cpu_count() or 1))


def run_jvm(classes, jars, work, args):
    out = work / "record.json"
    cmd = ["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss8m", f"-Djava.io.tmpdir={work / 'tmp'}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}:{jars}/*", "graft.perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--slots", str(slots()), "--work", str(work), "--out", str(out)]
    (work / "tmp").mkdir(parents=True)
    log_path = work / "jvm.log"
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=JVM_LIMIT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = None
    if rc != 0 or not out.is_file():
        tail = log_path.read_text(errors="replace")[-3000:]
        why = "timed out" if rc is None else f"exited {rc}"
        raise RuntimeError(f"benchmark JVM {why}:\n{tail}")
    return json.loads(out.read_text())


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    try:
        classes = build.build(ROOT)
        jars = build.spark_jars(ROOT)
    except build.BuildError as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 2
    work = ROOT / ".bench_work" / f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        raw = run_jvm(classes, jars, work, args)
    except RuntimeError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)

    correct, attempted, failed = metrics.verdict(raw)
    if args.trace:
        chosen = metrics.per_layer(raw, args.workload, slots())
    else:
        chosen = metrics.end_to_end(raw, args.workload)
        for name, (v, unit) in metrics.workload_metrics(raw, args.workload, "timed").items():
            print(f"metric {name} {v!r} {unit}")
    for name, (v, unit) in chosen.items():
        print(f"metric {name} {v!r} {unit}")
    print("setup_s " + " ".join(f"{k}={v:.3f}" for k, v in raw["setup"].items()))
    print("counters " + " ".join(f"{k}={v:g}" for k, v in raw["counters"].items()))
    print("steps_s " + " ".join(f"{w:.3f}" for w in raw["steps"]))
    timed = [o for o in raw["ops"] if o["phase"] == "timed"]
    for kind in sorted({o["kind"] for o in timed}):
        xs = [o["ms"] for o in timed if o["kind"] == kind]
        tail = metrics.tail_percentile(xs)
        extra = f" p{tail[0]}_ms={tail[1]:.1f}" if tail else ""
        print(f"op {kind} n={len(xs)} p50_ms={metrics.median(xs):.1f}{extra}")
    for k in raw["checks"]:
        if not k["ok"]:
            print(f"check FAILED {k['name']}: {k['detail']}")
    print(f"checks {'passed' if correct else 'FAILED'}: {failed} of {attempted} ops failed")
    result = {"correct": correct, "attempted": attempted, "failed": failed,
              "metrics": {k: {"value": v, "unit": u} for k, (v, u) in chosen.items()}}
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
