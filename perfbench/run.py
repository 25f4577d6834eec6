#!/usr/bin/env python3
"""Runs one benchmark workload against graft, built from this checkout.

    python3 perfbench/run.py --workload ann_serve --seed 1 --seconds 10 --trace 0

Builds first if the sources changed (perfbench/build.py), then runs the
workload in one JVM: Spark local[<cores>] plus the workload's clients.
The last line of standard output is the result object; the command exits
0 only if every correctness check passed. `--scale tiny` runs every code
path and check on small inputs, for the benchmark's own tests.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("ann_serve", "ann_bulk", "ingest_mixed", "curation")
# the JVM gets the run's seconds plus this much for start-up, set-up,
# ground truth and checks before it is stopped
GRACE_S = 130
# a fixed heap per scale: the tiny inputs of the benchmark's own tests fit
# in much less
HEAP = {"full": "3g", "tiny": "1g"}

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full")
    args = ap.parse_args()

    classpath = build.build()
    work = os.path.join(build.OUT, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = [build.java()]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    # a fixed-size heap under the default collector: a growing heap and
    # the parallel collector made run-to-run times of the driver-bound
    # curation runs vary by a third
    heap = HEAP[args.scale]
    cmd += [f"-Xms{heap}", f"-Xmx{heap}",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dspark.ui.enabled=false", "-cp", classpath, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--scale", args.scale, "--work", work]
    try:
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=sys.stderr,
                              text=True, timeout=args.seconds + GRACE_S)
        out = proc.stdout
    except subprocess.TimeoutExpired:
        # subprocess.run kills the JVM and waits for it before raising
        print("run: workload timed out", file=sys.stderr)
        return 5
    finally:
        keep = os.path.join(build.OUT, "spans")
        for f in os.listdir(work) if os.path.isdir(work) else []:
            if f.startswith("spans-"):
                os.makedirs(keep, exist_ok=True)
                shutil.move(os.path.join(work, f), os.path.join(keep, f))
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (IndexError, ValueError, AssertionError):
        sys.stderr.write(out)
        print(f"run: no result line (exit {proc.returncode})", file=sys.stderr)
        return 4
    for l in lines:
        print(l)
    if proc.returncode != 0:
        return proc.returncode
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
