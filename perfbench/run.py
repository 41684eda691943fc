"""Runs one benchmark workload and prints its result as the last line.

    python3 perfbench/run.py --workload pit_build --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest

Run from the repository root. Builds first (perfbench/build.py), then
starts one JVM with the flags the repository's forked `run` uses and the
build's class-data archive, on a scratch directory under .bench_build
that is removed when the run ends.
With --trace 1 the spans are written to .bench_build/traces/.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ["pit_build", "llm_curate", "pit_skew"]
RUN_TIMEOUT_S = 170


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and a.workload is None:
        ap.error("--workload is required")
    root = os.getcwd()
    try:
        share = build.build(root)
    except build.BuildError as e:
        print(f"perfbench build: {e}", file=sys.stderr)
        return 2

    scratch = tempfile.mkdtemp(prefix="run-", dir=os.path.join(root, build.BUILD_DIR))
    os.makedirs(os.path.join(scratch, "tmp"))
    if a.selftest:
        args = ["--selftest"]
    else:
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace)]
        if a.trace:
            args += ["--spans", os.path.join(root, build.BUILD_DIR, "traces",
                                             f"{a.workload}-seed{a.seed}.jsonl")]
    cmd = build.java_command(root, scratch, args, share)
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S if not a.selftest else 600)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        print("perfbench: run timed out", file=sys.stderr)
        return 3
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    if a.selftest or proc.returncode != 0:
        (sys.stdout if a.selftest else sys.stderr).write(out)
        if proc.returncode != 0:
            print(f"perfbench: JVM exited with {proc.returncode}", file=sys.stderr)
        return proc.returncode
    result = json.loads(out.rstrip("\n").split("\n")[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        print("perfbench: malformed result line", file=sys.stderr)
        return 4
    sys.stdout.write(out)
    return 0


if __name__ == "__main__":
    sys.exit(main())
