#!/usr/bin/env python3
"""Run one perfbench workload against graft and print its result.

    python3 perfbench/run.py --workload ingest-rollup --seed 1 --seconds 10 --trace 0

Builds graft and the benchmark from source on first use (see build.py), then
runs the workload in one JVM: set-up, a closed-loop timed phase of
`--seconds`, output checks. The last line of standard output is one JSON
object with `correct`, `attempted`, `failed` and `metrics`; `--trace 0`
reports the end-to-end metrics, `--trace 1` the per-layer ones. The exit
code is 0 only when every output check passed.
"""
import argparse
import os
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("ingest-rollup", "curation-index")
RUN_TIMEOUT_S = 170  # the JVM's budget; the build is outside it


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="tiny: a seconds-long smoke run")
    args = ap.parse_args()

    try:
        cp = build.build()
    except build.BuildError as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 2

    work_root = os.path.join(build.BUILD, "work")
    # litter from a run that was killed would slow this one: clear it
    for name in os.listdir(work_root) if os.path.isdir(work_root) else []:
        if not alive(name.rsplit("-", 1)[-1]):
            shutil.rmtree(os.path.join(work_root, name), ignore_errors=True)
    work = os.path.join(work_root, f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    trace_out = os.path.join(build.BUILD, "traces",
                             f"{args.workload}-seed{args.seed}.jsonl")
    os.makedirs(os.path.dirname(trace_out), exist_ok=True)

    heap = "2g" if args.scale == "full" else "1g"
    cmd = (["java", f"-Xmx{heap}", "-XX:+UseG1GC"] + build.jvm_opens() +
           ["-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-Dlog4j2.configurationFile=" + os.path.join(build.HERE, "log4j2.properties"),
            "-cp", cp, "graft.perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--scale", args.scale, "--work", work, "--trace-out", trace_out])
    proc = subprocess.Popen(cmd, cwd=build.ROOT)
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        print(f"perfbench: run exceeded {RUN_TIMEOUT_S} s, killed", file=sys.stderr)
        code = 3
    if os.path.exists(work):
        print(f"perfbench: work directory left behind: {work}", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        code = code or 4
    return code


def alive(pid):
    try:
        os.kill(int(pid), 0)
        return True
    except (ValueError, ProcessLookupError):
        return False
    except PermissionError:
        return True


if __name__ == "__main__":
    sys.exit(main())
