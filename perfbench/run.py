"""Run one workload of the graft benchmark and print its result.

    python3 perfbench/run.py --workload lake --seed 1 --seconds 20 --trace 0

Builds graft and the benchmark from source (see build.py), starts one fresh
JVM with its own local Spark session for the workload, and prints the
workload's metrics. The last line of standard output is one JSON object
with the keys `correct`, `attempted`, `failed` and `metrics`; with
`--trace 0` the metrics are the end-to-end ones of BENCHMARK.json, with
`--trace 1` the per-layer ones. Everything the run writes stays under the
build directory (`.bench_build` unless CARGO_TARGET_DIR names another).
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # nothing left behind in the checkout
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("lake", "pipelines")
DEADLINE_S = 170  # the whole run, build included, ends before 180 s
FIRST_BUILD_DEADLINE_S = 880

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def git_state():
    """(HEAD, dirty flag) of the tree, or ("none", None) outside git."""
    try:
        head = subprocess.run(["git", "rev-parse", "HEAD"], cwd=build.ROOT,
                              capture_output=True, text=True, timeout=10)
        if head.returncode != 0:
            return "none", None
        status = subprocess.run(["git", "status", "--porcelain", "--untracked-files=no"],
                                cwd=build.ROOT, capture_output=True, text=True, timeout=10)
        return head.stdout.strip(), bool(status.stdout.strip())
    except (OSError, subprocess.TimeoutExpired):
        return "none", None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t0 = time.time()

    # build output goes to stderr: stdout carries the result only
    classpath = build.build()
    built_s = time.time() - t0
    # a run that had to compile is the first in its checkout, which may
    # take longer; any other run ends before 180 s
    deadline = (FIRST_BUILD_DEADLINE_S if built_s > 5 else DEADLINE_S) - built_s

    nproc = os.cpu_count() or 1
    head, dirty = git_state()
    work = os.path.join(build.build_dir(), "runs",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    result_file = os.path.join(work, "result.json")
    cmd = (["java", "-Xmx3g", "-XX:+UseG1GC", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [a for p in JDK17_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--nproc", str(nproc), "--work", work, "--result", result_file])
    print(f"perfbench: workload={args.workload} seed={args.seed} nproc={nproc} "
          f"trace={args.trace} head={head} dirty={dirty} build_s={built_s:.1f}",
          flush=True)
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr,
                            text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=max(deadline, 10))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit("perfbench: the workload ran past its deadline")
    sys.stdout.write(out)
    if proc.returncode != 0 or not os.path.exists(result_file):
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(f"perfbench: the workload JVM exited with code {proc.returncode}")
    with open(result_file) as fh:
        result = json.load(fh)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
