"""FuseRank system benchmark: one command, one workload per run.

    python3 fuserank_bench/run.py --workload search_interactive --seed 1 --seconds 8 --trace 0
    python3 fuserank_bench/run.py --workload eval_batch --seed 1 --seconds 8 --trace 1
    python3 fuserank_bench/run.py --screen

Run it from the repository root. The first run builds the engine and the
benchmark from source (build.py); later runs reuse the build. A run prints
its report lines, then as the last line of standard output one JSON object
with the keys correct, attempted, failed and metrics: the end-to-end
metrics with --trace 0, the per-layer metrics with --trace 1. The exit
code is 0 when every correctness check passed, 1 when one failed, and 2
or more (with no JSON line) when the benchmark could not run. Samples,
diagnostics and spans of each run are kept under
<build dir>/fuserank_bench/runs.
"""

import argparse
import json
import os
import shutil
import subprocess
import sys
import threading

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ["search_interactive", "eval_batch", "ivf_churn", "curation_ingest"]
JVM_TIMEOUT_S = 170


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--screen", action="store_true",
                    help="run the one-off batch-size screen instead of a workload")
    args = ap.parse_args()
    if not args.screen and (args.workload is None or args.seed is None or args.seconds is None):
        ap.error("--workload, --seed and --seconds are required")

    try:
        classpath, archive = build.ensure()
    except build.BuildError as e:
        build.log(str(e))
        return 2

    runs = os.path.join(build.build_root(), "fuserank_bench", "runs")
    tag = ("screen" if args.screen else
           f"{args.workload}-seed{args.seed}-trace{args.trace}") + f"-{os.getpid()}"
    work = os.path.join(runs, tag + ".work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(runs, tag)
    cmd = ["java"] + build.jvm_options(work)
    if archive:
        cmd.append("-XX:SharedArchiveFile=" + archive)
    cmd += ["-cp", os.pathsep.join(classpath), "fuserankbench.Main", "--work", work, "--out", out]
    if args.screen:
        cmd.append("--screen")
    else:
        cmd += ["--workload", args.workload, "--seed", str(args.seed),
                "--seconds", str(args.seconds), "--trace", str(args.trace)]

    load_before = os.getloadavg()
    log_path = out + ".log"
    timed_out = threading.Event()
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=build.ROOT, stdout=subprocess.PIPE, stderr=log, text=True)

        def kill():
            timed_out.set()
            p.kill()
        watchdog = threading.Timer(3600 if args.screen else JVM_TIMEOUT_S, kill)
        watchdog.start()
        try:
            for line in p.stdout:
                if line.startswith("[fuserank-bench]"):
                    sys.stdout.write(line)
                    sys.stdout.flush()
                else:
                    log.write(line)
            rc = p.wait()
        finally:
            watchdog.cancel()
            if p.poll() is None:
                p.kill()
                p.wait()
    shutil.rmtree(work, ignore_errors=True)
    load_after = os.getloadavg()
    print(f"[fuserank-bench] ambient nproc={os.cpu_count()} "
          f"loadavg_before={load_before[0]:.2f} loadavg_after={load_after[0]:.2f}"
          f" cds={'on' if archive else 'off'}", flush=True)

    if timed_out.is_set():
        print(f"[fuserank-bench] timed out after {JVM_TIMEOUT_S} s; log: {log_path}", file=sys.stderr)
        return 3
    if args.screen:
        return rc
    record_path = out + ".record.json"
    if os.path.exists(record_path):
        with open(record_path) as fh:
            record = json.load(fh)
        record["loadavg_before"], record["loadavg_after"] = load_before[0], load_after[0]
        record["cds"] = bool(archive)
        with open(record_path, "w") as fh:
            json.dump(record, fh)
    result_path = out + ".result.json"
    if rc not in (0, 1) or not os.path.exists(result_path):
        print(f"[fuserank-bench] benchmark JVM exited with {rc}; log: {log_path}", file=sys.stderr)
        return rc if rc not in (0, 1) else 4
    with open(result_path) as fh:
        result = json.load(fh)
    print(json.dumps(result, separators=(",", ":")), flush=True)
    return rc


if __name__ == "__main__":
    sys.exit(main())
