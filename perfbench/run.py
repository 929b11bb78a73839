#!/usr/bin/env python3
"""Cold transcripts->entities benchmark runner.

    python3 perfbench/run.py --workload resolve --seed 1 --seconds 30 --trace 0

Builds the library and the benchmark from source when either changed
(sbt, offline), then runs one workload in one JVM at local[<cpus>] and
relays its result: the last stdout line is one JSON object with the keys
correct, attempted, failed and metrics. `--workload all` runs every
workload in turn. `--trace 1` reports the per-layer metrics instead of
the end-to-end ones and keeps the span record under perfbench/.traces/.

Exits non-zero, without a result line, when the library sources are not
beside the benchmark, the build fails, or the run does not finish.
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
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORKLOADS = ["resolve", "resolve_burst"]
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
HEAP = "3g"


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_digest():
    """Hash of every input of the build: library and benchmark sources."""
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", BENCH / "build.sbt"]
    for d in (ROOT / "project", BENCH / "project"):
        files += sorted(p for p in d.glob("*") if p.suffix in (".sbt", ".properties", ".scala"))
    for d in (ROOT / "src" / "main", BENCH / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def ensure_built():
    launch = BENCH / "target" / "launch.txt"
    stamp = BENCH / "target" / "launch.stamp"
    digest = source_digest()
    if launch.exists() and stamp.exists() and stamp.read_text() == digest:
        return launch
    log("building library + benchmark (sbt launchFile)")
    t = time.time()
    proc = subprocess.Popen(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "launchFile"],
        cwd=BENCH, stdout=sys.stderr, stderr=sys.stderr, stdin=subprocess.DEVNULL,
        start_new_session=True)
    if wait_or_kill(proc, BUILD_TIMEOUT_S) is None or proc.returncode != 0 or not launch.exists():
        log("build failed")
        sys.exit(3)
    stamp.write_text(digest)
    log(f"built in {time.time() - t:.1f} s")
    return launch


def wait_or_kill(proc, timeout):
    """Wait for proc; on timeout kill its whole process group. Returns
    its stdout (None when it was killed)."""
    try:
        out, _ = proc.communicate(timeout=timeout)
        return out if out is not None else ""
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None


def java_bin():
    home = os.environ.get("JAVA_HOME")
    return str(Path(home) / "bin" / "java") if home else "java"


def run_one(launch, workload, seed, seconds, trace):
    """One workload in one JVM; returns the parsed result object or None."""
    work = BENCH / ".work" / f"run-{os.getpid()}-{workload}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    opts = launch.read_text().split("\n")
    (work / "tmp").mkdir()
    # temp files (native library extraction, Spark artifacts) stay in the
    # run's scratch directory, and no JVM perf-data file is written
    cmd = [java_bin(), f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work / 'tmp'}", "-XX:-UsePerfData",
           *opts, "graft.perfbench.Main",
           "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace), "--work", str(work)]
    if trace:
        cmd += ["--trace-out", str(BENCH / ".traces" / f"{workload}-seed{seed}.json")]
    cmd += ["--launched-ms", str(int(time.time() * 1000))]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=sys.stderr,
                            stdin=subprocess.DEVNULL, text=True, start_new_session=True)
    try:
        out = wait_or_kill(proc, RUN_TIMEOUT_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if out is None:
        log(f"{workload}: no result within {RUN_TIMEOUT_S} s; stopped the JVM")
        return None
    lines = [l for l in out.splitlines() if l.strip()]
    for l in lines[:-1]:
        print(l, file=sys.stderr)
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        log(f"{workload}: JVM exited {proc.returncode} without a result")
        return None
    result["exit"] = proc.returncode
    return result


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=30)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        log(f"library sources not found beside the benchmark (looked in {ROOT})")
        sys.exit(2)
    launch = ensure_built()
    workloads = WORKLOADS if a.workload == "all" else [a.workload]
    results = {}
    for w in workloads:
        r = run_one(launch, w, a.seed, a.seconds, a.trace)
        if r is None:
            sys.exit(4)
        results[w] = r
    if a.workload != "all":
        r = results[a.workload]
        code = r.pop("exit")
        print(json.dumps(r))
        sys.exit(0 if code == 0 and r["correct"] else 1)
    merged = {
        "correct": all(r["correct"] and r["exit"] == 0 for r in results.values()),
        "attempted": sum(r["attempted"] for r in results.values()),
        "failed": sum(r["failed"] for r in results.values()),
        "metrics": {f"{w}.{k}": v for w, r in results.items() for k, v in r["metrics"].items()},
    }
    print(json.dumps(merged))
    sys.exit(0 if merged["correct"] else 1)


if __name__ == "__main__":
    main()
