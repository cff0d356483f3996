#!/usr/bin/env python3
"""Format-layer benchmark of the graft engine.

    python3 perfbench/run.py --workload scan --seed 7 --seconds 10 --trace 0

Builds the library and the benchmark from source (see build.py), then runs one
workload in one JVM at local[<cores>/2]. The last line of standard output is
one JSON object: {"correct", "attempted", "failed", "metrics"}, carrying
every end-to-end metric of BENCHMARK.json with --trace 0 and every
per-layer metric with --trace 1. The traced run also writes its spans to
.bench_build/trace/. Exit code 0 only when every output checked correct.

Extra options (not used by the contract runs):
  --setups K           set up K times (default 3; median reported)
  --plant-wrong        corrupt one expected value; the run must fail
  --digest-out FILE    write the fixture digest (self-test)
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True  # leave nothing behind in the checkout
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
SPEC = ROOT / "BENCHMARK.json"
EXPECTED = BENCH_DIR / "expected_query_mix.json"
DEADLINE_S = 170  # the JVM is stopped past this, leaving room to clean up

# Spark on JDK 17 outside spark-submit needs these (the repository's sbt
# build passes the same set to its forked JVMs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg: str, code: int = 2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--setups", type=int, default=3)
    ap.add_argument("--plant-wrong", action="store_true")
    ap.add_argument("--digest-out")
    a = ap.parse_args()

    if not SPEC.is_file():
        fail("BENCHMARK.json not found next to the benchmark directory")
    spec = json.loads(SPEC.read_text())
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {a.workload!r}")
    try:
        classes, jars = build.build()
    except build.BuildError as e:
        fail(f"build failed: {e}")

    started = time.monotonic()
    work = build.BUILD_DIR / "work" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    # no hsperfdata file in the system temp directory
    cmd = ["java", "-Xms3g", "-Xmx3g", "-Xss4m", "-XX:-UsePerfData"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={work / 'tmp'}", "-Dspark.ui.enabled=false",
            f"-Dlog4j2.configurationFile={BENCH_DIR / 'log4j2.properties'}",
            "-cp", f"{classes}{os.pathsep}{jars / '*'}", "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", str(work), "--expected", str(EXPECTED),
            "--setups", str(a.setups)]
    if a.plant_wrong:
        cmd.append("--plant-wrong")
    if a.digest_out:
        cmd += ["--digest-out", str(Path(a.digest_out).resolve())]

    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, start_new_session=True)

    def stop(signum, _frame):
        # never leave the JVM behind when this launcher is stopped
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = proc.communicate(timeout=DEADLINE_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"timed out after {DEADLINE_S} s", 3)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    shutil.rmtree(work, ignore_errors=True)

    lines = [l for l in out.splitlines() if l.strip()]
    for l in lines[:-1]:
        print(l, file=sys.stderr)
    try:
        res = json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        fail(f"no result from the benchmark JVM (exit code {proc.returncode})", 3)
    want = [m["name"] for m in spec["per_layer" if a.trace else "end_to_end"]]
    if sorted(res["metrics"]) != sorted(want):
        fail(f"reported metrics do not match BENCHMARK.json: {sorted(set(res['metrics']) ^ set(want))}", 3)
    print(f"[perfbench] {a.workload} seed {a.seed}: {time.monotonic() - started:.1f} s", file=sys.stderr)
    print(json.dumps(res))
    if not res["correct"] or proc.returncode != 0:
        sys.exit(1)


if __name__ == "__main__":
    main()
