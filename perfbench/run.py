"""Run one benchmark measurement of the jinxspark engine.

    python3 perfbench/run.py --workload validate_columnar --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark (see build.py) into $CARGO_TARGET_DIR,
default `.bench_build`, then runs one JVM at local[<cores of this process>]
with heap and young generation sized from the machine's memory. Inputs and
outputs live in a scratch directory under the build directory, removed at
exit. The last line on stdout is the result JSON:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

Workloads: validate_columnar, validate_jsonl, main_job, sidecar.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time
from pathlib import Path

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("validate_columnar", "validate_jsonl", "main_job", "sidecar")
RUN_LIMIT_S = 170  # a run must finish within 180 s
BUILD_RUN_LIMIT_S = 880  # a run that compiles first gets 900 s

# Spark on JDK 17 outside spark-submit needs these opens (the same list as
# build.sbt's javaOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def memory_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise SystemExit("perfbench: MemTotal missing from /proc/meminfo")


def jvm_flags(work: Path) -> list:
    """Heap = a quarter of memory, clamped to [1, 4] GiB, fixed so the heap
    never resizes mid-run; young generation = a third of the heap, so the
    old generation keeps room for Spark's cached blocks."""
    heap = max(1024, min(4096, memory_mb() // 4))
    return ([f"-Xms{heap}m", f"-Xmx{heap}m", f"-Xmn{heap // 3}m", "-XX:+UseParallelGC",
             "-XX:-UsePerfData", f"-Djava.io.tmpdir={work / 'tmp'}"]
            + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS])


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = p.parse_args()
    if a.seconds < 1:
        p.error("--seconds must be at least 1")

    start = time.monotonic()
    build_dir = (build.ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")).resolve()
    stamp = build_dir / "perfbench" / "digest"
    before = stamp.read_text() if stamp.is_file() else None
    classes, source = build.build(build_dir)
    limit = RUN_LIMIT_S if before == source else BUILD_RUN_LIMIT_S

    cores = len(os.sched_getaffinity(0))
    work = build_dir / "work" / f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    cmd = ([build.java()] + jvm_flags(work)
           + ["-cp", f"{classes}{os.pathsep}{build.spark_jars() / '*'}", "perfbench.Bench",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--work", str(work), "--cores", str(cores),
              "--source", source[:16]])
    # Spark's scratch files (shuffle, spill) stay inside the work directory
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "spark-local"))
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)

    def stop(*_):
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()

    signal.signal(signal.SIGTERM, lambda *_: (stop(), sys.exit(143)))
    last = ""
    try:
        timer = threading.Timer(max(1.0, limit - (time.monotonic() - start)), stop)
        timer.start()
        for line in proc.stdout:
            line = line.rstrip("\n")
            if line:
                print(line, flush=True)
                last = line
        rc = proc.wait()
        timer.cancel()
    finally:
        stop()
        shutil.rmtree(work, ignore_errors=True)
    if rc != 0:
        print(f"perfbench: benchmark JVM exited with {rc}", file=sys.stderr)
        return rc if rc > 0 else 1
    try:
        result = json.loads(last)
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (ValueError, AssertionError):
        print("perfbench: the JVM printed no result line", file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
