"""Build file of the benchmark.

Compiles the engine (`src/main/scala` plus `src/main/resources`) together
with the benchmark's own sources (`perfbench/scala`) with the Scala compiler
that ships in Spark's `jars` directory, into `<build dir>/perfbench/classes`.
A digest of every input file is kept beside the classes, so an unchanged
tree is not compiled again.

    python3 perfbench/build.py [build dir]     # default: .bench_build

Spark is found through SPARK_HOME, else through `spark-submit` on PATH.
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def spark_jars() -> Path:
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = str(Path(shutil.which("spark-submit")).resolve().parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        raise SystemExit("perfbench: Spark jars not found; set SPARK_HOME")
    return Path(home) / "jars"


def java() -> str:
    home = os.environ.get("JAVA_HOME")
    exe = str(Path(home) / "bin" / "java") if home else shutil.which("java")
    if not exe or not Path(exe).exists():
        raise SystemExit("perfbench: no java found; set JAVA_HOME")
    return exe


def inputs():
    """(scala sources, resource files) of the engine and the benchmark."""
    engine = ROOT / "src" / "main" / "scala"
    if not engine.is_dir():
        raise SystemExit(f"perfbench: engine sources not found under {engine}")
    sources = sorted(engine.rglob("*.scala")) + sorted((ROOT / "perfbench" / "scala").rglob("*.scala"))
    res_dir = ROOT / "src" / "main" / "resources"
    resources = sorted(p for p in res_dir.rglob("*") if p.is_file()) if res_dir.is_dir() else []
    return sources, resources


def digest(paths) -> str:
    h = hashlib.sha256()
    for p in paths:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build(build_dir: Path):
    """Compile if any input changed; returns (classes dir, source digest)."""
    sources, resources = inputs()
    want = digest(sources + resources)
    out = build_dir / "perfbench"
    classes, stamp = out / "classes", out / "digest"
    if classes.is_dir() and stamp.is_file() and stamp.read_text() == want:
        return classes, want
    tmp = out / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    print(f"perfbench: compiling {len(sources)} sources", file=sys.stderr, flush=True)
    # scalac puts its working directory on the class path; run it in the
    # empty output directory so no directory of the repo reads as a package
    done = subprocess.run(
        [java(), "-Xss8m", "-Xmx2g", "-cp", str(spark_jars() / "*"),
         "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", str(tmp)]
        + [str(s) for s in sources],
        cwd=tmp, stdout=sys.stderr)
    if done.returncode != 0:
        raise SystemExit("perfbench: compilation failed")
    res_dir = ROOT / "src" / "main" / "resources"
    for r in resources:
        dest = tmp / r.relative_to(res_dir)
        dest.parent.mkdir(parents=True, exist_ok=True)
        shutil.copyfile(r, dest)
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    stamp.write_text(want)
    return classes, want


if __name__ == "__main__":
    target = Path(sys.argv[1]) if len(sys.argv) > 1 else ROOT / ".bench_build"
    print(build(target.resolve())[0])
