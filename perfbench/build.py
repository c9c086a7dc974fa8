"""Build of the benchmark: compiles the program (src/main/scala) together
with the harness (perfbench/src) into one class directory with the Scala
compiler that ships with Spark, so no build server or dependency fetch is
involved.

    python3 perfbench/build.py        # prints the runtime classpath

The output lives under .bench_build/perfbench/build-<stamp>/, where the stamp is
a hash of every source file: an unchanged tree is never rebuilt.
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
BUILD = ROOT / ".bench_build" / "perfbench"
SOURCE_DIRS = [ROOT / "src" / "main" / "scala", ROOT / "perfbench" / "src"]
RESOURCES = ROOT / "src" / "main" / "resources"


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(submit).resolve().parents[1])
    jars = Path(home) / "jars" if home else None
    if not jars or not jars.is_dir():
        raise SystemExit("perfbench: Spark jars not found (set SPARK_HOME)")
    return jars


def sources():
    files = []
    for d in SOURCE_DIRS:
        if not d.is_dir():
            raise SystemExit(f"perfbench: missing source directory {d.relative_to(ROOT)}")
        files += sorted(d.rglob("*.scala"))
    return files


def build(log=sys.stderr):
    """Compiles when needed; returns the runtime classpath string."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    stamp = h.hexdigest()[:16]
    out = BUILD / f"build-{stamp}"
    classes = out / "classes"
    cp = os.pathsep.join([str(classes), str(RESOURCES), f"{jars}/*"])
    if (out / "ok").exists():
        return cp
    if BUILD.is_dir():
        for old in BUILD.glob("build-*"):
            if old != out:
                shutil.rmtree(old, ignore_errors=True)
    shutil.rmtree(out, ignore_errors=True)
    classes.mkdir(parents=True)
    argfile = out / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in srcs))
    print(f"perfbench: compiling {len(srcs)} files", file=log, flush=True)
    cmd = ["java", "-Xmx3g", "-Xss16m", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
           "-nowarn", "-d", str(classes), "-classpath", f"{jars}/*", f"@{argfile}"]
    r = subprocess.run(cmd, stdout=log, stderr=log)
    if r.returncode != 0:
        raise SystemExit("perfbench: compile failed")
    (out / "ok").write_text(stamp)
    return cp


if __name__ == "__main__":
    print(build())
