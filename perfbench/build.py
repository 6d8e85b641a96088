#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (src/main/scala) and the
benchmark harness (perfbench/src) with the Scala compiler that ships in
Spark's jars directory, the same jars the program's own build compiles
against. Outputs go to .bench_build/classes-<hash> (under
$CARGO_TARGET_DIR when it is set), where the hash covers every source file
and the jar list, so an unchanged tree builds once.

    python3 perfbench/build.py [--tests]

prints the classes directory it built or found.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


class BuildError(Exception):
    pass


def spark_jars():
    """Spark's jars directory: $SPARK_HOME/jars, else next to spark-submit."""
    cands = []
    if os.environ.get("SPARK_HOME"):
        cands.append(Path(os.environ["SPARK_HOME"]) / "jars")
    submit = shutil.which("spark-submit")
    if submit:
        cands.append(Path(submit).resolve().parent.parent / "jars")
    for c in cands:
        if any(c.glob("scala-compiler-*.jar")):
            return c
    raise BuildError("no Spark jars directory with a Scala compiler "
                     "(set SPARK_HOME)")


def sources(tests=False):
    prog = ROOT / "src" / "main" / "scala"
    if not prog.is_dir():
        raise BuildError(f"program sources not found under {prog.relative_to(ROOT)}")
    srcs = sorted(prog.rglob("*.scala")) + sorted((HERE / "src").rglob("*.scala"))
    if tests:
        srcs += sorted((HERE / "test").rglob("*.scala"))
    return srcs


def out_dir():
    return ROOT / (os.environ.get("CARGO_TARGET_DIR") or ".bench_build")


def classpath(classes, jars):
    return f"{classes}{os.pathsep}{jars}/*"


def build(tests=False):
    """Compiles if needed; returns (classes dir, source hash, built now)."""
    jars = spark_jars()
    srcs = sources(tests)
    h = hashlib.sha256()
    for j in sorted(p.name for p in jars.glob("*.jar")):
        h.update(j.encode())
    for s in srcs:
        h.update(str(s.relative_to(ROOT)).encode())
        h.update(s.read_bytes())
    digest = h.hexdigest()[:16]
    base = out_dir()
    dest = base / f"classes-{digest}{'-tests' if tests else ''}"
    if (dest / ".complete").exists():
        return dest, digest, False
    tmp = base / f"{dest.name}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = tmp / "sources.txt"
    argfile.write_text("\n".join(str(s) for s in srcs) + "\n")
    print(f"[build] compiling {len(srcs)} sources into {dest.relative_to(ROOT) if dest.is_relative_to(ROOT) else dest}",
          file=sys.stderr)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
           "-nowarn", "-d", str(tmp), "-cp", f"{jars}/*", f"@{argfile}"]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    argfile.unlink()
    (tmp / ".complete").write_text(digest + "\n")
    try:
        tmp.rename(dest)
    except OSError:  # built concurrently by another run
        shutil.rmtree(tmp, ignore_errors=True)
    return dest, digest, True


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--tests", action="store_true", help="also compile perfbench/test")
    a = ap.parse_args()
    try:
        dest, _, _ = build(a.tests)
    except BuildError as e:
        print(f"[build] {e}", file=sys.stderr)
        return 1
    print(dest)
    return 0


if __name__ == "__main__":
    sys.exit(main())
