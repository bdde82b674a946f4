#!/usr/bin/env python3
"""Build the benchmark: compile the library sources (src/main/scala) and the
benchmark sources (perfbench/src) into one class directory with the Scala
compiler that ships in Spark's jars directory ($SPARK_HOME/jars, else the
directory build.sbt uses as unmanagedBase).

Run from the root of a checkout:  python3 perfbench/build.py
Output goes to .bench_build/perfbench/classes; a source digest stamp makes
a second build with unchanged sources a no-op.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

BUILD_DIR = Path(".bench_build") / "perfbench"


def spark_jars(root: Path) -> Path:
    """$SPARK_HOME/jars, else the jars directory build.sbt takes as unmanagedBase."""
    if "SPARK_HOME" in os.environ:
        jars = Path(os.environ["SPARK_HOME"]) / "jars"
    else:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', (root / "build.sbt").read_text())
        if not m:
            raise SystemExit("perfbench: set SPARK_HOME (build.sbt names no unmanagedBase)")
        jars = Path(m.group(1))
    if not any(jars.glob("scala-compiler-*.jar")):
        raise SystemExit(f"perfbench: no Spark jars with a Scala compiler under {jars}")
    return jars


def sources(root: Path) -> list:
    lib = sorted((root / "src" / "main" / "scala").rglob("*.scala"))
    bench = sorted((root / "perfbench" / "src").rglob("*.scala"))
    if not lib:
        raise SystemExit("perfbench: no library sources under src/main/scala")
    if not bench:
        raise SystemExit("perfbench: no benchmark sources under perfbench/src")
    return lib + bench


def build(root: Path) -> Path:
    jars = spark_jars(root)
    srcs = sources(root)
    digest = hashlib.sha256()
    for p in srcs:
        digest.update(str(p.relative_to(root)).encode())
        digest.update(p.read_bytes())
    digest.update(",".join(sorted(j.name for j in jars.glob("*.jar"))).encode())
    out = root / BUILD_DIR
    classes = out / "classes"
    stamp = out / "stamp"
    if stamp.is_file() and stamp.read_text() == digest.hexdigest():
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    classes.mkdir(parents=True)
    stamp.unlink(missing_ok=True)
    argfile = out / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in srcs) + "\n")
    cp = f"{jars}/*"
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(classes), "-cp", cp, f"@{argfile}"]
    print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr)
    res = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if res.returncode != 0:
        raise SystemExit("perfbench: compilation failed")
    stamp.write_text(digest.hexdigest())
    return classes


if __name__ == "__main__":
    build(Path.cwd())
