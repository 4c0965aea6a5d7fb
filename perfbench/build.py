#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the program (src/main/scala) and the harness (perfbench/src) with
the Scala compiler that ships among the Spark jars the repository builds
against, into `<build>/classes`. A stamp holding the hash of every source
file makes a rebuild happen only when a source changed.

Usage: python3 perfbench/build.py [build_dir]    (default: .bench_build)
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SOURCES = [ROOT / "src" / "main" / "scala", ROOT / "perfbench" / "src"]


def spark_jars():
    """The Spark jar directory the repository's build.sbt compiles against
    (`unmanagedBase`), else $SPARK_HOME/jars."""
    sbt = ROOT / "build.sbt"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                  sbt.read_text()) if sbt.exists() else None
    if m:
        jars = Path(m.group(1))
    elif "SPARK_HOME" in os.environ:
        jars = Path(os.environ["SPARK_HOME"]) / "jars"
    else:
        sys.exit("perfbench: no Spark jars: build.sbt names no unmanagedBase "
                 "and SPARK_HOME is unset")
    if not any(jars.glob("scala-compiler-*.jar")):
        sys.exit(f"perfbench: no Scala compiler among the Spark jars in {jars}")
    return jars


def sources():
    missing = [str(d) for d in SOURCES if not d.is_dir()]
    if missing:
        sys.exit(f"perfbench: source directories missing: {', '.join(missing)}")
    files = sorted(p for d in SOURCES for p in d.rglob("*.scala"))
    if not files:
        sys.exit("perfbench: no Scala sources found")
    return files


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build(build_dir):
    """Returns the class directory, compiling first when sources changed."""
    build_dir = Path(build_dir)
    classes = build_dir / "classes"
    files = sources()
    want = stamp(files)
    done = build_dir / "classes.stamp"
    if done.exists() and done.read_text() == want and classes.is_dir():
        return classes
    jars = spark_jars()
    shutil.rmtree(classes, ignore_errors=True)
    classes.mkdir(parents=True)
    done.unlink(missing_ok=True)
    args = build_dir / "scalac.args"
    args.write_text("\n".join(str(f) for f in files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx3g", "-cp", f"{jars}/*",
           "scala.tools.nsc.Main", "-nowarn", "-d", str(classes),
           "-cp", f"{jars}/*", f"@{args}"]
    print(f"perfbench: compiling {len(files)} sources", file=sys.stderr)
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        sys.exit("perfbench: compilation failed")
    done.write_text(want)
    return classes


if __name__ == "__main__":
    print(build(sys.argv[1] if len(sys.argv) > 1 else ROOT / ".bench_build"))
