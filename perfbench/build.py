#!/usr/bin/env python3
"""Build file of the benchmark package: compiles the engine's sources
(src/main/scala) together with the benchmark's own (perfbench/scala)
into BUILD_DIR/classes with the Scala compiler that ships in the Spark
jar directory the engine's build.sbt names (`unmanagedBase`).

A stamp of every source file's path and content skips the compile when
nothing changed. Run from the repository root:

    python3 perfbench/build.py
"""
import hashlib
import re
import shutil
import subprocess
import sys
from pathlib import Path

BUILD_DIR = Path(".bench_build")
CLASSES = BUILD_DIR / "classes"
STAMP = BUILD_DIR / "stamp"
BENCH_SOURCES = Path(__file__).resolve().parent / "scala"


def spark_jars(root: Path) -> Path:
    """The jar directory build.sbt compiles and runs the engine against."""
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                  (root / "build.sbt").read_text())
    if not m:
        raise SystemExit("build.sbt names no unmanagedBase jar directory")
    jars = Path(m.group(1))
    if not any(jars.glob("scala-compiler-*.jar")):
        raise SystemExit(f"no Scala compiler in {jars}")
    return jars


def sources(root: Path) -> list:
    engine = root / "src" / "main" / "scala"
    if not engine.is_dir():
        raise SystemExit(f"engine sources missing: {engine}")
    return sorted(engine.rglob("*.scala")) + sorted(BENCH_SOURCES.glob("*.scala"))


def build(root: Path) -> Path:
    """Compile if stale; return the classes directory."""
    jars = spark_jars(root)
    srcs = sources(root)
    h = hashlib.sha256(str(jars).encode())
    for s in srcs:
        h.update(str(s.relative_to(root)).encode() + b"\0" + s.read_bytes())
    stamp = h.hexdigest()
    if CLASSES.is_dir() and STAMP.exists() and STAMP.read_text() == stamp:
        return CLASSES
    shutil.rmtree(CLASSES, ignore_errors=True)
    CLASSES.mkdir(parents=True)
    args_file = BUILD_DIR / "sources.txt"
    args_file.write_text("\n".join(str(s) for s in srcs) + "\n")
    cp = f"{jars}/*"
    cmd = ["java", "-Xss8m", "-Xmx3g", "-cp", cp, "scala.tools.nsc.Main",
           "-classpath", cp, "-d", str(CLASSES), "-nowarn", f"@{args_file}"]
    print(f"[perfbench] compiling {len(srcs)} sources", file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"compile failed (exit {r.returncode})")
    STAMP.write_text(stamp)
    return CLASSES


if __name__ == "__main__":
    build(Path.cwd())
