#!/usr/bin/env python3
"""Build file of the benchmark package: compiles the engine's sources
(src/main/scala) together with the benchmark's own (perfbench/scala) into
one class directory, with the Scala compiler that ships in the Spark jar
directory the repository's build.sbt names (`unmanagedBase`).

    python3 perfbench/build.py            # prints the class directory

A stamp over every source file and the jar directory skips the compile
when nothing changed. Output goes under $CARGO_TARGET_DIR if set, else
.bench_build/, in the repository root.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def spark_jars(root: Path = ROOT) -> Path:
    """The jar directory build.sbt declares, else $SPARK_HOME/jars."""
    build_sbt = root / "build.sbt"
    if build_sbt.is_file():
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', build_sbt.read_text())
        if m and Path(m.group(1)).is_dir():
            return Path(m.group(1))
    home = os.environ.get("SPARK_HOME")
    if home and (Path(home) / "jars").is_dir():
        return Path(home) / "jars"
    raise SystemExit("perfbench: no Spark jar directory (build.sbt unmanagedBase or SPARK_HOME)")


def sources(root: Path = ROOT) -> list:
    main = root / "src" / "main" / "scala"
    if not main.is_dir():
        raise SystemExit(f"perfbench: engine sources not found under {main}")
    return sorted(main.rglob("*.scala")) + sorted((HERE / "scala").glob("*.scala"))


def build_dir(root: Path = ROOT) -> Path:
    base = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    p = Path(base)
    return (p if p.is_absolute() else root / p) / "perfbench"


def build(root: Path = ROOT) -> Path:
    jars = spark_jars(root)
    srcs = sources(root)
    h = hashlib.sha256(str(jars).encode())
    for s in srcs:
        h.update(str(s.relative_to(root)).encode())
        h.update(s.read_bytes())
    stamp = h.hexdigest()
    out = build_dir(root)
    classes, stamp_file = out / "classes", out / "stamp"
    if classes.is_dir() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return classes
    tmp = out / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    args_file = out / "sources.txt"
    args_file.write_text("\n".join(str(s) for s in srcs) + "\n")
    cp = f"{jars}/*"
    log = out / "compile.log"
    with open(log, "w") as lf:
        rc = subprocess.call(
            ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp,
             "scala.tools.nsc.Main", "-nowarn", "-d", str(tmp), "-classpath", cp,
             f"@{args_file}"],
            stdout=lf, stderr=subprocess.STDOUT)
    if rc != 0:
        sys.stderr.write(log.read_text()[-4000:])
        raise SystemExit(f"perfbench: compile failed (exit {rc}), see {log}")
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    stamp_file.write_text(stamp)
    return classes


if __name__ == "__main__":
    print(build())
