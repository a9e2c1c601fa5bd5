#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the program's sources (src/main/scala) together with the
benchmark's own (perfbench/src) into one jar with the Scala compiler that
ships in Spark's jar directory, so the build needs nothing beyond a JDK and
a Spark distribution. Output goes to $CARGO_TARGET_DIR (default
.bench_build) under the current directory; a stamp of the source hashes
skips the build when nothing changed.

    python3 perfbench/build.py        # from the repository root
"""
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

SOURCE_DIRS = ["src/main/scala", "perfbench/src"]
JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def spark_jars() -> Path:
    home = os.environ.get("SPARK_HOME") or "/opt/spark"
    return Path(home) / "jars"


def build_dir() -> Path:
    return Path(os.environ.get("CARGO_TARGET_DIR") or ".bench_build").resolve()


def sources() -> list:
    files = []
    for d in SOURCE_DIRS:
        if not Path(d).is_dir():
            raise SystemExit(f"build: source directory {d} is missing")
        files += sorted(str(p) for p in Path(d).rglob("*.scala"))
    return files


def stamp(files: list) -> str:
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        h.update(Path(f).read_bytes())
    h.update(str(spark_jars()).encode())
    return h.hexdigest()


def jvm_options(run_dir: Path) -> list:
    """JVM flags of a benchmark JVM whose every file stays under run_dir."""
    for d in ("tmp", "spark-local"):
        (run_dir / d).mkdir(parents=True, exist_ok=True)
    opts = []
    for p in JDK_OPENS:
        opts += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    return opts + [
        "--add-modules=jdk.incubator.vector",
        "-Xms3g", "-Xmx3g", "-Xmn1g", "-XX:ReservedCodeCacheSize=512m",
        f"-Djava.io.tmpdir={run_dir / 'tmp'}",
        f"-Dspark.local.dir={run_dir / 'spark-local'}",
        f"-Dspark.sql.warehouse.dir={run_dir / 'warehouse'}",
        f"-Dderby.system.home={run_dir}",
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-Dspark.callstack.depth=400",
    ]


def classpath(jar: Path) -> str:
    return f"{jar}:{spark_jars()}/*"


def compile_jar(files: list, jar: Path) -> None:
    tmp = build_dir() / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    cp = f"{spark_jars()}/*"
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(tmp), "-classpath", cp] + files
    print(f"build: compiling {len(files)} sources into {jar}", file=sys.stderr, flush=True)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit(f"build: scalac failed with code {r.returncode}")
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
        for f in sorted(tmp.rglob("*")):
            if f.is_file():
                z.write(f, f.relative_to(tmp).as_posix())
    shutil.rmtree(tmp, ignore_errors=True)


def build() -> Path:
    """Returns the benchmark jar, building it first if the sources changed."""
    files = sources()
    out = build_dir()
    jar = out / "perfbench.jar"
    want = stamp(files)
    stamp_file = out / "build.stamp"
    if jar.is_file() and stamp_file.is_file() and stamp_file.read_text() == want:
        return jar
    if not list(spark_jars().glob("scala-compiler-*.jar")):
        raise SystemExit(f"build: no Spark jars with a Scala compiler under {spark_jars()}")
    out.mkdir(parents=True, exist_ok=True)
    stamp_file.unlink(missing_ok=True)
    compile_jar(files, jar)
    stamp_file.write_text(want)
    return jar


if __name__ == "__main__":
    print(build())
