#!/usr/bin/env python3
"""Build file of the benchmark.

1. Compiles the engine (src/main/scala) and the benchmark's own sources
   (perfbench/src) with the Scala compiler that ships in Spark's jars
   directory, and packs the classes into perfbench.jar.
2. Runs two workloads once at 1/20 size with -XX:ArchiveClassesAtExit, so
   later runs start from a class-data-sharing archive (app.jsa). That cuts
   the ~7 s a cold JVM spends loading and verifying Spark's classes, which
   would otherwise be a large, noisy share of every run's set-up.

Output goes to .bench_build/perfbench/build-<hash>. The hash covers this
file, every source file and the jar listing, so a changed engine is rebuilt and an
unchanged one is reused. Run alone with `python3 perfbench/build.py`; it
prints the build directory.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SOURCE_DIRS = [ROOT / "src" / "main" / "scala", ROOT / "perfbench" / "src"]
BUILD_DIR = ROOT / ".bench_build" / "perfbench"
HEAP = "2g"
# Spark 4 on JDK 17 outside spark-submit (same list as build.sbt)
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


class BuildFailed(Exception):
    pass


def spark_jars() -> Path:
    """Spark's jars directory: $SPARK_HOME/jars, else the one beside
    spark-submit on PATH, else the repo build's `unmanagedBase`."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(Path(os.environ["SPARK_HOME"]) / "jars")
    submit = shutil.which("spark-submit")
    if submit:
        candidates.append(Path(submit).resolve().parent.parent / "jars")
    sbt = ROOT / "build.sbt"
    if sbt.exists():
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        if m:
            candidates.append(Path(m.group(1)))
    for c in candidates:
        if list(c.glob("scala-compiler-*.jar")) and list(c.glob("spark-sql_*.jar")):
            return c
    raise BuildFailed("no Spark jars directory with scala-compiler found "
                     "(set SPARK_HOME)")


def java() -> str:
    home = os.environ.get("JAVA_HOME")
    if home and (Path(home) / "bin" / "java").exists():
        return str(Path(home) / "bin" / "java")
    found = shutil.which("java")
    if not found:
        raise BuildFailed("java not found")
    return found


def jvm_command(build: Path, work: Path, main_args: list, archive: str) -> list:
    """The benchmark JVM; `archive` is -XX:SharedArchiveFile=... or
    -XX:ArchiveClassesAtExit=... for the build's app.jsa."""
    return [java(), "-XX:-UsePerfData", f"{archive}={build / 'app.jsa'}",
            f"-Xms{HEAP}", f"-Xmx{HEAP}",
            *ADD_OPENS,
            f"-Djava.io.tmpdir={work / 'tmp'}",
            f"-Dspark.local.dir={work / 'tmp'}",
            "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            f"-Dlog4j2.configurationFile={ROOT / 'perfbench' / 'log4j2.properties'}",
            "-cp", f"{build / 'perfbench.jar'}:{spark_jars()}/*", "perfbench.Main",
            *main_args]


def fresh_work_dir(name: str) -> Path:
    work = BUILD_DIR / "work" / f"{name}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    return work


def sources() -> list:
    for d in SOURCE_DIRS:
        if not d.is_dir():
            raise BuildFailed(f"source directory {d.relative_to(ROOT)} is missing")
    files = sorted(p for d in SOURCE_DIRS for p in d.rglob("*.scala"))
    if not files:
        raise BuildFailed("no Scala sources found")
    return files


def _run(cmd: list, what: str, cwd: Path, timeout: int) -> None:
    try:
        r = subprocess.run(cmd, cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           text=True, timeout=timeout)
    except subprocess.TimeoutExpired:
        raise BuildFailed(f"{what} exceeded {timeout} s")
    if r.returncode != 0:
        raise BuildFailed(f"{what} failed:\n" + r.stdout[-4000:])


def ensure_built() -> Path:
    """Build if needed; return the build directory."""
    jars = spark_jars()
    files = sources()
    h = hashlib.sha256(Path(__file__).read_bytes())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    h.update("\n".join(sorted(j.name for j in jars.glob("*.jar"))).encode())
    out = BUILD_DIR / f"build-{h.hexdigest()[:16]}"
    if (out / ".complete").exists():
        return out
    BUILD_DIR.mkdir(parents=True, exist_ok=True)
    for stale in BUILD_DIR.glob("build-*"):
        shutil.rmtree(stale, ignore_errors=True)
    out.mkdir()
    work = fresh_work_dir("build")
    try:
        argfile = work / "sources.txt"
        argfile.write_text("\n".join(str(p) for p in files) + "\n")
        classes = work / "classes"
        classes.mkdir()
        _run([java(), "-XX:-UsePerfData", "-Xmx2g", "-Xss8m", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
              "-classpath", f"{jars}/*", "-d", str(classes), "-nowarn", f"@{argfile}"],
             "scalac", work, 800)
        with zipfile.ZipFile(out / "perfbench.jar", "w", zipfile.ZIP_DEFLATED) as jar:
            for f in sorted(classes.rglob("*")):
                if f.is_file():
                    jar.write(f, f.relative_to(classes).as_posix())
        _run(jvm_command(out, work, ["--train", str(work / "train")],
                         "-XX:ArchiveClassesAtExit"), "class-data-sharing training run",
             work, 600)
    except BuildFailed:
        shutil.rmtree(out, ignore_errors=True)
        raise
    finally:
        shutil.rmtree(work, ignore_errors=True)
    (out / ".complete").touch()
    return out


if __name__ == "__main__":
    try:
        print(ensure_built())
    except BuildFailed as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
