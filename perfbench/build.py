#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (src/main) and the
benchmark's harness (perfbench/harness) with the Scala compiler that ships
with Spark, and the envelope generator (perfbench/gen) with javac.

Usage: python3 perfbench/build.py        (from the repository root)

Outputs go to .bench_build/ (or $CARGO_TARGET_DIR when set) and are
rebuilt only when a source file changes. Prints the classpath.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH = ROOT / "perfbench"
# what Spark 4 needs on JDK 17 outside spark-submit (as in build.sbt)
# -XX:-UsePerfData: no hsperfdata file in the shared /tmp
JVM_OPTS = ["-Xmx3g", "-Xss4m", "-XX:-UsePerfData"] + [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def spark_jars() -> Path:
    """Spark's jars: $SPARK_HOME/jars, else the directory build.sbt compiles against."""
    if os.environ.get("SPARK_HOME"):
        return Path(os.environ["SPARK_HOME"]) / "jars"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', (ROOT / "build.sbt").read_text())
    if not m:
        raise SystemExit("perfbench: set SPARK_HOME; build.sbt names no Spark jar directory")
    return Path(m.group(1))


def build_dir() -> Path:
    return ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")


def sources():
    main = ROOT / "src" / "main"
    if not (main / "scala").is_dir():
        raise SystemExit(f"perfbench: no program sources under {main}")
    return {
        "main": sorted((main / "scala").rglob("*.scala")),
        "resources": sorted(p for p in (main / "resources").rglob("*") if p.is_file())
        if (main / "resources").is_dir() else [],
        "harness": sorted((BENCH / "harness").glob("*.scala")),
        "gen": sorted((BENCH / "gen").glob("*.java")),
    }


def fingerprint(groups) -> str:
    h = hashlib.sha256()
    for name in sorted(groups):
        for p in groups[name]:
            h.update(str(p.relative_to(ROOT)).encode() + b"\0" + p.read_bytes())
    return h.hexdigest()


def scalac(out: Path, files, extra_cp=()):
    out.mkdir(parents=True)
    cp = os.pathsep.join([str(spark_jars() / "*"), *map(str, extra_cp)])
    subprocess.run(["java", "-Xss16m", "-Xmx3g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
                    "-usejavacp", "-nowarn", "-d", str(out), *map(str, files)],
                   check=True, stdout=sys.stderr)


def build() -> list:
    """Compiles what changed; returns the run classpath."""
    groups = sources()
    out = build_dir()
    stamp = out / "stamp"
    cp = [out / "harness.jar", out / "main.jar", spark_jars() / "*"]
    fp = fingerprint(groups)
    if stamp.exists() and stamp.read_text() == fp:
        return cp
    for d in ("main", "harness", "gen"):
        shutil.rmtree(out / d, ignore_errors=True)
        (out / f"{d}.jar").unlink(missing_ok=True)
    scalac(out / "main", groups["main"])
    res = ROOT / "src" / "main" / "resources"
    for p in groups["resources"]:
        dest = out / "main" / p.relative_to(res)
        dest.parent.mkdir(parents=True, exist_ok=True)
        shutil.copyfile(p, dest)
    scalac(out / "harness", groups["harness"], [out / "main"])
    # jars rather than class directories: the class-data archive below
    # accepts only jars on the class path
    for d in ("main", "harness"):
        shutil.make_archive(str(out / d), "zip", out / d)
        (out / f"{d}.zip").rename(out / f"{d}.jar")
    (out / "gen").mkdir()
    subprocess.run(["javac", "-J-XX:-UsePerfData", "-encoding", "UTF-8", "-d", str(out / "gen"),
                    *map(str, groups["gen"])], check=True, stdout=sys.stderr)
    archive_classes(out, cp)
    stamp.write_text(fp)
    return cp


def archive_classes(out: Path, cp):
    """Dumps the classes a Spark session loads into a class-data archive
    (AppCDS); a measured JVM maps it instead of parsing those classes.
    A failed dump only costs start-up time, so it is not an error."""
    archive = out / "classes.jsa"
    archive.unlink(missing_ok=True)
    r = subprocess.run(["java", f"-XX:ArchiveClassesAtExit={archive}", *JVM_OPTS,
                        f"-Djava.io.tmpdir={out}",
                        "-cp", os.pathsep.join(map(str, cp)), "perfbench.Harness", "class-archive"],
                       stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    if r.returncode != 0:
        archive.unlink(missing_ok=True)


if __name__ == "__main__":
    print(os.pathsep.join(map(str, build())))
