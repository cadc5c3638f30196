"""Build file of the benchmark.

Compiles the engine (`src/main/scala`) and the harness (`perfbench/scala`)
with the Scala compiler shipped in Spark's jars, packs the classes into
`.bench_build/perfbench.jar` under the checkout root, then runs every
workload once to record a class-data-sharing archive
(`.bench_build/perfbench.jsa`). Timed runs start their JVM from that
archive, which takes Spark's class loading out of every run's set-up.

A build is reused while a stamp of every source file matches, so only the
first run in a checkout builds.

    python3 perfbench/build.py
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
SOURCES = [ROOT / "src" / "main" / "scala", ROOT / "perfbench" / "scala"]
DOCS = ROOT / "perfbench" / "data" / "documents.parquet"
BUILD = ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")
JAR = BUILD / "perfbench.jar"
ARCHIVE = BUILD / "perfbench.jsa"
STAMP = BUILD / "build.stamp"
JVM_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def spark_jars() -> Path:
    """`$SPARK_HOME/jars`, else the jar directory the repo's build.sbt names
    as its `unmanagedBase`."""
    if "SPARK_HOME" in os.environ:
        jars = Path(os.environ["SPARK_HOME"]) / "jars"
    else:
        sbt = ROOT / "build.sbt"
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                      sbt.read_text() if sbt.exists() else "")
        if not m:
            raise SystemExit("perfbench: set SPARK_HOME to a Spark 4 install")
        jars = Path(m.group(1))
    if not list(jars.glob("spark-core_*.jar")):
        raise SystemExit(f"perfbench: no Spark jars under {jars}; set SPARK_HOME")
    return jars


def sources() -> list:
    missing = [str(d) for d in SOURCES if not d.is_dir()]
    if missing:
        raise SystemExit(f"perfbench: source directories missing: {', '.join(missing)}")
    if not DOCS.exists():
        raise SystemExit(f"perfbench: missing input {DOCS}")
    return sorted(p for d in SOURCES for p in d.rglob("*.scala"))


def stamp(files: list) -> str:
    h = hashlib.sha256()
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def java_command(main_args: list, tmpdir: Path, archive_flag: str) -> list:
    """The harness JVM: Spark's module opens, a 3 GB heap, local temp files."""
    return (["java", "-Xmx3g", "-Xss4m", archive_flag, "-Xlog:cds=off,cds+dynamic=off",
             f"-Djava.io.tmpdir={tmpdir}"]
            + [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-cp", f"{JAR}{os.pathsep}{spark_jars() / '*'}", "perfbench.Main"]
            + main_args)


def run_logged(cmd: list, log: Path, timeout_s: float):
    """Runs `cmd` with its output in `log`; returns the exit code, or None
    when it was killed at the timeout."""
    with open(log, "w") as f:
        proc = subprocess.Popen(cmd, stdout=f, stderr=subprocess.STDOUT, cwd=ROOT)
        try:
            return proc.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            return None


def fail(what: str, log: Path):
    sys.stderr.write(log.read_text()[-6000:])
    raise SystemExit(f"perfbench: {what}")


def compile_jar(files: list, work: Path):
    classes = work / "classes"
    classes.mkdir(parents=True)
    cp = str(spark_jars() / "*")
    log = work / "scalac.log"
    code = run_logged(["java", "-Xmx2g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main",
                       "-nowarn", "-d", str(classes), "-classpath", cp]
                      + [str(p) for p in files], log, 800)
    if code != 0:
        fail(f"compile failed (exit {code})", log)
    with zipfile.ZipFile(JAR, "w", zipfile.ZIP_STORED) as jar:
        for p in sorted(classes.rglob("*.class")):
            jar.write(p, str(p.relative_to(classes)))


def record_archive(work: Path):
    tmp = work / "tmp"
    tmp.mkdir()
    log = work / "train.log"
    cmd = java_command(["--workload", "all", "--seed", "0", "--seconds", "0", "--trace", "0",
                        "--work", str(work / "train"), "--docs", str(DOCS)],
                       tmp, f"-XX:ArchiveClassesAtExit={ARCHIVE}")
    if run_logged(cmd, log, 800) != 0 or not ARCHIVE.exists():
        fail("training run for the class-data archive failed", log)


def build() -> Path:
    """Builds unless the stamp is current; returns the harness jar."""
    files = sources()
    want = stamp(files)
    if JAR.exists() and ARCHIVE.exists() and STAMP.exists() and STAMP.read_text() == want:
        return JAR
    work = BUILD / f"work.{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    for p in (STAMP, JAR, ARCHIVE):
        p.unlink(missing_ok=True)
    try:
        compile_jar(files, work)
        record_archive(work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    STAMP.write_text(want)
    return JAR


if __name__ == "__main__":
    print(build())
