"""Build file of the benchmark: compiles the repo's main sources together
with the benchmark's own (`perfbench/src`) into `.bench_build/classes`
with the Scala compiler that ships in Spark's jar directory, and writes
the benchmark's input tables into `.bench_build/data`.

Both steps are cached: the classes by a hash of every source file, the
data by a hash of the classes that generate it.

    python3 perfbench/build.py            # compile and generate data
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True

ROOT = Path(__file__).resolve().parent.parent
BENCH = ROOT / "perfbench"
OUT = ROOT / ".bench_build"
CLASSES = OUT / "classes"
DATA = OUT / "data"
MAIN_SOURCES = ROOT / "src" / "main" / "scala"

# Spark 4 on JDK 17 needs these outside spark-submit; the same list as
# the repo's build.sbt.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class BuildError(Exception):
    pass


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the directory the
    repo's build.sbt names as its unmanagedBase."""
    home = os.environ.get("SPARK_HOME")
    if home and (Path(home) / "jars").is_dir():
        return Path(home) / "jars"
    sbt = ROOT / "build.sbt"
    if sbt.is_file():
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        if m and Path(m.group(1)).is_dir():
            return Path(m.group(1))
    raise BuildError("Spark jars not found: set SPARK_HOME")


def jar_classpath():
    return os.pathsep.join(str(j) for j in sorted(spark_jars().glob("*.jar")))


def sources():
    if not MAIN_SOURCES.is_dir():
        raise BuildError(f"no program sources at {MAIN_SOURCES.relative_to(ROOT)}")
    return sorted(MAIN_SOURCES.rglob("*.scala")) + sorted((BENCH / "src").rglob("*.scala"))


def digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def heap():
    """Driver heap, sized like the repo's tier-1 test command: half of
    physical memory, clamped to 2..8 GiB, unless SPARK_DRIVER_MEM says."""
    if os.environ.get("SPARK_DRIVER_MEM"):
        return os.environ["SPARK_DRIVER_MEM"]
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def java_command(work_dir, main_args):
    mem = heap()
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    tmp = Path(work_dir) / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    return ["java", *opens, f"-Xmx{mem}", f"-Xms{mem}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}", "-Duser.timezone=UTC",
            # the in-process receiver answers without Nagle's delay, so a
            # response never waits on the client's delayed ACK
            "-Dsun.net.httpserver.nodelay=true",
            f"-Dlog4j2.configurationFile={BENCH / 'log4j2.properties'}",
            "-cp", f"{CLASSES}{os.pathsep}{jar_classpath()}",
            "graftbench.Main", *main_args]


def java_env():
    """The JVM's environment: SPARK_LOCAL_DIRS would override the
    spark.local.dir the benchmark keeps inside its build directory."""
    env = dict(os.environ)
    env.pop("SPARK_LOCAL_DIRS", None)
    return env


def compile_classes():
    srcs = sources()
    stamp = digest(srcs)
    stamp_file = CLASSES / ".stamp"
    if stamp_file.is_file() and stamp_file.read_text() == stamp:
        return False
    staging = OUT / "classes.tmp"
    shutil.rmtree(staging, ignore_errors=True)
    staging.mkdir(parents=True)
    args_file = OUT / "scalac.args"
    args_file.write_text("\n".join(str(s) for s in srcs) + "\n")
    cp = jar_classpath()
    cmd = ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", "-cp", cp,
           "scala.tools.nsc.Main", "-nowarn", "-d", str(staging),
           "-classpath", cp, f"@{args_file}"]
    r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=800)
    if r.returncode != 0:
        sys.stderr.write(r.stdout)
        raise BuildError("compilation failed")
    shutil.rmtree(CLASSES, ignore_errors=True)
    staging.rename(CLASSES)
    stamp_file.write_text(stamp)
    return True


def generate_data(scale):
    stamp = (CLASSES / ".stamp").read_text() + scale
    stamp_file = DATA / f".stamp-{scale}"
    if stamp_file.is_file() and stamp_file.read_text() == stamp:
        return
    work = OUT / "gen"
    shutil.rmtree(work, ignore_errors=True)
    r = subprocess.run(java_command(work, [
        "--gen-data", "--scale", scale, "--data", str(DATA),
        "--work", str(work)]), cwd=ROOT, env=java_env(), stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True, timeout=600)
    shutil.rmtree(work, ignore_errors=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-5000:])
        raise BuildError("data generation failed")
    stamp_file.write_text(stamp)


def build(scale="full"):
    compile_classes()
    generate_data(scale)


if __name__ == "__main__":
    try:
        build(sys.argv[1] if len(sys.argv) > 1 else "full")
    except BuildError as e:
        sys.exit(f"perfbench build: {e}")
