"""Build file of the benchmark: compiles the program's sources together
with the benchmark harness into one class directory, with the Scala
compiler that ships among the Spark jars. A build is skipped when the
sources are unchanged since the last one.

Usage: python3 karnabench/build.py   (from the repository root)
"""
import hashlib
import os
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PROGRAM_SRC = ROOT / "src" / "main" / "scala"
PROGRAM_RESOURCES = ROOT / "src" / "main" / "resources"
HARNESS_SRC = HERE / "harness"
WORK = HERE / "work"
CLASSES = WORK / "classes"
STAMP = WORK / "classes.stamp"


def spark_jars():
    """Directory of the Spark distribution's jars: $SPARK_HOME/jars, or
    the `jars` directory beside a `spark-submit` on the PATH."""
    homes = [os.environ.get("SPARK_HOME")] + [
        str(Path(d).parent) for d in os.environ.get("PATH", "").split(os.pathsep)
        if (Path(d) / "spark-submit").is_file()]
    for home in filter(None, homes):
        jars = Path(home) / "jars"
        if any(jars.glob("spark-sql_*.jar")):
            return jars
    raise SystemExit("no Spark jars found (set SPARK_HOME)")


def sources():
    if not PROGRAM_SRC.is_dir():
        raise SystemExit(f"program sources not found at {PROGRAM_SRC}")
    return sorted(PROGRAM_SRC.rglob("*.scala")) + sorted(HARNESS_SRC.glob("*.scala"))


def classpath():
    """Runtime classpath: compiled classes, the program's resources (its
    log4j2 settings), then the Spark jars."""
    return os.pathsep.join([str(CLASSES), str(PROGRAM_RESOURCES),
                            str(spark_jars() / "*")])


def build():
    """Compile if any source changed; returns the seconds spent."""
    srcs = sources()
    digest = hashlib.sha256()
    for p in srcs:
        digest.update(str(p.relative_to(ROOT)).encode())
        digest.update(p.read_bytes())
    stamp = digest.hexdigest()
    if STAMP.is_file() and STAMP.read_text() == stamp and CLASSES.is_dir():
        return 0.0
    t0 = time.monotonic()
    if CLASSES.exists():
        subprocess.run(["rm", "-rf", str(CLASSES)], check=True)
    CLASSES.mkdir(parents=True)
    jars = str(spark_jars() / "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", jars,
           "scala.tools.nsc.Main", "-nowarn", "-d", str(CLASSES), "-classpath", jars]
    cmd += [str(p) for p in srcs]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=840)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit(f"build failed (exit {r.returncode})")
    STAMP.write_text(stamp)
    return time.monotonic() - t0


if __name__ == "__main__":
    print(f"built in {build():.1f} s")
