"""Build file of the benchmark.

Compiles the program's sources (`src/main/scala` of the repository) together
with the benchmark's own (`perfbench/src`) into `perfbench/.build/classes`,
using the Scala compiler that ships among Spark's jars, so no build tool or
download is needed. A build is skipped when the sources are unchanged.

    python3 perfbench/build.py          # build (or confirm up to date)
"""

import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = HERE / ".build"
CLASSES = BUILD / "classes"


class BuildError(Exception):
    pass


def spark_jars() -> Path:
    """Spark's jars, with the Scala compiler among them: under SPARK_HOME,
    else beside the first spark-submit on PATH that has them."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        str(Path(d).resolve().parent) for d in os.environ.get("PATH", "").split(os.pathsep)
        if d and (Path(d) / "spark-submit").exists()]
    for home in filter(None, homes):
        if any((Path(home) / "jars").glob("scala-compiler-*.jar")):
            return Path(home) / "jars"
    raise BuildError("Spark's jars (with scala-compiler) not found; set SPARK_HOME")


def java() -> str:
    home = os.environ.get("JAVA_HOME")
    return str(Path(home) / "bin" / "java") if home else "java"


def classpath() -> str:
    return f"{CLASSES}{os.pathsep}{spark_jars() / '*'}"


def sources() -> list:
    program = ROOT / "src" / "main" / "scala"
    prog = sorted(program.rglob("*.scala")) if program.is_dir() else []
    if not prog:
        raise BuildError(f"no program sources under {program.relative_to(ROOT)}; "
                         "run the benchmark from a checkout of the repository")
    return prog + sorted((HERE / "src").rglob("*.scala"))


def build() -> None:
    srcs = sources()
    jars = spark_jars()
    digest = hashlib.sha256()
    for f in srcs:
        digest.update(str(f.relative_to(ROOT)).encode())
        digest.update(f.read_bytes())
    stamp = BUILD / "stamp"
    if stamp.exists() and stamp.read_text() == digest.hexdigest() and CLASSES.is_dir():
        return
    shutil.rmtree(CLASSES, ignore_errors=True)
    CLASSES.mkdir(parents=True)
    args = BUILD / "sources.txt"
    args.write_text("\n".join(str(f) for f in srcs) + "\n")
    cmd = [java(), "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", str(jars / "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
           "-d", str(CLASSES), f"@{args}"]
    res = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                         text=True, timeout=800)
    if res.returncode != 0:
        raise BuildError("compilation failed:\n" + res.stdout[-4000:])
    stamp.write_text(digest.hexdigest())


if __name__ == "__main__":
    try:
        build()
    except BuildError as e:
        print(f"build: {e}", file=sys.stderr)
        sys.exit(2)
    print(f"built {CLASSES.relative_to(ROOT)}")
