"""Build file of the benchmark: compiles the program's sources
(`src/main/scala`) together with the benchmark's own (`perfbench/src`) into
`perfbench/.build/classes`, with the Scala compiler that Spark ships in
`$SPARK_HOME/jars` (the jars the program itself builds against). The
compile is skipped while the sources are unchanged.

    python3 perfbench/build.py
"""
import hashlib
import os
import pathlib
import shutil
import subprocess
import sys

BENCH = pathlib.Path(__file__).resolve().parent
ROOT = BENCH.parent
PROGRAM_SRC = ROOT / "src" / "main" / "scala"
BUILD = BENCH / ".build"
CLASSES = BUILD / "classes"
STAMP = BUILD / "stamp"


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        raise BuildError("SPARK_HOME is not set")
    jars = pathlib.Path(home) / "jars"
    if not list(jars.glob("scala-compiler-*.jar")):
        raise BuildError(f"no Scala compiler in {jars}")
    return jars


def sources():
    if not (PROGRAM_SRC / "graft").is_dir():
        raise BuildError(f"program sources not found under {PROGRAM_SRC}")
    files = sorted(PROGRAM_SRC.rglob("*.scala")) + sorted((BENCH / "src").rglob("*.scala"))
    return files


def source_digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build():
    """Returns (classes dir, jars dir, source digest); compiles if needed."""
    jars = spark_jars()
    files = sources()
    digest = source_digest(files)
    if CLASSES.is_dir() and STAMP.is_file() and STAMP.read_text() == digest:
        return CLASSES, jars, digest
    out = BUILD / "classes.tmp"
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    argfile = BUILD / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    cp = f"{jars}/*"
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp,
           "scala.tools.nsc.Main", "-nowarn", "-d", str(out), "-classpath", cp, f"@{argfile}"]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        raise BuildError("compile failed:\n" + proc.stdout[-4000:])
    shutil.rmtree(CLASSES, ignore_errors=True)
    out.rename(CLASSES)
    STAMP.write_text(digest)
    return CLASSES, jars, digest


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        sys.exit(f"build: {e}")
