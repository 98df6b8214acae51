#!/usr/bin/env python3
"""Build the archive benchmark: compile the repository's Scala sources
(src/main/scala) together with the benchmark's own (perfbench/src) into
one jar with the Scala compiler that ships in Spark's jar directory, so
the build needs neither sbt nor a network.

    python3 perfbench/build.py          # prints the jar's path

Spark is found through SPARK_HOME, else through `spark-submit` on PATH.
Output goes to .bench_build/perfbench/ under the checkout root; a build
whose sources are unchanged (same digest) is skipped.
"""
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
OUT = ROOT / ".bench_build" / "perfbench"


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(os.path.realpath(submit)).parent.parent)
    jars = Path(home) / "jars" if home else None
    if not jars or not any(jars.glob("scala-compiler-*.jar")):
        raise BuildError("no Spark installation with a Scala compiler found "
                         "(set SPARK_HOME)")
    return jars


def sources():
    main = ROOT / "src" / "main" / "scala"
    if not main.is_dir():
        raise BuildError(f"no repository sources at {main.relative_to(ROOT)}")
    files = sorted(main.rglob("*.scala")) + sorted((BENCH / "src").rglob("*.scala"))
    return files


def digest(files, jars):
    h = hashlib.sha256()
    h.update(Path(__file__).read_bytes())
    h.update(",".join(sorted(p.name for p in jars.glob("*.jar"))).encode())
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()[:16]


def build():
    """Return (benchmark jar, Spark jar directory, source digest)."""
    jars = spark_jars()
    files = sources()
    d = digest(files, jars)
    jar = OUT / "perfbench.jar"
    stamp = OUT / "perfbench.digest"
    if jar.is_file() and stamp.is_file() and stamp.read_text() == d:
        return jar, jars, d
    OUT.mkdir(parents=True, exist_ok=True)
    tmp = OUT / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir()
    argfile = OUT / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    cp = str(jars / "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp,
           "scala.tools.nsc.Main",
           "-nowarn", "-d", str(tmp), "-classpath", cp, "@" + str(argfile)]
    print(f"perfbench: compiling {len(files)} Scala files", file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise BuildError("scalac failed")
    # a jar, not a directory: the JVM's class-data sharing archive
    # (run.py) accepts only jars on the class path
    with zipfile.ZipFile(OUT / "perfbench.jar.tmp", "w") as z:
        for f in sorted(tmp.rglob("*")):
            if f.is_file():
                z.write(f, f.relative_to(tmp).as_posix())
    (OUT / "perfbench.jar.tmp").replace(jar)
    shutil.rmtree(tmp, ignore_errors=True)
    stamp.write_text(d)
    return jar, jars, d


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        sys.exit(2)
