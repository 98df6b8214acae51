#!/usr/bin/env python3
"""The archive benchmark: one command per workload.

    python3 perfbench/run.py --workload serve_archive --seed 1 --seconds 10 --trace 0

Builds the repository and the benchmark from source (perfbench/build.py),
runs one workload in one JVM, checks its outputs, and prints as its last
stdout line one JSON object: {"correct", "attempted", "failed",
"metrics"} -- the end-to-end metrics with --trace 0, the per-layer
metrics with --trace 1. The line before it is the run's record (core
count, heap, commit, seed). The full record, including the traced spans,
is kept under .bench_build/perfbench/records/ for perfbench/diff.py.
Exits non-zero, without a result line, when the build or the run fails,
and non-zero with correct=false when a correctness check fails.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("serve_archive", "live_mixed")
# every run must finish well inside the 180 s a run is allowed
RUN_TIMEOUT_S = 170
# JDK 17 module opens Spark needs outside spark-submit
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
         "java.net", "java.nio", "java.util", "java.util.concurrent",
         "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
         "sun.security.action", "sun.util.calendar"]


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=build.ROOT,
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    try:
        jar, jars, digest = build.build()
    except build.BuildError as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 2

    run_dir = build.OUT / "runs" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    logs = build.OUT / "logs"
    logs.mkdir(parents=True, exist_ok=True)
    log_path = logs / f"{a.workload}-seed{a.seed}-trace{a.trace}.log"
    # Class-data sharing: the first run of a workload on a build dumps
    # the classes it loaded; later runs map them instead of loading and
    # verifying Spark's classes again (about 7 s of JVM start-up here).
    cds = build.OUT / f"cds-{a.workload}-{digest}.jsa"
    cds_tmp = cds.with_suffix(f".{os.getpid()}.tmp")
    share = ([f"-XX:SharedArchiveFile={cds}"] if cds.is_file()
             else [f"-XX:ArchiveClassesAtExit={cds_tmp}"])
    classpath = [str(jar)] + sorted(str(j) for j in jars.glob("*.jar"))
    cmd = (["java"] +
           [x for p in OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] +
           ["-Xmx3g", "-XX:-UsePerfData", "-Xlog:disable",
            "-Xlog:all=warning,cds=off:stderr"] + share +
           [f"-Djava.io.tmpdir={run_dir / 'tmp'}",
            f"-Dlog4j2.configurationFile={build.BENCH / 'log4j2.properties'}",
            "-cp", os.pathsep.join(classpath),
            "graft.perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace,
            "--dir", str(run_dir), "--out", str(build.OUT / "records"),
            "--digest", digest])
    commit = git_commit()
    if commit:
        cmd += ["--commit", commit]

    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                             start_new_session=True)
        try:
            out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            print(f"perfbench: run did not finish in {RUN_TIMEOUT_S} s "
                  f"(log: {log_path})", file=sys.stderr)
            return 3
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
    if cds_tmp.is_file():
        if p.returncode == 0 and not cds.is_file():
            for old in build.OUT.glob(f"cds-{a.workload}-*.jsa"):
                old.unlink()  # archives of earlier builds
            cds_tmp.replace(cds)
        else:
            cds_tmp.unlink()

    lines = [l for l in out.splitlines() if l.strip()]
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (IndexError, ValueError, AssertionError):
        tail = Path(log_path).read_text().splitlines()[-30:]
        print("\n".join(tail), file=sys.stderr)
        print(f"perfbench: run failed with exit code {p.returncode} "
              f"(log: {log_path})", file=sys.stderr)
        return p.returncode or 4
    if not result["correct"]:
        for l in Path(log_path).read_text().splitlines():
            if l.startswith("CHECK FAILED"):
                print(l, file=sys.stderr)
    print(lines[-2] if len(lines) > 1 else "")
    print(lines[-1])
    return p.returncode


if __name__ == "__main__":
    sys.exit(main())
