#!/usr/bin/env python3
"""Build and run one workload of the NHS pipeline benchmark.

    python3 nhsbench/run.py --workload store_ingest --seed 1 --seconds 1 --trace 0

Run from anywhere inside a checkout of the repository. The benchmark and
the program's sources are compiled with the Scala compiler shipped in the
Spark distribution (SPARK_HOME, or the one `spark-submit` on PATH belongs
to) into `.bench_build/nhsbench/<source digest>/`; later runs reuse that
build. Each run works in a fresh directory under `.bench_build/nhsbench/runs/`
that is removed when the run ends. The last line of standard output is the
result JSON; a traced run also keeps its spans under
`.bench_build/nhsbench/traces/`, and every result is appended with its stamp
to `.bench_build/nhsbench/results.jsonl`. A traced run times an untraced
half and a traced half of the same seed in one JVM and reports the
difference as its overhead.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
OUT = ROOT / ".bench_build" / "nhsbench"
RUN_TIMEOUT_S = 175
HEAP = "4g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
# the fixture writers the workbook workload reuses live with the tests
FIXTURES = ["src/test/scala/graft/sources/ExcelFixtures.scala",
            "src/test/scala/graft/sources/XlsFixtures.scala"]


def fail(msg):
    print(f"nhsbench: {msg}", file=sys.stderr)
    sys.exit(2)


def java_bin():
    home = os.environ.get("JAVA_HOME")
    if home and (Path(home) / "bin" / "java").exists():
        return str(Path(home) / "bin" / "java")
    found = shutil.which("java")
    if not found:
        fail("no java found (set JAVA_HOME or put java on PATH)")
    return found


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    candidates = [Path(home) / "jars"] if home else []
    submit = shutil.which("spark-submit")
    if submit:
        candidates.append(Path(submit).resolve().parent.parent / "jars")
    for c in candidates:
        if any(c.glob("scala-compiler-*.jar")):
            return c
    fail("no Spark distribution with a Scala compiler found (set SPARK_HOME)")


def sources():
    main = ROOT / "src" / "main" / "scala"
    if not main.is_dir():
        fail(f"program sources not found under {main}")
    files = sorted(main.rglob("*.scala")) + [ROOT / f for f in FIXTURES] + \
        sorted((BENCH_DIR / "scala").rglob("*.scala"))
    missing = [str(f) for f in files if not f.is_file()]
    if missing:
        fail(f"missing sources: {missing}")
    return files


def build(java, jars):
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    digest = h.hexdigest()[:16]
    classes = OUT / digest / "classes"
    if (OUT / digest / "ok").exists():
        return classes, digest
    tmp = OUT / f"{digest}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = tmp / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    t0 = time.time()
    cp = f"{jars}/*"
    r = subprocess.run([java, "-Xss8m", "-Xmx3g", "-cp", cp, "scala.tools.nsc.Main",
                        "-nowarn", "-d", str(tmp), "-classpath", cp, f"@{argfile}"],
                       stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        fail("compilation failed")
    argfile.unlink()
    (OUT / digest).mkdir(parents=True, exist_ok=True)
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    (OUT / digest / "ok").write_text(f"{time.time() - t0:.1f}\n")
    print(f"nhsbench: built {len(files)} sources in {time.time() - t0:.1f} s",
          file=sys.stderr)
    return classes, digest


def commit(digest):
    try:
        rev = subprocess.run(["git", "-C", str(ROOT), "rev-parse", "--short=12", "HEAD"],
                             capture_output=True, text=True, timeout=10)
        if rev.returncode == 0 and rev.stdout.strip():
            return f"{rev.stdout.strip()}+src-{digest}"
    except (OSError, subprocess.SubprocessError):
        pass
    return f"src-{digest}"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    java = java_bin()
    jars = spark_jars()
    classes, digest = build(java, jars)

    work = OUT / "runs" / f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    # a fixed heap and the stop-the-world parallel collector: no concurrent GC
    # threads competing with the four task threads for the cpus
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC"] + \
        [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + \
        ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
         "-Djava.io.tmpdir=" + str(work / "tmp"),
         "-cp", f"{classes}:{jars}/*", "nhsbench.Bench",
         "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
         "--trace", str(a.trace), "--work-dir", str(work),
         "--results", str(OUT / "results.jsonl")]
    (work / "tmp").mkdir()
    env = dict(os.environ, NHSBENCH_COMMIT=commit(digest))
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, env=env,
                            start_new_session=True)
    # a run that overstays is stopped with its whole process group
    timer = threading.Timer(RUN_TIMEOUT_S, os.killpg, (proc.pid, signal.SIGKILL))
    timer.start()
    last = ""
    try:
        for line in proc.stdout:
            line = line.rstrip("\n")
            print(line, flush=True)
            if line.strip():
                last = line
        proc.wait()
    except KeyboardInterrupt:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    finally:
        timer.cancel()
        for spans in work.glob("spans-*.jsonl"):
            (OUT / "traces").mkdir(parents=True, exist_ok=True)
            shutil.copy(spans, OUT / "traces" / spans.name)
        shutil.rmtree(work, ignore_errors=True)
    if proc.returncode != 0:
        fail(f"benchmark exited with code {proc.returncode}")
    try:
        json.loads(last)
    except ValueError:
        fail("benchmark printed no result line")


if __name__ == "__main__":
    main()
