#!/usr/bin/env python3
"""Entry point of the reconciliation-stream benchmark.

    python3 reconbench/run.py --workload drain --seed 1 --seconds 15 --trace 0
    python3 reconbench/run.py --selfcheck 1

The workloads, metrics and their bounds are declared in BENCHMARK.json at the
root of the checkout; `--trace 1` reports the per-layer metrics instead of the
end-to-end ones and writes the spans to .bench_build/reconbench/results/.

Run from the root of a checkout of the repository. Builds the program and
the benchmark from source (see build.py), then runs one workload in a single
JVM. The last line of standard output is the result as one JSON object.
"""
import os
import shutil
import signal
import subprocess
import sys
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402

CHILD_TIMEOUT_S = 170
SELFCHECK_TIMEOUT_S = 900
HEAP = "2g"
# The parallel collector on a fixed heap: under G1 the serving reads of one
# run came out 20-40% slower than another's on the same input.
JVM_OPTS = [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC"]
# Spark 4 on JDK 17 outside spark-submit needs these (the program's build.sbt
# passes the same list to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def main(argv):
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        print("reconbench: run from a checkout of the program (no src/main/scala/graft)",
              file=sys.stderr)
        return 2
    classpath = build.build()
    work = os.path.join(build.OUT, "work", str(os.getpid()))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # The benchmark pins its own configuration: the program's env overrides
    # and Spark's local-dir override must not re-configure a run.
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_GRAFT_") and k not in ("SPARK_LOCAL_DIRS", "SPARK_CONF_DIR")}
    cmd = (["java"] + JVM_OPTS + [f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "reconbench.Main", "--work", work, "--jvm", " ".join(JVM_OPTS),
              "--results", os.path.join(build.OUT, "results")]
           + argv)
    limit = SELFCHECK_TIMEOUT_S if "--selfcheck" in argv else CHILD_TIMEOUT_S
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    child = subprocess.Popen(cmd, cwd=ROOT, env=env, start_new_session=True)
    try:
        code = child.wait(timeout=limit)
    except subprocess.TimeoutExpired:
        print(f"reconbench: run exceeded {limit}s; stopping it", file=sys.stderr)
        os.killpg(child.pid, signal.SIGKILL)
        child.wait()
        code = 3
    except BaseException:
        os.killpg(child.pid, signal.SIGKILL)
        child.wait()
        raise
    finally:
        remove(work)
    return code


def remove(tree):
    """Deletes a directory tree, unlinking its files in parallel: one run
    leaves thousands of small files, and on a disk mounted with `discard`
    unlinking them one after another takes over ten seconds."""
    files = [os.path.join(d, f) for d, _, fs in os.walk(tree) for f in fs]
    with ThreadPoolExecutor(16) as pool:
        list(pool.map(os.unlink, files))
    shutil.rmtree(tree, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
