#!/usr/bin/env python3
"""Runs the linkage benchmark from the root of a checkout.

    python3 linkbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 linkbench/run.py --self-test
    python3 linkbench/run.py --record-golden <first>-<last>

Builds the program and the benchmark from source when needed (see
build.py), then runs one JVM. Its last stdout line, the result object,
is the last line printed here. Inputs, checkpoints, Spark scratch space
and trace files stay under `.bench_work/` in the checkout.
"""
import argparse
import os
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

RUN_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def jvm(classes, main, args, work):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cp = os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")])
    opens = [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    return ([build.java()] + opens +
            ["-Xms3g", "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData", "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC", "-Djava.io.tmpdir=" + tmp,
             "-cp", cp, main] + args)


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload")
    p.add_argument("--seed", type=int)
    p.add_argument("--seconds", type=float)
    p.add_argument("--trace", choices=["0", "1"], default="0")
    p.add_argument("--self-test", action="store_true")
    p.add_argument("--record-golden", metavar="FIRST-LAST")
    a = p.parse_args()
    if not (a.self_test or a.record_golden) and None in (a.workload, a.seed, a.seconds):
        p.error("--workload, --seed and --seconds are required")

    try:
        classes = build.build()
    except build.BuildError as e:
        print(f"[linkbench] build: {e}", file=sys.stderr)
        return 2
    started = time.monotonic()

    work = os.path.join(build.ROOT, ".bench_work")
    golden = os.path.join(build.HERE, "golden.tsv")
    common = ["--work", work, "--golden", golden]
    if a.self_test:
        cmd, timeout = jvm(classes, "graft.linkbench.SelfTest", common, work), 900
    elif a.record_golden:
        first, last = a.record_golden.split("-")
        cmd = jvm(classes, "graft.linkbench.Record",
                  common + ["--first", first, "--last", last], work)
        timeout = None
    else:
        cmd = jvm(classes, "graft.linkbench.Main",
                  ["--workload", a.workload, "--seed", str(a.seed),
                   "--seconds", str(a.seconds), "--trace", a.trace] + common, work)
        timeout = RUN_TIMEOUT_S

    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=sys.stderr, text=True)

    def stop(signum, frame):
        proc.kill()
        proc.wait()
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = proc.communicate(
            timeout=None if timeout is None else max(1.0, timeout - (time.monotonic() - started)))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        print("[linkbench] run timed out", file=sys.stderr)
        return 3
    if proc.returncode != 0:
        sys.stderr.write(out)
        print(f"[linkbench] JVM exited with code {proc.returncode}", file=sys.stderr)
        return proc.returncode
    sys.stdout.write(out)
    sys.stdout.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())
