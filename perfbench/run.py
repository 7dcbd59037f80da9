"""Run one benchmark workload and print its result.

    python3 perfbench/run.py --workload <migrate|daily|queries> --seed <n> \
        --seconds <s> --trace <0|1>

Builds the engine and harness from source on first use (perfbench/build.py),
runs the harness in one JVM on local[nproc], and prints, as the last line
of standard output, one JSON object with the keys correct, attempted,
failed and metrics. Lines before it report the load average, the tail's
percentile and sample count, and any failed check. Exits non-zero when a
check or an operation fails. See perfbench/README.md.
"""

import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

ROOT = build.ROOT
BENCH = os.path.join(ROOT, "perfbench")
DEADLINE_S = 170
# Scale factor of the query workload's test tables (see README: why not 0.1).
SF = "0.01"
WORKLOADS = ("migrate", "daily", "queries")
# The traced run's Mirror (perfbench/src/perfbench/Mirror.scala) copies the
# pipeline drivers in this file; its digest when the copy was last checked.
MIRRORED = ("src/main/scala/graft/pipelines/Pipelines.scala",
            "45c68d45da565720dfb323caa20bdaa535315b8fa65d7fe6388b43ee768d42b4")
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
             "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
             "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def test_data_dir():
    """The directory the repository's TESTDATA.md lists for scale factor SF."""
    try:
        with open(os.path.join(ROOT, "TESTDATA.md")) as f:
            for line in f:
                m = re.match(r"\|\s*%s\s*\|\s*`([^`]+)`" % re.escape(SF), line)
                if m:
                    return m.group(1).rstrip("/")
    except OSError:
        pass
    return None


def mirror_status():
    """'in step', or why the traced run's copy of the drivers may have drifted."""
    path, digest = MIRRORED
    try:
        with open(os.path.join(ROOT, path), "rb") as f:
            now = hashlib.sha256(f.read()).hexdigest()
    except OSError:
        return "Mirror out of date: %s is missing" % path
    if now != digest:
        return "Mirror out of date: %s changed since Mirror.scala was checked against it" % path
    return "in step"


def java_command(classes, jars, work, main_class, args):
    """The JVM command line: Spark's module openings, a fixed 2 GB heap, UTC,
    and every temporary file (JVM, Spark, Derby) under `work`."""
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", "java.base/%s=ALL-UNNAMED" % p]
    cmd += ["-Xms2g", "-Xmx2g", "-XX:-UsePerfData", "-XX:ReservedCodeCacheSize=512m", "-Xss4m", "-Duser.timezone=UTC",
            "-Dspark.ui.enabled=false", "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-Dderby.system.home=" + work, "-Dderby.stream.error.file=" + os.path.join(work, "derby.log"),
            "-cp", classes + ":" + os.path.join(jars, "*"), main_class]
    return cmd + args


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--bank", default=os.path.join(BENCH, "bank", "queries.json"),
                    help="banked query results to check against")
    ap.add_argument("--write-bank", action="store_true",
                    help="bank the observed query results instead of checking them")
    a = ap.parse_args()

    classes, jars = build.ensure_built()
    started = time.time()
    work = os.path.join(build.build_dir(), "work", "%s-%d" % (a.workload, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    cmd = java_command(classes, jars, work, "perfbench.Main", [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--work", work, "--out", out, "--bank", os.path.abspath(a.bank)])
    sf = test_data_dir()
    if sf:
        cmd += ["--sf-dir", sf]
    if a.write_bank:
        cmd += ["--write-bank", "1"]

    log_path = os.path.join(build.build_dir(), "last-%s.log" % a.workload)
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)

        def stop(signum, _frame):
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            shutil.rmtree(work, ignore_errors=True)
            sys.exit(128 + signum)
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            rc = proc.wait(timeout=max(10, DEADLINE_S - (time.time() - started)))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            rc = None

    try:
        if rc is None:
            sys.stderr.write("perfbench: %s timed out; log in %s\n" % (a.workload, log_path))
            return 3
        if not os.path.exists(out):
            with open(log_path) as f:
                sys.stderr.write(f.read()[-6000:])
            sys.stderr.write("perfbench: %s produced no result (exit %d)\n" % (a.workload, rc))
            return rc or 4
        with open(out) as f:
            result = json.load(f)
        notes = {}
        if os.path.exists(out + ".notes"):
            with open(out + ".notes") as f:
                notes = json.load(f)
        if a.trace:
            notes["mirror"] = mirror_status()
        for k, v in notes.items():
            print("# %s: %s" % (k, json.dumps(v)))
        print(json.dumps(result))
        return rc
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
