"""The benchmark's own tests.

    python3 perfbench/selftest.py

1. The input generator is deterministic: the same seed gives byte-identical
   documents, delta drops and snapshot drops; another seed does not.
2. The query check bites: a bank with one corrupted entry makes the
   queries workload exit non-zero.
3. The traced run's copy of the pipeline drivers (Mirror.scala) was
   checked against the drivers as they are now: fails with "Mirror out of
   date" once the drivers' file changes, until Mirror.scala is brought in
   step and the digest in run.py is updated.
"""

import json
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import run  # noqa: E402


def gen_fingerprint(classes, jars, work, seed, name):
    out = os.path.join(work, name)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = run.java_command(classes, jars, work, "perfbench.GenCheck", [str(seed), out])
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, check=True)
    return r.stdout.strip().splitlines()[-1]


def main():
    classes, jars = build.ensure_built()
    work = os.path.join(build.build_dir(), "selftest")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    failures = []
    mirror = run.mirror_status()
    print("mirror: %s" % mirror)
    if mirror != "in step":
        failures.append(mirror)
    try:
        a = gen_fingerprint(classes, jars, work, 7, "a")
        b = gen_fingerprint(classes, jars, work, 7, "b")
        c = gen_fingerprint(classes, jars, work, 8, "c")
        print("generator: seed 7 -> %s, again -> %s, seed 8 -> %s" % (a, b, c))
        if a != b:
            failures.append("same seed gave different files")
        if a == c:
            failures.append("different seeds gave identical files")

        bank = os.path.join(run.BENCH, "bank", "queries.json")
        with open(bank) as f:
            entries = json.load(f)
        name = sorted(entries["queries"])[0]
        entries["queries"][name]["hash"] += 1
        corrupt = os.path.join(work, "corrupt-bank.json")
        with open(corrupt, "w") as f:
            json.dump(entries, f)
        r = subprocess.run([sys.executable, os.path.join(run.BENCH, "run.py"), "--workload", "queries",
                            "--seed", "1", "--seconds", "1", "--trace", "0", "--bank", corrupt],
                           stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
        print("corrupted bank entry %s: exit %d" % (name, r.returncode))
        if r.returncode == 0 or "banked" not in r.stderr:
            failures.append("a corrupted bank entry did not fail the command's check")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for f in failures:
        print("FAIL: " + f)
    print("selftest: %s" % ("FAILED" if failures else "ok"))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
