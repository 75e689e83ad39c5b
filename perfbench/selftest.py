#!/usr/bin/env python3
"""Self-tests of the benchmark.

    python3 perfbench/selftest.py

1. The JVM checks in perfbench/src/graft/perfbench/SelfTest.scala: corpus
   determinism, the output checks catching a one-pixel corruption, an
   undecodable file and a throwing query or pass reading as failed.
2. Every workload, traced and untraced, through run.py with --seconds 0
   (set-up and the minimum number of passes): the printed metric names and
   units are exactly those of BENCHMARK.json.
"""
import json
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
import build  # noqa: E402
import run  # noqa: E402


def jvm_checks():
    work = os.path.join(build.BUILD, f"selftest-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    try:
        cmd = (["java", "-Xmx2g", f"-Djava.io.tmpdir={work}/tmp"]
               + [a for p in run.ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]
               + ["-cp", build.build() + os.pathsep + build.classpath(),
                  "graft.perfbench.SelfTest", work])
        r = subprocess.run(cmd, cwd=work, stdout=subprocess.PIPE,
                           stderr=subprocess.DEVNULL, text=True)
        print("\n".join(l for l in r.stdout.splitlines() if l.startswith("[selftest]")))
        return r.returncode == 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


def metric_names():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ok = True
    for w in spec["workloads"]:
        for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
            cmd = [sys.executable, os.path.join(BENCH, "run.py"),
                   "--workload", w["name"], "--seed", "3", "--seconds", "0",
                   "--trace", str(trace)]
            r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                               stderr=subprocess.DEVNULL, text=True)
            lines = r.stdout.strip().splitlines()
            try:
                out = json.loads(lines[-1])
                good = (r.returncode == 0 and out["correct"]
                        and sorted(out["metrics"]) == sorted(m["name"] for m in spec[kind])
                        and all(out["metrics"][m["name"]]["unit"] == m["unit"]
                                for m in spec[kind]))
            except (IndexError, ValueError, KeyError):
                good = False
            print(f"[selftest] {'ok  ' if good else 'FAIL'} {w['name']} trace={trace} "
                  f"prints exactly the {kind} metrics of BENCHMARK.json")
            ok &= good
    return ok


if __name__ == "__main__":
    ok = jvm_checks()
    ok = metric_names() and ok
    sys.exit(0 if ok else 1)
