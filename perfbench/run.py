#!/usr/bin/env python3
"""The repo benchmark: one command per workload.

    python3 perfbench/run.py --workload raster_pipeline --seed 1 --seconds 20 --trace 0

Builds the engine and the benchmark from source (perfbench/build.py), runs
the workload in one JVM at local[nproc], checks its outputs, and prints a
human summary line and then, as the last line, one JSON object with
`correct`, `attempted`, `failed` and `metrics` (the end-to-end metrics of
BENCHMARK.json with --trace 0, the per-layer ones with --trace 1).
See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
import build  # noqa: E402

WORKLOADS = ("raster_pipeline", "registry_mix")
# scale factor of the read-only fixture tables the registry mix reads
REGISTRY_SF = "0.01"
# the registry mix's reference checksums (perfbench/record_registry.py)
REGISTRY_CHECKSUMS = os.path.join(BENCH, "registry_checksums.txt")
JVM_TIMEOUT_S = 165
# per-layer metric prefixes each workload exercises; the traced run reports
# every other declared per-layer metric as 0 (layer not on this workload)
COMMON_LAYERS = ("session.", "spark.", "plancache.", "trace.", "failed_frac")
LAYERS = {
    "raster_pipeline": ("pipeline.", "raster.", "bandstats.", "composite.", "sink.",
                        "scaling.", "mpix_per_s"),
    "registry_mix": ("query.", "queries.", "queries_per_min"),
}

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def cores():
    return len(os.sched_getaffinity(0))


def heap_gib():
    """Tier-1's rule: half of MemTotal in GiB, clamped to 2..8 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration):
        g = 2
    return min(max(g, 2), 8)


def heap_opts():
    """A fixed-size heap with a fixed young generation. The collector then
    neither grows the heap nor resizes the young generation by timing, so
    peak RSS repeats from run to run (with -Xmx alone it spread by 45 %)."""
    g = heap_gib()
    return [f"-Xms{g}g", f"-Xmx{g}g", f"-Xmn{g * 128}m"]


def fixture_dir(sf):
    """The fixture tables at scale factor `sf`, as TESTDATA.md lists them."""
    doc = os.path.join(ROOT, "TESTDATA.md")
    if not os.path.isfile(doc):
        raise SystemExit(f"perfbench: no {doc}")
    with open(doc) as f:
        for line in f:
            cells = [c.strip(" `") for c in line.split("|")]
            if len(cells) > 2 and cells[1] == sf:
                return cells[2].rstrip("/")
    raise SystemExit(f"perfbench: TESTDATA.md lists no fixture tables at sf {sf}")


def declared(kind):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec[kind]}


def run_jvm(classes, args, work, log, main="graft.perfbench.Main"):
    cmd = (["java"] + heap_opts() + [f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", classes + os.pathsep + build.classpath(), main] + args)
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, cwd=work, stdout=out, stderr=subprocess.STDOUT)
        try:
            return proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            return None
        finally:
            # also on SIGTERM (below) or Ctrl-C: never leave the JVM running
            if proc.poll() is None:
                proc.kill()
                proc.wait()


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    kind = "per_layer" if a.trace else "end_to_end"
    want = declared(kind)
    registry = []
    if a.workload == "registry_mix":
        sf_dir = fixture_dir(REGISTRY_SF)
        if not os.path.isdir(sf_dir):
            raise SystemExit(f"perfbench: fixture tables not found at {sf_dir}")
        registry = ["--sf-dir", sf_dir, "--reference", REGISTRY_CHECKSUMS]
    classes = build.build()

    work = os.path.join(build.BUILD, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        result_file = os.path.join(work, "result.json")
        args = ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--cores", str(cores()), "--work", work, "--out", result_file,
                "--trace-out", os.path.join(build.BUILD, "trace",
                                            f"{a.workload}-seed{a.seed}.json")] + registry
        log = os.path.join(work, "jvm.log")
        code = run_jvm(classes, args, work, log)
        if code != 0 or not os.path.isfile(result_file):
            with open(log) as f:
                sys.stderr.write(f.read()[-6000:])
            raise SystemExit(f"perfbench: JVM exited with {code}")
        with open(result_file) as f:
            res = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    failures = res["failures"]
    attempted, failed = res["attempted"], res["failed"]
    got = res["metrics"]
    if a.trace:
        own = COMMON_LAYERS + LAYERS[a.workload]
        want_here = {k for k in want if k.startswith(own)}
        got.update({k: 0.0 for k in set(want) - want_here if k not in got})
        got["failed_frac"] = failed / attempted
    # a metric with no passing sample has no value: report nothing rather
    # than a time of 0
    missing = sorted(k for k in want if got.get(k) is None)
    extra = sorted(set(got) - set(want))
    if missing or extra:
        for f in failures:
            sys.stderr.write(f"[perfbench] FAILED {f}\n")
        raise SystemExit(f"perfbench: no value for {missing}, undeclared {extra} "
                         f"({kind} of BENCHMARK.json); "
                         f"{failed} of {attempted} operations failed")
    info = res["info"]
    sys.stderr.write(f"[perfbench] info {json.dumps(info)}\n")
    print(f"[perfbench] {a.workload} seed={a.seed} trace={a.trace} "
          f"cores={info['cores']} passes={info['ok_passes']}/{info['passes']} "
          + " ".join(f"{k}={v:.6g}" for k, v in sorted(got.items())
                     if kind == "end_to_end")
          + f" pass_q1_s={info['pass_q1_s']} pass_q3_s={info['pass_q3_s']}"
          + "".join(f" {k}={info[k]:.6g}" for k in ("mpix_per_s", "queries_per_min")
                    if k in info)
          + f" failed_frac={failed / attempted:.6g}")
    for f in failures:
        print(f"[perfbench] FAILED {f}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": got[k], "unit": want[k]} for k in sorted(want)},
    }))


if __name__ == "__main__":
    main()
