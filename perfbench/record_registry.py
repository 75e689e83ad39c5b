#!/usr/bin/env python3
"""Record the reference checksums of the registry mix.

    python3 perfbench/record_registry.py

Runs each query of the mix once over the fixture tables, writes its result
as parquet and compares it with its DuckDB oracle twin, using the repo's own
comparison (tools/oracle_check.py). Only when every result matches does it
write the order-independent checksum of each parquet round trip to
perfbench/registry_checksums.txt, which every registry_mix pass is then
checked against. Run it again when the mix or the fixture tables change.
"""
import contextlib
import importlib.util
import json
import os
import shutil
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
import build  # noqa: E402
import run  # noqa: E402


def oracle_failures(oracle_dir, sf_dir):
    spec = importlib.util.spec_from_file_location(
        "oracle_check", os.path.join(ROOT, "tools", "oracle_check.py"))
    oc = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(oc)
    with open(os.path.join(oracle_dir, "oracle_sql.json")) as f:
        sql = json.load(f)
    failures = []
    with contextlib.redirect_stdout(sys.stderr):
        con = oc.connect(sf_dir)
        for name, q in sorted(sql.items()):
            if q is None:
                failures.append(f"{name}: no oracle twin")
            elif oc.check_one(con, oracle_dir, name, q, 1, retry_oom=False) is not True:
                failures.append(f"{name}: differs from the DuckDB oracle")
        con.close()
    return failures


def main():
    sf_dir = run.fixture_dir(run.REGISTRY_SF)
    classes = build.build()
    work = os.path.join(build.BUILD, f"record-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        sums = os.path.join(work, "checksums.txt")
        log = os.path.join(work, "jvm.log")
        code = run.run_jvm(classes, ["--sf-dir", sf_dir, "--work", work, "--out", sums,
                                     "--cores", str(run.cores())],
                           work, log, main="graft.perfbench.Record")
        if code != 0:
            with open(log) as f:
                sys.stderr.write(f.read()[-6000:])
            raise SystemExit(f"perfbench: JVM exited with {code}")
        bad = oracle_failures(os.path.join(work, "oracle"), sf_dir)
        if bad:
            raise SystemExit("perfbench: not recorded: " + "; ".join(bad))
        with open(sums) as f:
            lines = f.read()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    with open(run.REGISTRY_CHECKSUMS, "w") as f:
        f.write(f"# RowHash (rows:sum) of each registry_mix result over the sf{run.REGISTRY_SF}\n"
                "# fixture tables; each result matched its DuckDB oracle twin when\n"
                "# recorded. Written by perfbench/record_registry.py.\n" + lines)
    sys.stdout.write(lines)


if __name__ == "__main__":
    main()
