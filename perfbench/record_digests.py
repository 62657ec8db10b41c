#!/usr/bin/env python3
"""Record the corpus digests the benchmark checks against.

Runs the corpus workload's queries once with their outputs
written as parquet, compares every output with its DuckDB oracle through
tools/check.py, and only when all match writes perfbench/expected_digests.json
from the same run's digests. Run it from a full checkout after a change that
legitimately changes a query's output:

    python3 perfbench/record_digests.py
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import run  # noqa: E402


def main():
    out = os.path.join(build.build_dir(), "record")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    names = run.BATCH + run.STREAM
    eng = run.Engine(["corpus", run.DATA, ",".join(names), "0", "0", out], out,
                     os.path.join(out, "engine.log"))
    try:
        eng.expect("ready")
        r = eng.expect("result", timeout=1800)
    finally:
        eng.stop()
    check = subprocess.run([sys.executable, os.path.join(build.ROOT, "tools", "check.py"),
                            run.DATA, out] + names)
    if check.returncode != 0:
        raise SystemExit("oracle check failed: digests not recorded")
    digests = {}
    for q in r["queries"]:
        if "error" in q:
            raise SystemExit(f"{q['query']} failed: {q['error']}")
        digests[q["query"]] = {"rows": q["rows"], "hash": q["hash"]}
    with open(run.EXPECTED, "w") as f:
        json.dump(digests, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"recorded {len(digests)} digests in {run.EXPECTED}")


if __name__ == "__main__":
    main()
