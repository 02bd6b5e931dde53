#!/usr/bin/env python3
"""The benchmark's self-tests: `python3 perfbench/selftest.py` from the root
of a checkout. Builds like run.py, then runs graft.perfbench.SelfTest,
which checks that

  - BENCHMARK.json's metric names and units are the ones the benchmark reports,
  - span self-time arithmetic is right on a synthetic span tree,
  - the op fingerprint consumes a column that count() would prune,
  - consuming a query's output keeps its final sort and range exchange,
  - the result line parses,

and parses the synthetic result line SelfTest prints, as a caller of run.py would.
Exits 0 when every check passes.
"""
import json
import shutil
import sys
import tempfile
from pathlib import Path

import run


def main() -> int:
    jars = run.spark_jars()
    run.build(jars)
    contract = json.loads((run.ROOT / "BENCHMARK.json").read_text())
    with tempfile.TemporaryDirectory(dir=run.BUILD) as d:
        d = Path(d)
        for sub in ("tmp", "local"):
            (d / sub).mkdir()
        rc, out = run.run_jvm(run.java_cmd(jars, d, "graft.perfbench.SelfTest",
                                           [run.ROOT / "BENCHMARK.json"]),
                              d, d / "selftest.log", run.RUN_TIMEOUT_S)
        if rc != 0:
            sys.stderr.write((d / "selftest.log").read_text()[-4000:])
            print(f"FAIL: SelfTest exited {rc}")
            return 1
    line = out.strip().splitlines()[-1]
    if not run.valid_result(line):
        print(f"FAIL: result line does not parse: {line}")
        return 1
    units = {m["name"]: m["unit"] for m in contract["end_to_end"]}
    got = {k: v["unit"] for k, v in json.loads(line)["metrics"].items()}
    if got != units:
        print(f"FAIL: result line metrics {got} != BENCHMARK.json end_to_end {units}")
        return 1
    print("selftest: all checks passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
