#!/usr/bin/env python3
"""Tally auditor: regenerate the repo's headline counts from the
artifacts instead of hand-syncing them each round.

Reads
  - the newest CORRECTNESS_r*.json (query count + oracle passes), or
    the local tools/check.py output dir if none exists yet;
  - an sbt test log (``sbt -batch test > log``) for test/suite counts;
  - the SparkEntry registry size via the committed bench artifact;
  - the design counts of the main tree (src/main): lines of Scala,
    `def main` entry points and distinct SPARK_GRAFT_* environment
    variables the code reads.

Prints one JSON line with the live counts, then greps README.md and
SURVEY.md for stale hardcoded counts ("N tests / M suites", "K named
queries") and exits 1 listing each drifted claim — so the round's
docs can never silently lag the registry again.

Usage: tally.py [--test-log FILE]
       tally.py --design [DIR ...]

``--design`` prints only the design counts, one JSON line per checkout
DIR (default: this one), so a change's before → after is one command:
``tally.py --design <parent checkout> .``.

Without --test-log the auditor reads the canonical log location
``target/test_run.log`` (produced by ``sbt -batch test | tee
target/test_run.log``, the round's full-suite run). A missing log is a
FAILURE, not a skip — the test/suite claims were the one count class
that silently went unaudited whenever nobody passed a log.
"""
import glob
import json
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def newest_correctness():
    files = sorted(glob.glob(os.path.join(ROOT, "CORRECTNESS_r*.json")))
    if not files:
        return None, None, None
    with open(files[-1]) as f:
        d = json.load(f)
    per = d.get("queries") or d.get("results") or d
    n = len(per)
    ok = sum(1 for v in per.values()
             if isinstance(v, dict)
             and v.get("rows_match") and v.get("schema_match")
             and v.get("hash_match") and not v.get("err"))
    return os.path.basename(files[-1]), n, ok


def bench_queries():
    p = os.path.join(ROOT, "bench.json")
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return len(json.load(f)["queries"])


def test_counts(log_path):
    if not log_path or not os.path.exists(log_path):
        return None, None
    txt = open(log_path, errors="replace").read()
    m = re.findall(r"Tests: succeeded (\d+), failed (\d+)", txt)
    s = re.findall(r"Suites: completed (\d+), aborted (\d+)", txt)
    if not m or not s:
        return None, None
    succ = sum(int(a) for a, _ in m)
    suites = sum(int(a) for a, _ in s)
    return succ, suites


def doc_claims():
    """Hardcoded counts the docs assert: (file, lineno, kind, value)."""
    claims = []
    for name in ("README.md", "SURVEY.md"):
        p = os.path.join(ROOT, name)
        if not os.path.exists(p):
            continue
        for i, line in enumerate(open(p, errors="replace"), 1):
            for m in re.finditer(r"(\d+) tests? / (\d+) suites?", line):
                claims.append((name, i, "tests", int(m.group(1))))
                claims.append((name, i, "suites", int(m.group(2))))
            for m in re.finditer(r"(\d+) named quer", line):
                claims.append((name, i, "queries", int(m.group(1))))
            for m in re.finditer(r"(\d+) queries declared", line):
                claims.append((name, i, "queries", int(m.group(1))))
    return claims


def design_counts(root):
    """Design counts of the main tree under ``root``: Scala LoC,
    ``def main`` entry points, distinct SPARK_GRAFT_* env vars read."""
    loc = mains = 0
    env = set()
    read = re.compile(
        r'(?:sys\.env(?:\.get|\.getOrElse)?|getenv)\(\s*"(SPARK_GRAFT_\w+)"')
    for f in sorted(glob.glob(os.path.join(root, "src", "main", "**", "*.scala"),
                              recursive=True)):
        txt = open(f, errors="replace").read()
        loc += txt.count("\n")
        mains += len(re.findall(r"\bdef main\b", txt))
        env.update(read.findall(txt))
    return {"main_loc": loc, "main_entry_points": mains,
            "env_vars": len(env), "env_var_names": sorted(env)}


DEFAULT_TEST_LOG = os.path.join(ROOT, "target", "test_run.log")


def main():
    if "--design" in sys.argv:
        dirs = sys.argv[sys.argv.index("--design") + 1:] or [ROOT]
        for d in dirs:
            print(json.dumps({"tree": d, **design_counts(d)}))
        return
    log = DEFAULT_TEST_LOG
    if "--test-log" in sys.argv:
        log = sys.argv[sys.argv.index("--test-log") + 1]
    cfile, n_corr, n_ok = newest_correctness()
    n_bench = bench_queries()
    n_tests, n_suites = test_counts(log)
    live = {"correctness_file": cfile, "oracle_queries": n_corr,
            "oracle_pass": n_ok, "bench_queries": n_bench,
            "tests": n_tests, "suites": n_suites, "test_log": log,
            **design_counts(ROOT)}
    print(json.dumps(live))
    if n_tests is None:
        print(f"NO TEST LOG at {log} — run "
              "`sbt -batch test | tee target/test_run.log` first; "
              "test/suite doc claims are UNAUDITED", file=sys.stderr)
        sys.exit(1)

    truth = {"queries": n_bench or n_corr, "tests": n_tests,
             "suites": n_suites}
    # SURVEY/README narrate per-round history: older "N queries
    # declared" lines are legitimately stale. Audit only the LAST claim
    # of each kind per file (the current-state assertion).
    latest = {}
    for name, line, kind, val in doc_claims():
        latest[(name, kind)] = (line, val)
    stale = []
    for (name, kind), (line, val) in sorted(latest.items()):
        expect = truth.get(kind)
        if expect is not None and val != expect:
            stale.append(f"{name}:{line} claims {val} {kind}, "
                         f"artifacts say {expect}")
    if stale:
        print("STALE DOC COUNTS:", file=sys.stderr)
        for s in stale:
            print("  " + s, file=sys.stderr)
        sys.exit(1)
    print("doc counts in sync")


if __name__ == "__main__":
    main()
