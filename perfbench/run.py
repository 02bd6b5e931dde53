#!/usr/bin/env python3
"""Build the graft engine and this benchmark from source, run one workload
in one JVM, and print its result line.

    python3 perfbench/run.py --workload catalog-floor --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The engine's sources (src/main/scala) and
the benchmark's (perfbench/src) are compiled with the Scala compiler that
ships in Spark's jars directory ($SPARK_HOME/jars; without SPARK_HOME, that
of the first spark-submit on PATH from a Spark distribution)
into .bench_build/classes; the build is redone when any source changes.
Each run keeps all of its on-disk state (Materialize's lake, input slices,
checkpoints, landed output) in its own directory under .bench_build/runs,
removed when the run ends. The run's full record (every op, set-up,
diagnostic and, when traced, every span) goes to .bench_build/out.

Exit status is 0 only when the JVM finished and its last stdout line is a
well-formed result; the result line is then the last line printed here.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH = ROOT / "perfbench"
BUILD = ROOT / ".bench_build"
CLASSES = BUILD / "classes"
RUN_TIMEOUT_S = 170

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def spark_jars() -> Path:
    """$SPARK_HOME/jars, else the jars of the first spark-submit on PATH
    that belongs to a Spark distribution."""
    homes = [os.environ.get("SPARK_HOME")] + [
        Path(d, "spark-submit").resolve().parent.parent
        for d in os.environ.get("PATH", "").split(os.pathsep) if Path(d, "spark-submit").is_file()]
    for home in filter(None, homes):
        jars = Path(home) / "jars"
        if any(jars.glob("scala-compiler-*.jar")):
            return jars
    sys.exit("no Scala compiler in a Spark jars directory; set SPARK_HOME")


def sources():
    engine = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    if not engine:
        sys.exit(f"no engine sources under {ROOT / 'src/main/scala'}")
    return engine + sorted((BENCH / "src").rglob("*.scala"))


def build(jars: Path) -> None:
    """Compile engine and benchmark sources unless the build is current."""
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs:
        h.update(str(f.relative_to(ROOT)).encode() + b"\0" + f.read_bytes() + b"\0")
    stamp = h.hexdigest()
    stamp_file = CLASSES / ".stamp"
    if stamp_file.is_file() and stamp_file.read_text() == stamp:
        return
    shutil.rmtree(CLASSES, ignore_errors=True)
    CLASSES.mkdir(parents=True)
    cp = f"{jars}/*"
    rc = subprocess.call(["java", "-Xmx2g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main",
                          "-nowarn", "-d", str(CLASSES), "-classpath", cp]
                         + [str(f) for f in srcs], stdout=sys.stderr)
    if rc != 0:
        sys.exit(f"build failed ({rc})")
    stamp_file.write_text(stamp)


def java_cmd(jars: Path, run_dir: Path, main: str, args) -> list:
    opens = [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cp = os.pathsep.join([str(CLASSES), str(ROOT / "src" / "main" / "resources"), f"{jars}/*"])
    return (["java", "-Xmx3g", *opens,
             f"-Djava.io.tmpdir={run_dir / 'tmp'}",
             f"-Dspark.local.dir={run_dir / 'local'}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             "-cp", cp, main] + [str(a) for a in args])


def run_jvm(cmd, cwd: Path, log: Path, timeout: float) -> tuple:
    """Run `cmd` in its own process group; kill the group on timeout and
    wait for it, so no process outlives the run. Returns (rc, stdout)."""
    with open(log, "w") as err:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=subprocess.PIPE, stderr=err,
                             text=True, start_new_session=True)
        try:
            out, _ = p.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.communicate()
            return None, ""
    return p.returncode, out


def valid_result(line: str) -> bool:
    try:
        r = json.loads(line)
    except ValueError:
        return False
    return (isinstance(r, dict) and set(r) == {"correct", "attempted", "failed", "metrics"}
            and isinstance(r["attempted"], int) and r["attempted"] >= 1
            and isinstance(r["failed"], int) and isinstance(r["metrics"], dict))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], required=True)
    a = ap.parse_args()

    jars = spark_jars()
    build(jars)
    started = time.monotonic()
    run_dir = BUILD / "runs" / f"{a.workload}-{a.seed}-{os.getpid()}"
    out_dir = BUILD / "out"
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in (run_dir / "tmp", run_dir / "local", out_dir):
        d.mkdir(parents=True, exist_ok=True)
    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    args = ["--workload", a.workload, "--seed", a.seed, "--seconds", a.seconds,
            "--trace", a.trace, "--data", BENCH / "data", "--expected", BENCH / "expected.json",
            "--run-dir", run_dir, "--artifact", out_dir / f"{tag}.json"]
    try:
        rc, out = run_jvm(java_cmd(jars, run_dir, "graft.perfbench.Main", args),
                          run_dir, out_dir / f"{tag}.log",
                          RUN_TIMEOUT_S - (time.monotonic() - started))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    lines = out.strip().splitlines()
    if rc != 0 or not lines or not valid_result(lines[-1]):
        why = "timed out" if rc is None else f"exit {rc}"
        print(f"benchmark run failed ({why}); see {out_dir / (tag + '.log')}", file=sys.stderr)
        return 1
    print(lines[-1])
    return 0


if __name__ == "__main__":
    sys.exit(main())
