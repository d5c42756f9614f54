#!/usr/bin/env python3
"""Benchmark command for the graft Spark engine.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
  python3 perfbench/run.py --self-test

Workloads: gql_resident, gates_short (see perfbench/README.md).

The first run in a checkout compiles the program's sources together with the
benchmark's (perfbench/build.sbt, sbt offline) and generates the input tables;
both are kept under .bench_build/ and reused while the sources are unchanged.
Each run then starts one JVM with local[4], measures for --seconds seconds
after set-up and warm-up, and prints one JSON line last: correct, attempted,
failed and the metrics (end-to-end ones with --trace 0, per-layer ones with
--trace 1). The process exits non-zero, without a result, when it cannot build
or run the program.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
BUILD = ROOT / ".bench_build"
PROGRAM_SRC = ROOT / "src" / "main" / "scala"
EXPECTED = BENCH / "expected" / "digests.tsv"
SBT_OFFLINE = ("-Dsbt.override.build.repos=true -Dsbt.repository.config={home}/.sbt/repositories "
               "-Dsbt.offline=true -Xmx2g -Djava.io.tmpdir={tmp}")
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
# a run measures for --seconds, and for up to four times that while an
# operation keeps failing; set-up and warm-up come on top
SETUP_ALLOWANCE_S = 120
GEN_TIMEOUT_S = 600
BUILD_TIMEOUT_S = 800


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(1)


def source_stamp():
    """Hash of every input of the build: program and benchmark sources."""
    h = hashlib.sha256()
    files = [BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for base in (PROGRAM_SRC, BENCH / "src"):
        files += sorted(p for p in base.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def run_child(cmd, cwd, timeout, env=None):
    """Run cmd in its own process group, capturing stdout; kill the whole
    group on timeout."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, start_new_session=True,
                            stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"{cmd[0]} timed out after {timeout} s")
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    return proc.returncode, out


def build():
    """Compile once per source state; returns the runtime classpath."""
    if not (PROGRAM_SRC / "graft").is_dir():
        fail(f"program sources not found under {PROGRAM_SRC.relative_to(ROOT)}")
    stamp = source_stamp()
    cp_file, stamp_file = BUILD / "classpath.txt", BUILD / "stamp"
    if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    (BUILD / "tmp").mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline",
               SBT_OPTS=SBT_OFFLINE.format(home=os.path.expanduser("~"), tmp=BUILD / "tmp"))
    code, out = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                           "export Runtime/fullClasspath"], BENCH, BUILD_TIMEOUT_S, env)
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines or "[" in lines[-1]:
        sys.stderr.write(out[-4000:])
        fail(f"build failed (sbt exit {code})")
    # the tables come from the program's generator: make them again
    shutil.rmtree(BUILD / "data", ignore_errors=True)
    cp_file.write_text(lines[-1])
    stamp_file.write_text(stamp)
    return lines[-1]


def ensure_data(cp):
    """Generate the input tables once per build; returns their directory."""
    data = BUILD / "data"
    data.mkdir(parents=True, exist_ok=True)
    if not (data / "READY").exists():
        code, _ = java(cp, ["gen", str(data)], GEN_TIMEOUT_S)
        if code != 0:
            fail(f"input generation failed (exit {code})")
    return data


def java(cp, args, timeout):
    tmp = BUILD / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Xmx4g", "-XX:+UseG1GC",
            f"-Dlog4j2.configurationFile={BENCH / 'log4j2.properties'}",
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            f"-Dspark.hadoop.hadoop.tmp.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={BUILD / 'warehouse'}",
            "-Dfile.encoding=UTF-8", "-Dsun.jnu.encoding=UTF-8",
            "-cp", cp, "perfbench.Main"] + args
    # SPARK_GRAFT_CPUS: the cores graft.GenData generates the tables with
    env = dict(os.environ, LC_ALL="C.UTF-8", LANG="C.UTF-8", SPARK_GRAFT_CPUS="4")
    return run_child(cmd, ROOT, timeout, env)


def declared_metrics(trace):
    spec = ROOT / "BENCHMARK.json"
    if not spec.exists():
        fail("BENCHMARK.json not found at the repository root")
    b = json.loads(spec.read_text())
    return {m["name"]: m["unit"] for m in b["per_layer" if trace else "end_to_end"]}


def complete_metrics(metrics, trace):
    """Check the printed metrics against BENCHMARK.json. A traced run prints
    only the layers its workload exercises: the other declared per-layer
    metrics read 0. An untraced run prints every end-to-end metric."""
    want = declared_metrics(trace)
    undeclared = sorted(set(metrics) - set(want))
    if undeclared:
        fail(f"metrics not declared in BENCHMARK.json: {undeclared}")
    units = sorted(k for k, v in metrics.items() if v["unit"] != want[k])
    if units:
        fail(f"units differ from BENCHMARK.json: {units}")
    missing = sorted(set(want) - set(metrics))
    if missing and not trace:
        fail(f"end-to-end metrics not printed: {missing}")
    return {k: metrics.get(k, {"value": 0, "unit": u}) for k, u in want.items()}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=32)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    if not a.self_test and not a.workload:
        ap.error("--workload is required")

    cp = build()
    data = ensure_data(cp)

    work = BUILD / "work" / f"{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    try:
        if a.self_test:
            code, out = java(cp, ["selftest", str(data), str(work)], GEN_TIMEOUT_S)
            sys.stdout.write(out)
            sys.exit(code)
        args = ["run", "--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--data", str(data), "--work", str(work), "--expected", str(EXPECTED)]
        if a.trace:
            args += ["--spans", str(BUILD / "spans" / f"{a.workload}-seed{a.seed}.jsonl")]
        code, out = java(cp, args, SETUP_ALLOWANCE_S + 4 * a.seconds)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.splitlines()
    if code != 0 or not lines:
        sys.stderr.write(out[-4000:])
        fail(f"{a.workload} exited with {code}")
    result = json.loads(lines[-1])
    result["metrics"] = complete_metrics(result["metrics"], a.trace)
    if not result["correct"]:
        print(f"[perfbench] {a.workload}: WRONG RESULTS — {result['failed']} of "
              f"{result['attempted']} operations failed", file=sys.stderr)
    sys.stdout.write("\n".join(lines[:-1] + [json.dumps(result)]) + "\n")


if __name__ == "__main__":
    main()
