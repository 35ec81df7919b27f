#!/usr/bin/env python3
"""Runs one benchmark workload and prints its result as the last line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --self-test

Run from the repository root. The first run compiles (perfbench/build.py).
Everything the run writes lives under .bench_build/perfbench and its
per-run work directory is removed when the run ends.
"""
import argparse
import json
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import build  # noqa: E402

WORKLOADS = ["ingest-hourly", "ingest-backfill", "battery-sf0.1"]
JVM_TIMEOUT_S = 170

ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def sf01_dir():
    """The pinned sf0.1 fixture: $SPARK_GRAFT_SF_DIR (as for graft.Bench),
    else the sf 0.1 row of TESTDATA.md."""
    if os.environ.get("SPARK_GRAFT_SF_DIR"):
        return os.environ["SPARK_GRAFT_SF_DIR"]
    path = os.path.join(build.ROOT, "TESTDATA.md")
    m = os.path.exists(path) and re.search(r"^\|\s*0\.1\s*\|\s*`([^`]+)`", open(path).read(), re.M)
    if not m:
        raise SystemExit("perfbench: set SPARK_GRAFT_SF_DIR; TESTDATA.md names no sf0.1 fixture")
    return m.group(1).rstrip("/")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--self-test", action="store_true")
    ap.add_argument("--record-golden", action="store_true",
                    help="re-record perfbench/golden_sf0.1.json from the current code")
    a = ap.parse_args()
    if not (a.workload or a.self_test or a.record_golden):
        ap.error("--workload is required")

    classpath = build.build()
    cpus = len(os.sched_getaffinity(0))
    tag = "selftest" if a.self_test else (a.workload or "golden")
    work = os.path.join(build.OUT, "work", f"{tag}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    jvm = ["java", "-Xms4g", "-Xmx4g", "-XX:-UsePerfData", "-Xss8m",
           "-Duser.timezone=UTC",
           "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
           "-Dderby.system.home=" + work,
           "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties")]
    jvm += [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
    jvm += ["-cp", classpath, "graft.perfbench.Main"]
    if a.self_test:
        args = ["--self-test"]
    elif a.record_golden:
        args = ["--record-golden", os.path.join(HERE, "golden_sf0.1.json"), "--work", work,
                "--cpus", str(cpus), "--sf-dir", sf01_dir()]
    else:
        trace_out = os.path.join(build.OUT, "traces", f"{a.workload}-seed{a.seed}.jsonl")
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--work", work, "--cpus", str(cpus),
                "--trace-out", trace_out]
        if a.workload == "battery-sf0.1":
            args += ["--sf-dir", sf01_dir()]
    try:
        r = subprocess.run(jvm + args, cwd=build.ROOT, stdout=subprocess.PIPE, timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: {tag} exceeded {JVM_TIMEOUT_S} s", file=sys.stderr)
        return 3
    finally:
        shutil.rmtree(work, ignore_errors=True)
    out = r.stdout.decode("utf-8", "replace").rstrip("\n").split("\n")
    if r.returncode != 0:
        sys.stderr.write("\n".join(out) + "\n")
        return r.returncode
    if a.self_test or a.record_golden:
        print("\n".join(out))
        return 0
    result = json.loads(out[-1])
    print("\n".join(out[:-1]))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
