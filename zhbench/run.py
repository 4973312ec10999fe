#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last line.

Usage (from the repository root):
  python3 zhbench/run.py --workload zh_jdbc|zh_registry|catalog_mix \\
      --seed N --seconds S --trace 0|1
  python3 zhbench/run.py --selftest            # the benchmark's own tests
  python3 zhbench/run.py --write-digests       # re-record catalog digests

Builds the engine and the benchmark first when their sources changed
(see build.py), then runs one JVM (`local[4]`). Everything it writes
stays under `.bench_build/` and `.bench_out/` in the repository root.
The last line of standard output is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`; with `--trace 1` the run
also leaves `spans.jsonl` and `detail.json` in its `.bench_out/` folder.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)
sys.dont_write_bytecode = True  # leave nothing beside the sources
import build  # noqa: E402

WORKLOADS = ("zh_jdbc", "zh_registry", "catalog_mix")
JVM_TIMEOUT_S = 170
OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
         "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
         "java.base/java.nio", "java.base/java.util",
         "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
         "java.base/sun.nio.ch", "java.base/sun.nio.cs",
         "java.base/sun.security.action", "java.base/sun.util.calendar"]


def jvm(root, cp, out, main, args, deadline):
    """Run one JVM; its output goes to out/jvm.log. Returns the exit code."""
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, main] + args
    with open(os.path.join(out, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=root, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            return proc.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            print(f"zhbench: JVM killed after {JVM_TIMEOUT_S} s", file=sys.stderr)
            return 124
        except BaseException:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise


def log_tail(out, n=40):
    try:
        with open(os.path.join(out, "jvm.log"), errors="replace") as fh:
            lines = [l for l in fh if "[zhbench]" in l or "Exception" in l or "Error" in l]
        sys.stderr.write("".join(lines[-n:]))
    except OSError:
        pass


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--write-digests", action="store_true")
    a = ap.parse_args()
    # a terminated run still stops its JVM (see jvm())
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not (a.workload or a.selftest or a.write_digests):
        ap.error("--workload is required")

    root = os.getcwd()
    cp = build.build(root)
    deadline = time.time() + JVM_TIMEOUT_S
    data = os.path.join(BENCH, "data", "sf0.01")
    digests = os.path.join(BENCH, "digests", "sf0.01.json")
    tag = a.workload or ("selftest" if a.selftest else "digests")
    out = os.path.join(root, ".bench_out", f"{tag}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    try:
        if a.selftest:
            rc = jvm(root, cp, out, "zhbench.SelfTest", ["--out", out], deadline)
            log_tail(out)
            sys.exit(rc)
        args = ["--workload", a.workload or "catalog_mix", "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--out", out, "--data", data, "--digests", digests]
        if a.write_digests:
            args += ["--write-digests", digests]
        rc = jvm(root, cp, out, "zhbench.Main", args, deadline)
        result = os.path.join(out, "result.json")
        if rc != 0 or (not a.write_digests and not os.path.exists(result)):
            log_tail(out)
            print(f"zhbench: run failed (exit {rc})", file=sys.stderr)
            sys.exit(rc or 1)
        if a.write_digests:
            return
        with open(result) as fh:
            line = json.dumps(json.load(fh), separators=(",", ":"))
        print(line, flush=True)
    finally:
        for d in ("work", "tmp", "spark-local"):
            shutil.rmtree(os.path.join(out, d), ignore_errors=True)


if __name__ == "__main__":
    main()
