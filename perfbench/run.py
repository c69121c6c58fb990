#!/usr/bin/env python3
"""Runs one benchmark workload and prints its result as the last line.

    python3 perfbench/run.py --workload <crawl_wide|crawl_trickle|curate_sweep>
        --seed <n> --seconds <s> --trace <0|1>

Builds the program from source first (perfbench/build.py), then runs
the measurement in one JVM at local[4]. Everything the run writes goes
under .bench_build/ (removed when the run ends) and, for traced runs,
the span dump under .bench_out/. Exit code 0 only when every output
check passed.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
RUN_LIMIT_S = 170


def java_cmd(run_dir, args):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java"] + opens +
            ["-Xms3g", "-Xmx3g", f"-Djava.io.tmpdir={run_dir / 'tmp'}",
             f"-Dlog4j2.configurationFile={build.ROOT / 'perfbench' / 'log4j2.properties'}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             "-cp", build.classpath(), "graftbench.Main",
             "--root", str(build.ROOT), "--run-dir", str(run_dir)] + args)


def run_jvm(args, limit_s=RUN_LIMIT_S):
    """Runs the benchmark JVM; returns (exit code, stdout lines)."""
    run_dir = build.OUT / f"run-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    proc = subprocess.Popen(java_cmd(run_dir, args), stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    lines = []
    # a watchdog kills the JVM if it overruns; the reader then sees EOF
    timer = threading.Timer(limit_s, lambda: proc.poll() is None and os.killpg(proc.pid, signal.SIGKILL))
    timer.start()
    try:
        for line in proc.stdout:
            lines.append(line.rstrip("\n"))
            if not line.startswith("RESULT "):
                print(line, end="", flush=True)
        code = proc.wait()
    finally:
        timer.cancel()
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
    return code, lines


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    build.ensure_built()
    code, lines = run_jvm(["--workload", a.workload, "--seed", str(a.seed),
                           "--seconds", str(a.seconds), "--trace", str(a.trace)])
    results = [l[len("RESULT "):] for l in lines if l.startswith("RESULT ")]
    if code != 0 or not results:
        sys.exit(f"benchmark JVM exited with code {code} and {len(results)} result lines")
    result = json.loads(results[-1])
    print(json.dumps(result))
    sys.exit(0 if result["correct"] else 1)


if __name__ == "__main__":
    main()
