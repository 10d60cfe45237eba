#!/usr/bin/env python3
"""gowarcspark benchmark: one command for every workload.

    python3 perfbench/run.py --workload incremental|neardup \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. Builds the library and the benchmark's own
code from source (perfbench/build.py), then runs one JVM at local[k]. The
last line of standard output is the JSON result; the run record with the
traced spans lands in $CARGO_TARGET_DIR/runs/ (default .bench_build/runs/).
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.dont_write_bytecode = True
sys.path.insert(0, str(HERE))
import build  # noqa: E402

WORKLOADS = ("incremental", "neardup")
# Each JVM run must end well inside the 180 s a run may take.
JVM_TIMEOUT_S = 170
HEAP = "3g"

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    args = ap.parse_args()

    root = Path.cwd()
    cp = build.build(root)
    out = build.build_dir(root)
    tmp = out / "tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    log = out / "logs" / f"{tag}.log"
    log.parent.mkdir(parents=True, exist_ok=True)
    cmd = ["java", f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
           "-Dspark.ui.enabled=false",
           *[x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           "-cp", os.pathsep.join(cp), "graftbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", args.trace,
           "--work", str(out / "work" / args.workload),
           "--goldens", str(HERE / "goldens.json"),
           "--record", str(out / "runs" / f"{tag}.json")]
    # Spark's scratch space stays in the checkout: the work dir sets it.
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True, env=env,
                                start_new_session=True)
        try:
            stdout, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            sys.exit(f"benchmark JVM exceeded {JVM_TIMEOUT_S} s; see {log}")
    lines = [line for line in stdout.splitlines() if line.strip()]
    if proc.returncode != 0 or not lines or not lines[-1].startswith("{"):
        sys.stderr.write(log.read_text()[-4000:])
        sys.exit(f"benchmark JVM failed with code {proc.returncode}; see {log}")
    print(lines[-1])


if __name__ == "__main__":
    main()
