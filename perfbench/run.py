"""Run one benchmark workload against the engine built from this tree.

    python3 perfbench/run.py --workload serve_hot --seed 1 --seconds 10 --trace 0

Builds on first use (see build.py), then runs graftbench.Main in one JVM at
local[nproc] with one closed-loop client. Everything it writes stays under
the repository root (.bench_build, .bench_work). The last stdout line is the
JSON result; the exit code is 0 only when every check passed.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("ingest", "serve_cold")
TIMEOUT_S = 170
JDK17_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    t0 = time.monotonic()
    classes = build.build()
    jars = build.spark_jars()
    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(build.ROOT, ".bench_work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    log_path = os.path.join(build.ROOT, ".bench_work", f"run-{os.getpid()}.log")

    cmd = ["java", "-Xms2g", "-Xmx2g", "-Xss8m", f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join([classes, os.path.join(jars, "*")]), "graftbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--work", work, "--cpus", str(cpus)]
    budget = max(10, TIMEOUT_S - (time.monotonic() - t0))
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=build.ROOT, stdout=subprocess.PIPE, stderr=log,
                             text=True, start_new_session=True)

        def stop(signum, _frame):
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            shutil.rmtree(work, ignore_errors=True)
            sys.exit(128 + signum)
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            out, _ = p.communicate(timeout=budget)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            out = None
    shutil.rmtree(work, ignore_errors=True)

    def fail(msg):
        with open(log_path) as f:
            tail = f.readlines()[-40:]
        sys.stderr.write("".join(tail))
        sys.stderr.write(f"run: {msg} (log: {os.path.relpath(log_path, build.ROOT)})\n")
        sys.exit(1)

    if out is None:
        fail(f"timed out after {budget:.0f} s")
    lines = out.strip().splitlines()
    if not lines:
        fail(f"no output, exit code {p.returncode}")
    sys.stdout.write("\n".join(lines[:-1]) + "\n")
    try:
        res = json.loads(lines[-1])
    except ValueError:
        fail(f"last line is not JSON, exit code {p.returncode}")
    ok = (p.returncode == 0 and res.get("correct") is True and res.get("failed") == 0
          and all(isinstance(m.get("value"), (int, float)) for m in res["metrics"].values()))
    print(json.dumps(res))
    os.remove(log_path)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
