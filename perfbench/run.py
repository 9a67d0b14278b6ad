"""Benchmark launcher: ``python3 perfbench/run.py --workload <name> --seed <n>
--seconds <s> --trace <0|1>``, run from the repository root.

Runs one workload in a child process with its own process group, so the
Spark driver JVM and every Python worker it forks are stopped and reaped when
the run ends, times out or fails. The child's standard output is passed
through; its last line is the JSON result. Exits non-zero, printing no
result, when the run fails or the program source is missing.

Environment given to the child:

- ``PYTHONPATH`` includes the repository root, because Spark's Python
  workers import ``sparksent`` by name;
- ``SPARK_GRAFT_CPUS`` = min(2, cores): the Spark core count and the
  shuffle (and state-store) partition count;
- scratch space (Spark local dirs, warehouse, JVM and Python temp) under
  ``.perfbench_work/`` in the repository, results under ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TIMEOUT_S = 170


def _group_alive(pgid: int) -> bool:
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        if fields[0] != "Z" and int(fields[2]) == pgid:
            return True
    return False


def _reap_group(pgid: int) -> None:
    """SIGTERM then SIGKILL the child's process group; wait until empty."""
    for sig, grace in ((signal.SIGTERM, 5.0), (signal.SIGKILL, 5.0)):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.time() + grace
        while time.time() < deadline:
            if not _group_alive(pgid):
                return
            time.sleep(0.1)


def main() -> int:
    ap = argparse.ArgumentParser(description="sparksent streaming benchmark")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "sparksent", "topology.py")):
        print("sparksent source not found next to perfbench/", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{a.workload}-{a.seed}-{os.getpid()}")
    out = os.path.join(ROOT, ".perfbench_out")
    tmp = os.path.join(work, "tmp")
    for d in (tmp, out):
        os.makedirs(d, exist_ok=True)
    cores = min(2, os.cpu_count() or 1)
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": "1g",
        "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "warehouse"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": tmp,
        # a heap touched in full at start-up, so the JVM's resident size
        # does not depend on how far garbage collection happened to grow
        # it; the C1 compiler only, so compilation ends during set-up and
        # the measured triggers run the same code from first to last (with
        # C2 it took about a core through the measured phases and per-
        # trigger cost kept falling); no hsperfdata file in the system temp
        # dir
        "PYSPARK_SUBMIT_ARGS": (f"--driver-java-options '-Xms1g -XX:+AlwaysPreTouch "
                                f"-XX:TieredStopAtLevel=1 -XX:-UsePerfData "
                                f"-Djava.io.tmpdir={tmp}' pyspark-shell"),
    })
    cmd = [sys.executable, os.path.join(HERE, "stream_bench.py"),
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--work", work, "--out", out]
    log_path = os.path.join(out, f"log-{a.workload}-seed{a.seed}.txt")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                                stderr=log, start_new_session=True, text=True)
    try:
        stdout, _ = proc.communicate(timeout=TIMEOUT_S)
        code = proc.returncode
    except subprocess.TimeoutExpired:
        print(f"run exceeded {TIMEOUT_S}s", file=sys.stderr)
        stdout, code = "", 124
    finally:
        _reap_group(proc.pid)
        if proc.poll() is None:
            proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    lines = stdout.rstrip("\n").splitlines()
    if code != 0 or not lines or not lines[-1].startswith("{"):
        sys.stdout.write("\n".join(lines[:-1] if lines and lines[-1].startswith("{") else lines))
        print(f"\nrun failed with exit code {code}; log in {log_path}", file=sys.stderr)
        return code or 1
    print("\n".join(lines))
    return 0


if __name__ == "__main__":
    sys.exit(main())
