"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. The measured program runs in a child
process (``perfbench/worker.py``) whose working directory is the
repository root and whose ``PYTHONPATH`` holds it, so Spark's Python
workers import the package from any launch directory. All files the run
writes — inputs, tables, Spark scratch space — live under
``.bench_work/`` in the repository and are removed afterwards.

While the child's timed phase runs (a marker file exists), this process
samples the resident memory (PSS) of the child's whole process tree (the
driver's Python, the JVM and the Python workers) from ``/proc``, and
reports the largest sample. It prints a full report line followed by
the result line: ``{"correct", "attempted", "failed", "metrics"}``.
With ``--trace 0`` the metrics are the ``end_to_end`` ones of
``BENCHMARK.json``; with ``--trace 1`` the ``per_layer`` ones, each
with the unit declared there.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("warehouse_daily", "llm_curation")
TIMEOUT_S = 170
SAMPLE_S = 0.2
# Files the program and the checks import; without them there is
# nothing to measure.
REQUIRED = ("data_engineering_spark/__init__.py", "tools/check_correctness.py", "__spark_entry__.py")


def _session_members(sid: int) -> list[int]:
    """Pids of every live process in session ``sid``."""
    pids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields[0] is the state, [3] the session id
        if int(fields[3]) == sid and fields[0] != "Z":
            pids.append(int(entry))
    return pids


def _rss_mb(pids: list[int]) -> float:
    """Resident memory of ``pids`` as the sum of their proportional set
    sizes: pages shared after a fork (Python workers forked from
    PySpark's daemon, a JVM forking a helper) count once, not once per
    process."""
    kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                kb += next(int(line.split()[1]) for line in f if line.startswith("Pss:"))
        except (OSError, StopIteration):
            continue
    return kb / 1024


def _stop_session(sid: int) -> None:
    """Kill whatever the run left behind and wait until it is gone. Every
    member is signalled by pid: PySpark's daemon moves its workers into
    a process group of their own, so one ``killpg`` would miss them."""
    deadline = time.monotonic() + 10
    while time.monotonic() < deadline:
        members = _session_members(sid)
        if not members:
            return
        for pid in members:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.05)
    print(f"perfbench: processes of session {sid} still alive", file=sys.stderr)


def _environment(work: str) -> dict[str, str]:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p)
    env["TMPDIR"] = tmp
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    env["SPARK_GRAFT_DRIVER_MEM"] = "3g"
    # every JVM (spark-submit's launcher too): temp files in the work
    # directory, no hsperfdata files under /tmp
    env["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    env["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            "--conf spark.ui.showConsoleProgress=false",
            f"--conf spark.sql.warehouse.dir={os.path.join(work, 'spark-warehouse')}",
            "pyspark-shell",
        ]
    )
    return env


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    missing = [p for p in REQUIRED if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: not a checkout of the program, missing {missing}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out_path = os.path.join(work, "report.json")
    mark = os.path.join(work, "timed")
    cmd = [
        sys.executable, "-m", "perfbench.worker",
        "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", str(args.trace), "--work", os.path.join(work, "data"), "--timed-mark", mark,
    ]
    rss = []
    try:
        with open(out_path, "w") as out:
            child = subprocess.Popen(cmd, cwd=ROOT, env=_environment(work), stdout=out, start_new_session=True)
        deadline = time.monotonic() + TIMEOUT_S
        try:
            while child.poll() is None:
                if time.monotonic() > deadline:
                    print(f"perfbench: run exceeded {TIMEOUT_S} s", file=sys.stderr)
                    return 3
                if os.path.exists(mark):
                    rss.append(_rss_mb(_session_members(child.pid)))
                time.sleep(SAMPLE_S)
        finally:
            _stop_session(child.pid)
            child.wait()
        with open(out_path) as f:
            lines = f.read().strip().splitlines()
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run's directory is still there
            pass
    if child.returncode != 0 or not lines or not rss:
        print(f"perfbench: worker exited with {child.returncode}", file=sys.stderr)
        return 1
    report = json.loads(lines[-1])
    report["e2e"]["peak_rss_mb"] = max(rss)
    print(json.dumps(report))
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.trace:
        # a layer the workload never entered reads 0
        metrics = {m["name"]: {"value": report["layers"].get(m["name"], 0.0), "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": report["e2e"][m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    print(json.dumps({"correct": report["correct"], "attempted": report["attempted"],
                      "failed": report["failed"], "metrics": metrics}))
    return 0 if report["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
