"""One benchmark run inside the program's environment.

Started by ``perfbench/run.py`` with the repository root as working
directory and on ``PYTHONPATH``; prints one JSON report line.

    python3 -m perfbench.worker --workload NAME --seed N --seconds S --trace 0|1 \
        --work DIR --timed-mark FILE
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback
from statistics import median, quantiles

from .trace import Tracer, session_cpu_s
from .workloads import WORKLOADS


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--work", required=True)
    ap.add_argument("--timed-mark", required=True, help="file that exists while the timed phase runs")
    args = ap.parse_args(argv)

    from data_engineering_spark.session import get_spark

    cpu0 = session_cpu_s()
    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}")
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    try:
        tracer = Tracer(spark, bool(args.trace))
        w = WORKLOADS[args.workload](spark, args.work, args.seed, tracer)
        n = w.n_ops(args.seconds)
        t0 = time.perf_counter()
        w.inputs(n)
        inputs_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        w.warmup()
        warmup_s = time.perf_counter() - t0
        setup_cpu_s = session_cpu_s() - cpu0

        open(args.timed_mark, "w").close()
        tracer.recording = True
        cpu0, py_cpu0 = session_cpu_s(), session_cpu_s(b"pyspark.daemon")
        lat, failed = [], 0
        t_start = time.perf_counter()
        for i in range(n):
            t0 = time.perf_counter()
            try:
                with tracer.op():
                    w.op(i)
            except Exception:  # noqa: BLE001 — counted as a failed operation
                failed += 1
                traceback.print_exc(file=sys.stderr)
            lat.append(time.perf_counter() - t0)
        wall_s = time.perf_counter() - t_start
        cpu_s = session_cpu_s() - cpu0
        py_cpu = session_cpu_s(b"pyspark.daemon") - py_cpu0
        tracer.recording = False
        os.remove(args.timed_mark)

        mismatches = w.check()
        e2e = {
            "setup_s": session_s + inputs_s + warmup_s,
            "setup_cpu_s": setup_cpu_s,
            "wall_s": wall_s,
            "op_p50_s": median(lat),
            "cpu_s": cpu_s,
            "fail_ratio": failed / n,
        }
        if n >= 100:
            e2e["op_p90_s"] = quantiles(lat, n=10)[-1]
        report = {
            "workload": args.workload,
            "seed": args.seed,
            "attempted": n,
            "failed": failed,
            "correct": not mismatches and not failed,
            "mismatches": mismatches,
            "inputs": {"rows": w.input_rows, "mb": w.input_bytes / 2**20},
            "e2e": e2e,
        }
        if args.trace:
            layers = {
                "setup.session_s": session_s,
                "setup.inputs_s": inputs_s,
                "setup.warmup_s": warmup_s,
            }
            layers.update({f"{k}_s": v for k, v in tracer.wall.items() if k != "op"})
            layers.update(tracer.counters())
            layers.update(w.layer_metrics())
            layers.update(tracer.spark_metrics())
            layers["spark.python_worker_cpu_s"] = py_cpu
            layers["trace.overhead_ratio"] = wall_s / max(wall_s - tracer.self_s, 1e-9)
            report["layers"] = layers
        print(json.dumps(report), flush=True)
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
