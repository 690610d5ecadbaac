"""Session set-up that must hold on any driver session."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_arrow_kernel_runs_from_any_cwd(tmp_path):
    """Python workers unpickle module-level kernels by reference, so they
    must import the package whatever directory the driver started in. A
    vanilla session fixed up by ``prepare_session`` runs an Arrow-kernel
    operator from ``tmp_path`` with no PYTHONPATH."""
    script = tmp_path / "drive.py"
    script.write_text(
        textwrap.dedent(
            f"""
            import sys
            sys.path.insert(0, {ROOT!r})
            from pyspark.sql import SparkSession
            from data_engineering_spark.operators.similarity import cosine_topk
            from data_engineering_spark.session import prepare_session

            spark = (
                SparkSession.builder.master("local[1]")
                .config("spark.ui.enabled", "false")
                .getOrCreate()
            )
            prepare_session(spark)
            df = spark.createDataFrame(
                [(1, [1.0, 0.0]), (2, [0.6, 0.8]), (3, [0.0, 1.0])],
                "vec_id long, embedding array<double>",
            )
            print("neighbors", sorted(r.neighbor_id for r in cosine_topk(df, df, k=1).collect()))
            spark.stop()
            """
        )
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, str(script)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    assert "neighbors [2, 2, 3]" in out.stdout, out.stdout
