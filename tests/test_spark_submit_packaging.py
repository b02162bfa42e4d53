"""spark-submit --py-files packaging smoke (north rule: the job ships as
``spark-submit --py-files dataflow_mm_spark.zip ... cli.py``).

The zip is built from the live package; ``cli.py`` is copied ALONE into a
scratch dir and submitted from there with a stripped PYTHONPATH, so the
engine import can only be satisfied by the ``--py-files`` zip — a missing
module in the zip (or a cli.py import that accidentally leans on the repo
checkout) fails this test where a manual smoke from the repo root would
pass. A second submit against the same checkpoint asserts the exactly-once
sink adds no rows on resume, exercising checkpoint recovery through the
real entrypoint (reference packaging analogue: DataFlow-MM runs as a
pip-installed CLI, dataflow/cli.py).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import zipfile

import pytest

from dataflow_mm_spark.streaming.sink import ExactlyOnceParquetSink


def _spark_submit() -> str | None:
    cand = shutil.which("spark-submit")
    if cand:
        return cand
    home = os.environ.get("SPARK_HOME", "/opt/spark")
    p = os.path.join(home, "bin", "spark-submit")
    return p if os.path.exists(p) else None


def _build_zip(dest: str) -> str:
    import dataflow_mm_spark

    pkg_dir = os.path.dirname(os.path.abspath(dataflow_mm_spark.__file__))
    with zipfile.ZipFile(dest, "w", zipfile.ZIP_DEFLATED) as z:
        for root, _dirs, files in os.walk(pkg_dir):
            for f in sorted(files):
                if not f.endswith(".py"):
                    continue
                full = os.path.join(root, f)
                rel = os.path.join(
                    "dataflow_mm_spark", os.path.relpath(full, pkg_dir)
                )
                z.write(full, rel)
    return dest


def test_spark_submit_py_files_packaging(spark, tiny_transcripts, tmp_path):
    submit = _spark_submit()
    if submit is None:
        pytest.skip("no spark-submit on PATH / SPARK_HOME")

    inp = str(tmp_path / "input")
    tiny_transcripts.write.mode("overwrite").parquet(inp)
    zip_path = _build_zip(str(tmp_path / "dataflow_mm_spark.zip"))

    import dataflow_mm_spark

    pkg_dir = os.path.dirname(os.path.abspath(dataflow_mm_spark.__file__))
    scratch = tmp_path / "scratch"
    scratch.mkdir()
    shutil.copy(os.path.join(pkg_dir, "cli.py"), scratch / "cli.py")

    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    cmd = [
        submit,
        "--master", "local[2]",
        "--conf", "spark.sql.shuffle.partitions=4",
        "--conf", "spark.ui.enabled=false",
        "--conf", "spark.driver.memory=2g",
        "--py-files", zip_path,
        str(scratch / "cli.py"),
        "--job", "turns",
        "--input", inp,
        "--output", out,
        "--checkpoint", ck,
        "--watermark", "10 minutes",
    ]
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable

    r = subprocess.run(
        cmd, capture_output=True, text=True, timeout=600,
        cwd=str(scratch), env=env,
    )
    assert r.returncode == 0, f"spark-submit failed:\n{r.stderr[-4000:]}"

    # the submit's --conf beats the session factory's default: batch 0's
    # offset log records the shuffle partitions the query ran with
    with open(os.path.join(ck, "offsets", "0")) as f:
        batch0 = json.loads(f.read().splitlines()[1])
    assert batch0["conf"]["spark.sql.shuffle.partitions"] == "4"

    sink = ExactlyOnceParquetSink(out)
    committed = sink.read_committed(spark)
    n1 = committed.count()
    assert n1 > 0
    # lineage columns present on the committed output
    for c in ("_batch_id", "_part_id"):
        assert c in committed.columns

    # resume against the same checkpoint: availableNow re-drains nothing and
    # the exactly-once sink must not grow
    r2 = subprocess.run(
        cmd, capture_output=True, text=True, timeout=600,
        cwd=str(scratch), env=env,
    )
    assert r2.returncode == 0, f"resume submit failed:\n{r2.stderr[-4000:]}"
    assert sink.read_committed(spark).count() == n1
