"""The north rule's ship shape: the job runs under a REAL
``spark-submit --py-files chronoxtract_spark.zip`` with the repo
stripped from the import path — proving the deployment artifact (zip +
jobs/rollup_submit.py) is self-contained, not an accident of running
from a checkout (BASELINE.json north_rule: "run via spark-submit
--py-files").
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import zipfile

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_SUBMIT = "/opt/spark/bin/spark-submit"


def _build_zip(path: str) -> str:
    zpath = os.path.join(path, "chronoxtract_spark.zip")
    pkg = os.path.join(REPO, "chronoxtract_spark")
    with zipfile.ZipFile(zpath, "w", zipfile.ZIP_DEFLATED) as z:
        for root, _dirs, files in os.walk(pkg):
            if "__pycache__" in root:
                continue
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    z.write(full, os.path.relpath(full, REPO))
    return zpath


def _submit(zpath, workdir, *job_args):
    """Run the job under spark-submit from a neutral cwd with no
    repo PYTHONPATH — imports must resolve from the --py-files zip."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    out = subprocess.run(
        [
            SPARK_SUBMIT,
            "--master", "local[4]",
            "--driver-memory", "3g",
            "--conf", "spark.sql.shuffle.partitions=4",
            "--conf", "spark.ui.enabled=false",
            "--py-files", zpath,
            os.path.join(REPO, "jobs", "rollup_submit.py"),
            *job_args,
        ],
        capture_output=True,
        text=True,
        timeout=600,
        cwd=workdir,
        env=env,
    )
    assert out.returncode == 0, f"submit failed:\n{out.stderr[-4000:]}"
    payload = [l for l in out.stdout.splitlines() if l.startswith('{"snapshot"')]
    assert payload, f"no JSON summary line:\n{out.stdout[-2000:]}"
    return json.loads(payload[-1])


@pytest.mark.skipif(
    not os.path.exists(SPARK_SUBMIT), reason="spark-submit not installed"
)
def test_submit_py_files_end_to_end(spark, tmp_path):
    from chronoxtract_spark.synth import synth_transcripts

    input_dir = str(tmp_path / "transcripts")
    synth_transcripts(spark, 6, seed=11, min_turns=64, max_turns=200) \
        .write.mode("overwrite").parquet(input_dir)

    zpath = _build_zip(str(tmp_path))
    warehouse = str(tmp_path / "warehouse")
    workdir = str(tmp_path)

    summary = _submit(
        zpath, workdir,
        "--input", input_dir,
        "--warehouse", warehouse,
        "--snapshot", "v1",
    )
    assert summary["tiers"]["rollup_1m"] > 0
    assert summary["phase_seconds"].get("write_1m", 0) > 0

    # the committed table matches the count the job reported
    tier = spark.read.parquet(os.path.join(warehouse, "rollup_1m"))
    assert tier.count() == summary["tiers"]["rollup_1m"]
    assert {"conv_id", "day"} <= set(tier.columns)
    # the coarsest tier carries the full statistical vector, not just
    # moments
    tier_1d = spark.read.parquet(os.path.join(warehouse, "rollup_1d"))
    assert tier_1d.count() == summary["tiers"]["rollup_1d"] > 0
    assert {"median", "q95", "spectral_entropy"} <= set(tier_1d.columns)
    lineage = spark.read.parquet(os.path.join(warehouse, "lineage"))
    assert lineage.filter("source_snapshot = 'v1'").count() > 0

    # second submit, same snapshot: lineage-resume skips every committed
    # day — a fresh application against the same warehouse does no work
    resumed = _submit(
        zpath, workdir,
        "--input", input_dir,
        "--warehouse", warehouse,
        "--snapshot", "v1",
    )
    assert resumed["tiers"]["rollup_1m"] == 0
    assert resumed["tiers"]["rollup_1d"] == 0
