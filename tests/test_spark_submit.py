"""north_rule "run via spark-submit --py-files" evidence: build the
dist zip, launch a REAL spark-submit subprocess whose driver imports the
engine only from the shipped archive (cwd outside the repo, repo stripped
from PYTHONPATH), and check the emitted graph against the golden triple
set. This is the same launch shape a multi-executor cluster uses; only
--master differs."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_pyfiles_zip_is_deterministic_and_test_free(tmp_path):
    sys.path.insert(0, os.path.join(REPO, "tools"))
    import make_pyfiles

    z1 = make_pyfiles.build(str(tmp_path / "a.zip"))
    z2 = make_pyfiles.build(str(tmp_path / "b.zip"))
    with open(z1, "rb") as f1, open(z2, "rb") as f2:
        assert f1.read() == f2.read()  # cacheable artifact
    import zipfile

    names = zipfile.ZipFile(z1).namelist()
    assert all(n.startswith("knowledge_graph_builder_spark/") for n in names)
    assert not any("test" in n or "__pycache__" in n for n in names)
    assert "knowledge_graph_builder_spark/plans/pipeline.py" in names


def test_spark_submit_golden_pipeline(tmp_path, spark):
    from knowledge_graph_builder_spark.sources.synth import (
        GOLDEN_EXPECTED_TRIPLES,
        golden_transcripts,
    )

    sys.path.insert(0, os.path.join(REPO, "tools"))
    import make_pyfiles

    zip_path = make_pyfiles.build(str(tmp_path / "kgb.zip"))
    in_path = str(tmp_path / "transcripts_in")
    out_path = str(tmp_path / "kg_out")
    golden_transcripts(spark).write.parquet(in_path)

    submit = shutil.which("spark-submit") or "/opt/spark/bin/spark-submit"
    env = {
        k: v
        for k, v in os.environ.items()
        if k not in ("PYTHONPATH",)  # the zip must be the ONLY source of the package
    }
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    proc = subprocess.run(
        [
            submit,
            "--master", "local[4]",
            "--conf", "spark.sql.shuffle.partitions=4",
            "--conf", "spark.ui.enabled=false",
            "--py-files", zip_path,
            os.path.join(REPO, "tools", "submit_job.py"),
            "--input", in_path,
            "--output", out_path,
            "--run-id", "submit-test",
        ],
        capture_output=True,
        text=True,
        timeout=600,
        cwd=str(tmp_path),  # NOT the repo: imports must come from the zip
        env=env,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    metrics_lines = [l for l in proc.stdout.splitlines() if l.startswith('{"run_id"')]
    assert metrics_lines, proc.stdout[-2000:]
    metrics = json.loads(metrics_lines[-1])
    assert metrics["master"] == "local[4]"  # spark-submit's master, not get_spark's default
    assert metrics["counts"]["triples"] == len(GOLDEN_EXPECTED_TRIPLES)

    got = {
        (r["document_id"], r["source"], r["type"], r["target"])
        for r in spark.read.parquet(f"{out_path}/triples")
        .select("document_id", "source", "type", "target")
        .collect()
    }
    assert got == set(GOLDEN_EXPECTED_TRIPLES)
    assert metrics["counts"]["nodes"] == spark.read.parquet(f"{out_path}/nodes").count()
