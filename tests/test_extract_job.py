"""The production extraction job under spark-submit: golden per-turn
output, a clean lineage audit, the assembled documents, and a session
that keeps spark-submit's master while carrying the engine's settings
from ``session.get_spark``."""

import glob
import json
import os
import subprocess
import sys

import pandas as pd

from mistral_ocr_app_spark.plans.lineage import verify_lineage

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
GOLDEN_COLS = ["conv_id", "turn_idx", "kind", "extracted_text", "n_refs",
               "n_images", "n_rewritten", "n_spans", "valid"]


def _spark_submit() -> str:
    import pyspark

    home = os.environ.get("SPARK_HOME") or os.path.dirname(pyspark.__file__)
    return os.path.join(home, "bin", "spark-submit")


def _spark_properties(event_dir: str) -> dict:
    (log,) = glob.glob(os.path.join(event_dir, "*"))
    with open(log) as f:
        for line in f:
            event = json.loads(line)
            if event["Event"] == "SparkListenerEnvironmentUpdate":
                return dict(event["Spark Properties"])
    raise AssertionError(f"no SparkListenerEnvironmentUpdate in {log}")


def test_extract_job_under_spark_submit(spark, fixture_paths, tmp_path):
    out = str(tmp_path / "out")
    events = tmp_path / "events"
    events.mkdir()
    env = dict(os.environ, PYSPARK_PYTHON=sys.executable,
               PYSPARK_DRIVER_PYTHON=sys.executable)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p
    )
    proc = subprocess.run(
        [
            _spark_submit(), "--master", "local[2]",
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir={events}",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
            os.path.join(REPO, "jobs", "extract_job.py"),
            "--input", fixture_paths["transcripts"],
            "--output", out,
            "--buckets", "8",
            "--assemble",
        ],
        capture_output=True, text=True, env=env, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]

    def by_key(pdf: pd.DataFrame) -> pd.DataFrame:
        return pdf[GOLDEN_COLS].sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)

    got = by_key(spark.read.parquet(f"{out}/data").toPandas())
    gold = by_key(pd.read_parquet(fixture_paths["golden_turns"]))
    pd.testing.assert_frame_equal(got, gold, check_dtype=False)
    assert verify_lineage(spark, out).count() == 0
    assert os.path.isdir(f"{out}/assembled")

    props = _spark_properties(str(events))
    assert props["spark.master"] == "local[2]"
    assert props["spark.sql.adaptive.advisoryPartitionSizeInBytes"] == "2m"
    assert props["spark.sql.adaptive.coalescePartitions.minPartitionSize"] == "64k"
