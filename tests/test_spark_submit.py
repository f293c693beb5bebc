"""North-rule launch-path proof: the engine runs via REAL `spark-submit
--py-files dist/engine.zip`, with the job script copied OUTSIDE the repo so
every import must resolve from the shipped zip (the copied script's own
repo-relative sys.path insert points at a directory that does not exist).
Also proves manifest resume end-to-end: the second run skips all buckets
and, by its event log, runs no feature kernel at all.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
SPARK_SUBMIT = Path("/opt/spark/bin/spark-submit")


@pytest.mark.skipif(not SPARK_SUBMIT.exists(), reason="spark-submit not installed")
def test_spark_submit_pyfiles_roundtrip(tmp_path):
    subprocess.run(
        [sys.executable, str(REPO / "tools" / "make_pyfiles.py")],
        check=True, capture_output=True,
    )
    zip_path = REPO / "dist" / "engine.zip"
    assert zip_path.exists()

    job = tmp_path / "run_pipeline_copy.py"
    shutil.copy(REPO / "jobs" / "run_pipeline.py", job)
    out_dir = tmp_path / "features"

    def submit(log_dir):
        log_dir.mkdir()
        r = subprocess.run(
            [
                str(SPARK_SUBMIT),
                "--master", "local[4]",
                "--py-files", str(zip_path),
                "--conf", "spark.sql.adaptive.enabled=true",
                "--conf", "spark.sql.shuffle.partitions=8",
                "--conf", "spark.eventLog.enabled=true",
                "--conf", "spark.eventLog.compress=false",
                "--conf", f"spark.eventLog.dir={log_dir}",
                str(job),
                "--input", "/root/testdata/sf0.001",
                "--input-format", "events",
                "--output", str(out_dir),
                "--buckets", "2",
                "--resume",
            ],
            cwd=tmp_path, capture_output=True, text=True, timeout=420,
        )
        assert r.returncode == 0, r.stderr[-3000:]
        metrics = [ln for ln in r.stdout.splitlines() if ln.startswith("{")]
        return json.loads(metrics[-1])

    def kernel_stages(log_dir):
        """Stages that ran the pandas kernel, from the uncompressed event log."""
        logs = [f for f in log_dir.rglob("*")
                if f.is_file() and not f.name.startswith((".", "appstatus"))]
        events = [json.loads(ln) for f in logs for ln in f.read_text().splitlines()]
        return [
            e["Stage Info"]["Stage ID"] for e in events
            if e["Event"] == "SparkListenerStageCompleted"
            and any("FlatMapGroupsInPandas" in (rdd.get("Scope") or "")
                    for rdd in e["Stage Info"]["RDD Info"])
        ]

    first = submit(tmp_path / "log1")
    assert first["rows_out"] == first["rows_in"] == 1000
    assert first["written_buckets"] == 2 and first["skipped_buckets"] == 0
    assert first["chunked_convs"] == 0
    assert any(out_dir.rglob("*.parquet"))
    assert len(kernel_stages(tmp_path / "log1")) == 1  # one kernel pass per launch

    # resume: manifests match config + input fingerprint -> nothing recomputed
    second = submit(tmp_path / "log2")
    assert second["written_buckets"] == 0 and second["skipped_buckets"] == 2
    assert kernel_stages(tmp_path / "log2") == []


def test_profile_corpus_job_cli(tmp_path):
    """jobs/profile_corpus.py end-to-end: one-command data-quality report."""
    import json
    import subprocess
    import sys
    from pathlib import Path

    repo = Path(__file__).resolve().parent.parent
    out = tmp_path / "report.json"
    proc = subprocess.run(
        [sys.executable, str(repo / "jobs" / "profile_corpus.py"),
         "--input", "/root/testdata/sf0.001", "--out", str(out)],
        capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    rep = json.loads(out.read_text())
    assert rep["volume"]["docs"] == 500
    assert rep["volume"]["sources"] == 20
    assert set(rep["volume"]["by_lang"]) == {"de", "en", "es", "fr", "zh"}
    assert rep["duplication"]["distinct_texts"] <= 500
    assert 0 < rep["quality"]["gopher_pass_ppm"] < 1_000_000
    assert rep["drift"]["max_source_centroid_d2_micro2"] >= \
        rep["drift"]["min_source_centroid_d2_micro2"] > 0
    # stdout's last line is the same JSON document (driver contract)
    last = proc.stdout.strip().splitlines()[-1]
    assert json.loads(last)["volume"]["docs"] == 500
