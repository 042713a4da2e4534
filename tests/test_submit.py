"""spark-submit --py-files deployment smoke (north rule: the job runs via
spark-submit on multi-executor clusters; here local[4] stands in)."""

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.skipif(shutil.which("spark-submit") is None,
                    reason="spark-submit not on PATH")
def test_spark_submit_pyfiles(tmp_path):
    sys.path.insert(0, ROOT)
    from tools.make_pyfiles_zip import build

    zip_path = build(str(tmp_path / "geowave_spark.zip"))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [
            "spark-submit", "--master", "local[4]",
            "--conf", "spark.ui.enabled=false",
            "--conf", "spark.sql.shuffle.partitions=4",
            "--py-files", zip_path,
            os.path.join(ROOT, "tools", "job_spatial_join.py"),
            "--sf-dir", "/root/testdata/sf0.001",
        ],
        capture_output=True, text=True, timeout=600, env=env, cwd=str(tmp_path),
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    line = [l for l in proc.stdout.splitlines() if l.startswith("{")][-1]
    out = json.loads(line)
    assert out["join_rows"] > 0
    assert out["master"] == "local[4]"


@pytest.mark.skipif(shutil.which("spark-submit") is None,
                    reason="spark-submit not on PATH")
def test_spark_submit_checkpoint_resume(tmp_path):
    """North-rule composition: spark-submit --py-files + resumable
    per-partition checkpointed sink; the second invocation (a fresh driver,
    as after preemption) skips every committed partition."""
    sys.path.insert(0, ROOT)
    from tools.make_pyfiles_zip import build

    zip_path = build(str(tmp_path / "geowave_spark.zip"))
    ckpt = str(tmp_path / "ckpt")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    cmd = [
        "spark-submit", "--master", "local[4]",
        "--conf", "spark.ui.enabled=false",
        "--conf", "spark.sql.shuffle.partitions=4",
        "--py-files", zip_path,
        os.path.join(ROOT, "tools", "job_spatial_join.py"),
        "--sf-dir", "/root/testdata/sf0.001",
        "--checkpoint-dir", ckpt,
    ]
    outs = []
    for _ in range(2):
        proc = subprocess.run(cmd, capture_output=True, text=True,
                              timeout=600, env=env, cwd=str(tmp_path))
        assert proc.returncode == 0, proc.stderr[-2000:]
        line = [l for l in proc.stdout.splitlines() if l.startswith("{")][-1]
        outs.append(json.loads(line))
    first, second = outs
    assert first["ckpt"]["written"] == first["ckpt"]["partitions"]
    assert first["ckpt_metrics_files"] == first["ckpt"]["partitions"]
    assert second["ckpt"]["written"] == 0
    assert second["ckpt"]["skipped"] == second["ckpt"]["partitions"]
    assert second["join_rows"] == first["join_rows"] > 0


@pytest.mark.skipif(shutil.which("spark-submit") is None,
                    reason="spark-submit not on PATH")
def test_spark_submit_amplified_corpus_join(tmp_path):
    """The scaling workload through the deployment shape: stage the corpus
    snapshot table, scan it, amplify the point side in flight, run the
    flagship polygon join (perfbench's pip_join, via spark-submit)."""
    sys.path.insert(0, ROOT)
    from tools.make_pyfiles_zip import build

    zip_path = build(str(tmp_path / "geowave_spark.zip"))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [
            "spark-submit", "--master", "local[4]",
            "--conf", "spark.ui.enabled=false",
            "--conf", "spark.sql.shuffle.partitions=4",
            "--py-files", zip_path,
            os.path.join(ROOT, "tools", "job_spatial_join.py"),
            # sf0.01: sf0.001 has only 10 tiny query polygons (~0.25% of the
            # globe) x ~500 distinct point locations -> expected matches < 2
            "--sf-dir", "/root/testdata/sf0.01",
            "--amplify", "20000", "--tile-target", "1000", "--reps", "1",
            "--corpus-root", str(tmp_path / "corpus"),
        ],
        capture_output=True, text=True, timeout=600, env=env, cwd=str(tmp_path),
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    line = [l for l in proc.stdout.splitlines() if l.startswith("{")][-1]
    out = json.loads(line)
    assert out["join_rows"] > 0
    assert out["join_sec"] > 0
