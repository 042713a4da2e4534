"""Stat-gated zip-directory invalidation (`geowave_spark/_worker.py`).

A PySpark worker calls `importlib.invalidate_caches()` before every task.
Once the engine is imported there, an unchanged archive is not re-read;
the driver keeps the stdlib method."""
import os
import subprocess
import sys
import textwrap
import zipimport

import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_worker_task_rereads_no_archive(spark):
    def probe(batches):
        import importlib
        import zipimport

        import geowave_spark  # noqa: F401  (what unpickling engine code does)

        reads = []
        read = zipimport._read_directory
        zipimport._read_directory = lambda a: reads.append(a) or read(a)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        for _ in batches:
            pass
        yield pd.DataFrame({"reads": [len(reads)]})

    out = spark.range(1, numPartitions=1).mapInPandas(probe, "reads long").collect()
    assert [r.reads for r in out] == [0]


def test_driver_keeps_stdlib_invalidate_caches():
    import geowave_spark  # noqa: F401

    assert "pyspark.worker" not in sys.modules
    assert not hasattr(zipimport.zipimporter.invalidate_caches, "eager")


_SCRIPT = """
import importlib, sys, types, zipfile, zipimport

zp = sys.argv[1]
def write(mods):
    with zipfile.ZipFile(zp, "w") as z:
        for name, src in mods.items():
            z.writestr(name + ".py", src)

write({"m1": "X = 1\\n"})
sys.path.insert(0, zp)
import m1
stdlib = zipimport.zipimporter.invalidate_caches
reads = []
read = zipimport._read_directory
zipimport._read_directory = lambda a: reads.append(a) or read(a)
"""


def _run(tmp_path, body):
    code = textwrap.dedent(_SCRIPT) + textwrap.dedent(body)
    subprocess.run([sys.executable, "-c", code, str(tmp_path / "mods.zip")],
                   cwd=REPO, env={**os.environ, "PYTHONPATH": REPO}, check=True)


def test_unchanged_archive_is_not_reread_and_a_rewritten_one_is(tmp_path):
    _run(tmp_path, """
        sys.modules["pyspark.worker"] = types.ModuleType("pyspark.worker")
        import geowave_spark
        assert zipimport.zipimporter.invalidate_caches is not stdlib
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert reads.count(zp) == 0, reads
        write({"m1": "X = 1\\n", "m2": "Y = 2\\n"})
        importlib.invalidate_caches()
        assert reads.count(zp) == 1, reads
        import m2
        assert m2.Y == 2
        importlib.invalidate_caches()
        assert reads.count(zp) == 1, reads
    """)


def test_installer_is_a_no_op_outside_a_worker(tmp_path):
    _run(tmp_path, """
        import geowave_spark
        assert zipimport.zipimporter.invalidate_caches is stdlib
        importlib.invalidate_caches()
        assert reads.count(zp) == 1, reads
    """)


def test_installer_is_a_no_op_on_python_3_13(tmp_path):
    _run(tmp_path, """
        sys.modules["pyspark.worker"] = types.ModuleType("pyspark.worker")
        sys.version_info = (3, 13, 0)
        import geowave_spark
        assert zipimport.zipimporter.invalidate_caches is stdlib
    """)
