"""The Python worker daemon of local sessions (geospark/_daemon.py):
workers run the driver's pyspark with no archive on their import path
that every task's `importlib.invalidate_caches()` would re-read, and a
session works from a directory where `geospark` is not importable."""

import os
import subprocess
import sys
import textwrap
import zipfile

import pyarrow as pa
import pyspark

from geospark._daemon import clean_path

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _zip(path, names):
    with zipfile.ZipFile(path, "w") as z:
        for n in names:
            z.writestr(n, "")
    return str(path)


def test_clean_path_swaps_pyspark_zip_and_drops_archives_without_python(tmp_path):
    home = tmp_path / "spark"
    (home / "python" / "lib").mkdir(parents=True)
    (home / "python" / "pyspark").mkdir()
    (home / "python" / "pyspark" / "__init__.py").write_text("")
    pyspark_zip = _zip(home / "python" / "lib" / "pyspark.zip", ["pyspark/__init__.py"])
    py4j = _zip(home / "python" / "lib" / "py4j-src.zip", ["py4j/__init__.py"])
    jar = _zip(tmp_path / "spark-core.jar", ["org/apache/spark/SparkContext.class"])
    compiled = _zip(tmp_path / "compiled.zip", ["m.pyc"])
    missing = str(tmp_path / "missing.zip")
    # a pyspark.zip whose sibling holds no pyspark source stays put
    lone = tmp_path / "other" / "python" / "lib"
    lone.mkdir(parents=True)
    lone_zip = _zip(lone / "pyspark.zip", ["pyspark/__init__.py"])

    got = clean_path([pyspark_zip, py4j, jar, compiled, missing, lone_zip, str(tmp_path)])
    assert got == [str(home / "python"), py4j, compiled, missing, lone_zip, str(tmp_path)]


def test_worker_runs_driver_pyspark_with_no_archive_importers(spark):
    def probe(batches):
        import sys
        import zipimport

        import pyspark

        archives = [
            k for k, v in sys.path_importer_cache.items()
            if isinstance(v, zipimport.zipimporter)
            and ("pyspark.zip" in k or ".jar" in k)
        ]
        for _ in batches:
            yield pa.RecordBatch.from_pydict(
                {"version": [pyspark.__version__], "archives": [repr(archives)]}
            )

    rows = spark.range(4, numPartitions=2).mapInArrow(probe, "version string, archives string").collect()
    assert len(rows) == 2
    for r in rows:
        assert r.version == pyspark.__version__
        assert r.archives == "[]"


def test_session_from_foreign_cwd_runs_python_tasks(tmp_path):
    """A driver started outside the repository, with PYTHONPATH unset,
    still runs Python tasks: the executors' PYTHONPATH carries the
    directory that holds geospark, so the daemon module is found."""
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {ROOT!r})
        from pyspark.sql import functions as F
        from geospark.session import build_session

        s = build_session("foreign-cwd", master="local[1]", shuffle_partitions=1)
        s.sparkContext.setLogLevel("ERROR")
        inc = F.udf(lambda v: v + 1, "long")
        print("RESULT", s.range(3).select(inc("id")).collect()[-1][0])
        s.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    done = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert "RESULT 3" in done.stdout, done.stderr[-3000:]
