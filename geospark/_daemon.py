"""Python worker daemon of local geospark sessions: pyspark's daemon,
started on a `sys.path` that holds no archive a worker re-reads for
nothing.

Every task runs `importlib.invalidate_caches()`
(pyspark/worker_util.py:setup_spark_files), which makes each
`zipimporter` in `sys.path_importer_cache` re-read its archive's whole
directory.  Spark puts pyspark.zip (1,328 entries) and the spark-core
jar (5,359 entries, no Python at all) first on the workers' path, so
that re-read cost 134-229 ms of CPU per task against a 38-49 ms kernel.
Here, before anything imports pyspark, `<SPARK_HOME>/python/lib/
pyspark.zip` becomes its sibling `<SPARK_HOME>/python` source tree (the
same distribution), and every .zip/.jar entry with no .py/.pyc file is
dropped.  Forked workers inherit the cleaned path.  Set by
session.build_session as spark.python.daemon.module on local masters.
"""

import os
import sys
import zipfile


def _holds_python(archive: str) -> bool:
    try:
        with zipfile.ZipFile(archive) as z:
            return any(n.endswith((".py", ".pyc")) for n in z.namelist())
    except (OSError, zipfile.BadZipFile):
        return True  # not ours to judge: keep it


def clean_path(path: list) -> list:
    out = []
    for p in path:
        if os.path.basename(p) == "pyspark.zip":
            src = os.path.dirname(os.path.dirname(p))
            if os.path.isfile(os.path.join(src, "pyspark", "__init__.py")):
                p = src
        elif p.endswith((".zip", ".jar")) and not _holds_python(p):
            continue
        out.append(p)
    return out


if __name__ == "__main__":
    sys.path[:] = clean_path(sys.path)
    sys.path_importer_cache.clear()
    from pyspark.daemon import manager

    manager()
