"""Python worker daemon that imports pyspark from site-packages.

Run as ``python -m flink_samples_spark.worker_daemon`` through
``spark.python.daemon.module`` (``session.PYTHON_DAEMON_MODULE``). It
imports only the standard library before pyspark: when the installed
pyspark has the same version as the ``pyspark.zip`` that Spark put on
``PYTHONPATH``, it drops Spark's archives from ``sys.path`` and then runs
pyspark's own daemon. Otherwise the path stays as Spark made it.
"""

import importlib.metadata
import os
import re
import sys
import zipfile


def strip_spark_archives(path: list[str], importer_cache: dict) -> None:
    """Remove pyspark.zip and the other archives under the same Spark
    home from ``path`` (and ``importer_cache``) when the installed
    pyspark has the zip's version; leave both unchanged otherwise."""
    pyspark_zip = next(
        (p for p in path if os.path.basename(p) == "pyspark.zip" and os.path.isfile(p)), None
    )
    if pyspark_zip is None:
        return
    try:
        with zipfile.ZipFile(pyspark_zip) as z:
            text = z.read("pyspark/version.py").decode()
        installed = importlib.metadata.version("pyspark")
    except (OSError, KeyError, zipfile.BadZipFile, importlib.metadata.PackageNotFoundError):
        return
    found = re.search(r"""__version__\b[^=]*=\s*["']([^"']+)["']""", text)
    if found is None or found.group(1) != installed:
        return
    # $SPARK_HOME/python/lib/pyspark.zip; the spark-core jar sits in
    # $SPARK_HOME/jars, maybe reached through a symlinked home
    spark_home = os.path.realpath(os.path.join(pyspark_zip, "..", "..", "..")) + os.sep
    drop = [p for p in path if os.path.isfile(p) and os.path.realpath(p).startswith(spark_home)]
    path[:] = [p for p in path if p not in drop]
    for key in [k for k in importer_cache if k.startswith(tuple(drop))]:
        del importer_cache[key]


if __name__ == "__main__":
    strip_spark_archives(sys.path, sys.path_importer_cache)
    from pyspark import daemon

    daemon.manager()
