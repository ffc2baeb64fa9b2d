"""Python worker daemon for local sessions (``spark.python.daemon.module``).

PySpark calls ``importlib.invalidate_caches()`` at the start of every
task, and each ``zipimporter`` on the worker path (``pyspark.zip``, the
py4j zip, the spark-core jar) then re-reads its archive's whole
directory.  Those archives do not change during a session, so the
daemon makes that re-read a no-op before it forks any worker; a zip
added later still gets a fresh importer.  Spark passes the worker
module as the argument that ``pyspark.daemon`` reads.
"""

import zipimport


def _keep_zip_directories(self):
    """``zipimporter.invalidate_caches`` that keeps the read directory."""


if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = _keep_zip_directories
    from pyspark import daemon

    daemon.manager()
