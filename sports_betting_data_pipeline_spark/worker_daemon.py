"""Python worker daemon for :func:`session.get_spark`'s local sessions.

Spark starts its worker daemon as ``python -m <daemon module>
pyspark.worker`` with ``$SPARK_HOME/python/lib/pyspark.zip``, the py4j
zip and the spark-core jar at the front of ``PYTHONPATH``, so the
daemon and every worker it forks import pyspark from those archives.
Each task's ``worker_main`` calls ``importlib.invalidate_caches()``,
and under CPython 3.11 every zipimporter then re-reads its archive's
directory: 12 importers over ``pyspark.zip`` (8-11 ms each) and 2
over the 5k-entry spark-core jar (41-48 ms each) put about 200 ms in
front of every Python task.

Run as the daemon module, this file drops those archives from
``sys.path`` and their importers from ``sys.path_importer_cache``
before anything imports pyspark, then runs pyspark's own daemon. The
daemon and its workers then import pyspark from the directories that
``get_spark`` put on ``spark.executorEnv.PYTHONPATH``: the driver's own
pyspark and py4j, behind the directory this package is imported from.
Every other ``sys.path`` entry stays where it was. Nothing here may
import pyspark before the archives are gone.
"""

import os
import sys


def _is_spark_archive(entry: str, spark_lib: str) -> bool:
    """True for the zips under ``$SPARK_HOME/python/lib`` and for a
    jar: no ``sys.path`` entry is a jar unless Spark put it there."""
    if not os.path.isfile(entry):
        return False
    return entry.endswith(".jar") or os.path.dirname(os.path.realpath(entry)) == spark_lib


if __name__ == "__main__":
    spark_lib = os.path.realpath(os.path.join(os.environ.get("SPARK_HOME", ""), "python", "lib"))
    archives = [p for p in sys.path if _is_spark_archive(p, spark_lib)]
    sys.path[:] = [p for p in sys.path if p not in archives]
    for key in list(sys.path_importer_cache):
        if any(key == a or key.startswith(a + os.sep) for a in archives):
            del sys.path_importer_cache[key]

    import pyspark.daemon

    pyspark.daemon.manager()
