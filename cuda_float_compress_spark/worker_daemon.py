"""PySpark worker daemon that skips the per-task zip directory re-read.

``session.get_spark`` sets ``spark.python.daemon.module`` to this module.
Every Python task starts in ``pyspark.worker_util.setup_spark_files``,
which calls ``importlib.invalidate_caches()``. On Python 3.11 that makes
each cached ``zipimporter`` re-read its archive's directory, and a worker
holds ~16 of them over ``pyspark.zip`` (1328 entries): ~250 ms per task,
more than the body of most engine tasks.

The daemon turns ``zipimport.zipimporter.invalidate_caches`` into a no-op
before it forks any worker, so every worker inherits the patch from its
first task on. Spark never rewrites a zip on ``sys.path`` during a
session, and a zip added later with ``addPyFile`` is a new path entry
with a new importer. ``FileFinder`` directory caches (``.py`` files added
to the SparkFiles dir) are still invalidated. ``pyspark.daemon`` takes
the worker module from ``argv[1]`` as before.
"""

import zipimport

zipimport.zipimporter.invalidate_caches = lambda self: None

if __name__ == "__main__":
    from pyspark.daemon import manager

    manager()
