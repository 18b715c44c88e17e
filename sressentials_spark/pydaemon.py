"""PySpark worker daemon with the engine's kernel imports done.

Spark forks every Python worker from one daemon process per executor
(``spark.python.daemon.module``, set by :func:`sressentials_spark.session.
get_spark`). The stock daemon imports only PySpark, so each forked
worker pays the numpy / pandas / pyarrow imports again on its first
Arrow task: about 0.8 s per worker, which Spark's event log reports as
the time to initialize Python workers. Importing them here, before the
daemon forks, pays that cost once per executor; the children share the
loaded modules copy-on-write.

Run by Spark as ``python -m sressentials_spark.pydaemon``.
"""

import numpy  # noqa: F401
import pandas  # noqa: F401
import pyarrow  # noqa: F401
import pyspark.sql.pandas.serializers  # noqa: F401
from pyspark import daemon

if __name__ == "__main__":
    daemon.manager()
