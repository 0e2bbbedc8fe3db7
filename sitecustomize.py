"""Set up pyspark worker interpreters: lazy zipimport invalidation,
then a preload of heavy modules.

First, `parquet_spark.lazy_zipimport_invalidation` (see its docstring).
pyspark calls `importlib.invalidate_caches()` at the start of every
Python task, and on CPython < 3.13 each zipimporter then re-reads its
whole archive index.  Workers import pyspark from `pyspark.zip`, one
importer per subpackage, so every task re-read the 3.5 MB index 16
times: about 200 ms of CPU per task on a 4-vCPU VM, before any engine
code ran (a trivial 4-task mapInArrow job on local[4] took a median
600-710 ms; with the backport, 180-290 ms).  It patches the class, so
importers cached earlier are covered too; it must only be applied
before the worker's first `importlib.invalidate_caches()`, at the start
of its first task.

Second, the preload.  The pyspark daemon (`python -m pyspark.daemon`)
forks one child per task; children inherit the daemon's memory
copy-on-write.  Importing numpy/pyarrow/pandas and our codec package
HERE (the daemon imports `sitecustomize` at interpreter startup) means
every forked worker gets the ~100 MB of imported pages for free
instead of first-touch-faulting them concurrently — on virtualized
hosts those concurrent fault storms serialize and invert scaling
(measured: a passthrough mapInArrow stage took 4x longer at local[32]
than at local[8] without this).

Activated only when SPARK_GRAFT_PRELOAD=1 (set by
parquet_spark.tune_malloc_for_workers) so plain `python` invocations on
this path are unaffected.  That covers the worker daemon, its forked
workers, and the Python processes Spark spawns to plan DataSource V2
reads.
"""

import os

if os.environ.get("SPARK_GRAFT_PRELOAD") == "1":
    try:
        from parquet_spark import lazy_zipimport_invalidation
        lazy_zipimport_invalidation()

        import numpy  # noqa: F401
        import pandas  # noqa: F401
        import pyarrow  # noqa: F401

        import parquet_spark.codecs.column  # noqa: F401
        import parquet_spark.engine  # noqa: F401
    except Exception:  # never break interpreter startup
        pass
