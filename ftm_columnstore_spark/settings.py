"""Environment configuration.

Mirrors the knobs of the reference (``ftm_columnstore/settings.py:1-15``),
re-targeted at Spark: there is no DATABASE_URI — the store is a parquet
directory — and no bulk-write batch size: Spark sizes its own write tasks.
"""

from __future__ import annotations

import os

#: Root directory for managed statement stores (parquet).
STORE_URI = os.environ.get("FTMCS_STORE_URI", "/tmp/ftm-columnstore-spark")

#: Reference: MAX_SQL_AGG_GROUPS (pyproject.toml:61, pinned to 11 in tests).
#: Caps the number of groups returned by grouped aggregations.
MAX_AGG_GROUPS = int(os.environ.get("MAX_SQL_AGG_GROUPS", "11"))

#: Default shuffle partitions for local runs; on a real cluster set
#: spark.sql.shuffle.partitions ≈ 2-3× total executor cores instead.
SHUFFLE_PARTITIONS = int(os.environ.get("FTMCS_SHUFFLE_PARTITIONS", "32"))

#: local[N] parallelism for driver-run sessions.
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

#: driver-JVM heap for local mode (executors live in the driver process;
#: 1g default starves 32 task threads).
DRIVER_MEMORY = os.environ.get("FTMCS_DRIVER_MEMORY", "16g")
