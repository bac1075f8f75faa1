"""SparkSession factory for the lakehouse engine.

The reference builds a session per job with AQE + S3A + Delta configs
(``Pyspark Jobs/transactions_processor.py:10-25``,
``Script Shells/delta_table/DW/run_DW.sh:83-95``).  We centralize that in one
factory that is correct both on ``local[*]`` (tests) and on a large cluster
(the configs below are all cluster-safe; nothing here assumes local mode).

Scale notes (100 TB target):
- AQE is enabled so skewed shuffles are split and tiny post-shuffle
  partitions are coalesced at runtime.
- ``spark.sql.shuffle.partitions`` is only the *initial* shuffle width; AQE
  re-plans it.  On a real cluster you'd raise the default via
  ``shuffle_partitions=2000+``.
- AQE does not re-plan a stateful streaming shuffle: its width is the
  number of state-store partitions, fixed at the query's first start and
  recorded in its checkpoint.  The engine's one AvailableNow start path
  (``streaming.pipeline.drain_available_now``) takes that width from
  ``defaultParallelism`` (the cores), not from this setting, so small
  micro-batches do not pay one state load and commit per idle partition.
- Arrow is enabled so any pandas-UDF path (multimodal / ANN rerank) is
  batch-vectorized instead of row-pickled.
- Session timezone is pinned to UTC so timestamp semantics are deterministic
  and independent of the host, which also matches the DuckDB oracle.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import SparkSession

DEFAULT_APP_NAME = "e_commerce_data_lakehouse_spark"

_scratch_root: str | None = None


def get_spark(
    app_name: str = DEFAULT_APP_NAME,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's standard config."""
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", "32"))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # deterministic double<->string behavior across JVMs
        .config("spark.sql.legacy.allowHashOnMapType", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        # ContextCleaner only reclaims finished broadcasts/shuffles/RDDs
        # when the DRIVER GCs, and a mostly-idle multi-GB heap can go many
        # minutes between collections — in a long-lived session the
        # executors accumulate stale broadcast/shuffle blocks until memory
        # pressure turns into multi-second stalls (observed: same warm
        # query 3-5x slower late in a 55-query run).  The default interval
        # is 30 min; 1 min bounds the accumulation at a negligible GC cost.
        .config("spark.cleaner.periodicGC.interval", "1min")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def scratch_dir(prefix: str) -> str:
    """A fresh directory for a drain, a checkpoint or a throwaway
    lakehouse.  All of them live under one root per process in
    ``tempfile.gettempdir()``, which is removed when the interpreter
    exits: a frame a query returns reads its drain lazily, so the
    directory can only go once nothing will read it again."""
    global _scratch_root
    if _scratch_root is None:
        _scratch_root = tempfile.mkdtemp(prefix="lakehouse_scratch_")
        atexit.register(shutil.rmtree, _scratch_root, ignore_errors=True)
    return tempfile.mkdtemp(prefix=prefix, dir=_scratch_root)
