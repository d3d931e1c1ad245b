"""SparkSession factory with scale-oriented defaults.

Reference behaviors preserved (SURVEY.md §4.3.5): everything is UTC — the
reference documents a tz-naive/aware crash (reference README.md:174-176) and
we pin ``spark.sql.session.timeZone=UTC`` instead.

Scale posture (these are the knobs that matter at 100 TB, even though tests
run on local[N]):
- AQE on: runtime coalescing of shuffle partitions, skew-join splitting and
  dynamic broadcast decisions survive a 1000× scale-up where static plans
  don't.
- Arrow on: any unavoidable pandas interchange is columnar, not pickled rows.
- Timestamp reads: the driver testdata stores naive ``timestamp[us]`` parquet
  (older generations used TIMESTAMP(NANOS)); ``inferTimestampNTZ=false`` +
  ``nanosAsLong=true`` make both read as plain TIMESTAMP with instants that
  match DuckDB's naive read under the pinned UTC zone (see
  io.configure_timestamp_reads / io.normalize_timestamps).
- Spill-aware partition sizing, pinned EXPLICITLY rather than inherited,
  so the 100 TB math is visible: scan splits at 128 MiB
  (``files.maxPartitionBytes`` — ~800k input splits for 100 TB, each
  decompressing to a comfortably-in-memory task) and AQE coalesces
  shuffle output toward 64 MiB (``advisoryPartitionSizeInBytes``). The
  static ``shuffle.partitions`` is deliberately just a pre-AQE ceiling:
  size it 2-3x total cores on a real cluster (e.g. ~6000 for 1000
  executors x 2 cores) and let coalescing shrink small stages; skewed
  keys split under the same advisory target via skewJoin. Executor-memory
  rule of thumb these defaults encode: a 64-128 MiB partition needs
  ~0.5-1 GiB of task heap through a hash aggregate — 4 GiB/core
  executors hold 4-8 concurrent tasks without spill.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from typing import Any

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
# At most this many thunks of one ``overlap`` call run at once. Only the
# pipeline's 12 report writes exceed it; every other site passes <= 4.
OVERLAP_THREADS = 8


def get_session(
    app_name: str = "wsspark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    On a real cluster, callers pass ``master=None`` and let spark-submit own
    the master/deploy settings; locally we default to ``local[$SPARK_GRAFT_CPUS]``.
    ``extra_conf`` entries are applied last and override any default here,
    e.g. ``{"spark.scheduler.mode": "FAIR"}`` for deployments that prefer
    even sharing between concurrent jobs over Spark's FIFO default.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = DEFAULT_SHUFFLE_PARTITIONS

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # explicit spill-aware sizing (Spark's defaults, pinned so the
        # 100 TB partition math in the module docstring stays true even
        # if upstream defaults move)
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # INT96 timestamps carry no parquet min/max statistics, which
        # forfeits row-group pruning on every date predicate; write
        # standard TIMESTAMP_MICROS instead (what the testdata uses too)
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # local-mode niceties; harmless on a cluster
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", os.environ.get("WSSPARK_UI", "false"))
        .config("spark.driver.memory", os.environ.get("WSSPARK_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def overlap(*thunks: Callable[[], Any]) -> list[Any]:
    """Run ``thunks`` concurrently on driver threads and return their
    results in argument order. This is the only way package code runs
    Spark actions concurrently, so the scheduler packs independent jobs.

    Every thunk runs to completion; then the first failure in argument
    order is raised. Each thread inherits the caller's Spark local
    properties (job group, description, scheduler pool) and session tags
    (``spark.addTag``) as they are at this call, so ``cancelJobGroup``
    reaches the jobs a thunk launches. Each thunk gets its own copy of the
    properties, so concurrent SQL executions do not share state. Calls
    nest.
    """
    from pyspark.util import inheritable_thread_target

    spark = SparkSession.active()
    workers = min(len(thunks), OVERLAP_THREADS)
    with ThreadPoolExecutor(max_workers=workers) as pool:
        futures = [
            pool.submit(inheritable_thread_target(spark)(t)) for t in thunks
        ]
    return [f.result() for f in futures]
