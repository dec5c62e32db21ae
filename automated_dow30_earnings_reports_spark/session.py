"""SparkSession factory with scale-oriented defaults.

Single place where engine-wide physical-execution knobs live so that
tests, bench.py, and the driver entry point all run the same plan
environment. The defaults are chosen for the local[32] test harness but
every one of them is the setting you would also want on a large
cluster (AQE, skew-join handling, broadcast threshold, Arrow).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Number of local cores the harness gives us (driver contract).
_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

# Entries in Spark's generated-class cache (``CodeGenerator``; Spark's
# default is 100). One long-lived session serves a recurring query mix,
# and a cache smaller than that mix's working set evicts each class
# before its query comes back: every run then recompiles its operators
# with Janino and runs their loops in fresh classes the JIT has not yet
# optimised. One sf0.001 pass over the 267-query registry generates
# about 3.3k distinct classes (the 11-query perfbench analyst deck about
# 311); 4096 is the smallest power of two at which a second pass
# compiles almost nothing (see PERF.md). Cost with the cache full:
# about +20 MB JVM Metaspace and +12 MB code cache.
_CODEGEN_CACHE_ENTRIES = 4096


def get_spark(app_name: str = "dow30-spark-engine", shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Scale notes (100 TB design intent):
      - AQE on: runtime shuffle-partition coalescing + skew-join splitting
        replace hand-tuned partition counts when data volume moves 1000x.
      - ``spark.sql.shuffle.partitions`` is only the *initial* number; AQE
        coalesces. On a real cluster set it ~2-3x total cores.
      - Broadcast threshold stays at the 10 MB default; the dimension
        tables here (region/nation/customer at test SF) broadcast either
        automatically or via explicit ``F.broadcast`` hints in plans/.
      - Arrow enabled so the few pandas-UDF operators (similarity, text
        stats fallbacks, multimodal decode) move columns in batches, not
        pickled rows.
      - The whole-stage-codegen class cache is sized to the registry's
        working set (``_CODEGEN_CACHE_ENTRIES``). On a cluster every
        executor JVM holds its own cache, so the same sizing applies
        there: a recurring query mix whose classes outnumber the cache
        recompiles them on every executor, every time.
    """
    active = SparkSession.getActiveSession()
    if active is not None:
        # An EXPLICIT shuffle_partitions request against an existing
        # session is either a no-op (it already matches) or a CONFLICT.
        # Caller audit (r10, per the r9 ADVICE): the only caller
        # passing shuffle_partitions is tests/conftest.py, which owns
        # session creation — no driver/bench/registered-query path can
        # hit this raise at runtime.
        # Mutating the shared session here would silently change
        # shuffle parallelism for every other consumer (concurrent
        # tests, queries sharing the session), so a conflicting
        # request fails loudly; callers that need a scoped override
        # should set/restore spark.sql.shuffle.partitions themselves
        # around the exact plan that needs it. app_name cannot change
        # post-creation and stays as-is.
        if shuffle_partitions is not None:
            cur = active.conf.get("spark.sql.shuffle.partitions")
            if cur != str(shuffle_partitions):
                raise ValueError(
                    f"get_spark(shuffle_partitions={shuffle_partitions}) "
                    f"conflicts with the active session's setting ({cur}); "
                    "refusing to mutate shared session state — scope the "
                    "override with spark.conf.set/restore around the plan "
                    "that needs it"
                )
        return active

    n_shuffle = shuffle_partitions if shuffle_partitions is not None else int(_CPUS)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{_CPUS}]")
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.filterPushdown", "true")
        # Python DataSource (kvlinks connector) filter pushdown
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # Arrow-batched Python UDTF eval (functions/udtfs.py)
        .config("spark.sql.execution.pythonUDTF.arrow.enabled", "true")
        # Static conf: read once, when the JVM first generates code.
        .config("spark.sql.codegen.cache.maxEntries", str(_CODEGEN_CACHE_ENTRIES))
    )
    return builder.getOrCreate()
