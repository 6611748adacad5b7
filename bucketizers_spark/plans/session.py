"""SparkSession construction tuned for the engine.

Settings rationale (100 TB design, local[N] testing — SURVEY.md §4.2):
- AQE on: runtime partition coalescing + skew-join splitting for the
  relational glue around the stateful operators.
- Arrow on with a bounded batch size: every strategy kernel is a
  vectorized pandas/Arrow UDF (input_hint: no per-row Python); batch
  size bounds Python-worker memory at wide rows (token arrays).
- shuffle.partitions defaults to cores in local mode; a real cluster
  run overrides via spark-submit conf (sized so state+shuffle
  partitions fit executor memory at the target SF).
- Python daemon = plans/pydaemon.py: the stock daemon forks bare
  workers, and each kernel worker then imports numpy, pandas and
  pyarrow on its own, so none of those pages are shared. The engine's
  daemon imports them once and forks every worker from that warm
  process, so the pages are shared copy-on-write. It also calls
  ``gc.freeze()`` before the first fork: without it, each worker's
  collections write the GC headers of the preloaded objects and copy
  their pages back out. Measured on the benchmark's ``batch_queries``
  (local[4], PSS sampled every 0.25 s): the pool peaked at 371 MB
  (daemon 40 MB + four workers of 81-86 MB) with the stock daemon,
  267 MB (53 MB + four of 52-58 MB) with this one, and 331 MB with this
  one minus the freeze. Workers must be able to import
  ``bucketizers_spark`` (the kernels they run live there too), so the
  package's root is put on the workers' PYTHONPATH, whatever the
  driver's working directory;
  ``extra_conf={"spark.python.daemon.module": "pyspark.daemon"}``
  restores the stock daemon.
- Codegen cache = CODEGEN_CACHE_MAX_ENTRIES (1000) classes. Spark keeps
  the classes Janino compiles in a Guava cache of
  ``spark.sql.codegen.cache.maxEntries`` entries (default 100), split
  into 4 LRU segments of a quarter each. Its key is (context class
  loader, code), and in local mode the driver's threads and the task
  threads run under two different loaders, so a class compiled on both
  sides (every whole-stage class: the driver compiles it once to check
  it, the tasks to run it) takes two entries. Measured working sets
  (local[4], cache uncapped, entries / distinct codes): ``stream_trie``
  warm-up plus three reps 173 / 103, ``batch_queries`` 106 / 69, the 43
  ``bench.py`` headline queries at sf0.01 626 / 397. At the default cap
  the cache evicts classes the next execution needs, so Spark compiles
  them again on every run. 1000 holds the 626-entry headline set: if
  keys hash evenly, its fullest segment holds about 170 entries (190 at
  the 99th percentile), under the segment's 250. The conf is static:
  it is read when the JVM first generates code, and a session that
  already exists keeps its own cap.
"""

from __future__ import annotations

import os

from pyspark import SparkContext
from pyspark.sql import SparkSession

#: ``spark.sql.codegen.cache.maxEntries``: room for the engine's compiled
#: classes in Spark's codegen cache (see the settings rationale above)
CODEGEN_CACHE_MAX_ENTRIES = 1000

# the directory holding the bucketizers_spark package
_PACKAGE_ROOT = os.path.dirname(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)


def get_spark(
    app_name: str = "bucketizers-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    master: str | None = None,
) -> SparkSession:
    """``master`` overrides the default ``local[cores]`` (e.g. a
    standalone ``spark://host:port`` for the process-isolated scaling
    bench, tools/bench_scaling_procs.py); ``cores`` then only sizes
    shuffle partitions unless the caller caps spark.cores.max itself."""
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)
    builder = (
        SparkSession.builder.master(master or f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.python.daemon.module", "bucketizers_spark.plans.pydaemon")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_MAX_ENTRIES))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.sql.shuffle.spill.compress", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def codegen_compile_count() -> int:
    """Classes Janino has compiled in the running JVM so far (Spark's
    ``CodegenMetrics``; a codegen cache hit compiles nothing). Needs a
    started SparkContext."""
    jvm = SparkContext._jvm
    metric = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    return metric.getCount()
