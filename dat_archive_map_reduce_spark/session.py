"""SparkSession factory tuned for both local testing and cluster scale.

Local runs use ``local[$SPARK_GRAFT_CPUS]`` (default all cores). The
config choices are the ones that matter at 100 TB too:

- AQE on: runtime shuffle-partition coalescing, skew-join splitting,
  and dynamic join-strategy switching replace hand-tuned partition
  counts when data volume varies by 1000x.
- ``spark.sql.shuffle.partitions`` is only the *initial* number under
  AQE; we set it to a small multiple of local cores so sf0.1 tests do
  not drown in empty tasks. On a 1000-executor cluster this knob is
  superseded by ``spark.sql.adaptive.coalescePartitions.initialPartitionNum``.
- Arrow on: every Pandas-UDF path (the map-adapter, minhash, embedding
  ops) moves data in columnar batches instead of pickled rows.
- UTC session timezone: deterministic timestamp semantics that match
  the DuckDB oracle.
- Generated-code cache of 1000 classes (Spark's default is 100). One
  maintenance cycle uses about 350 generated classes and an analytics
  pass about 170, so the default cache evicted them all between
  cycles: each steady watch cycle ran ~295 Janino compiles and a warm
  ``index()`` cycle ~150, loading and unloading hundreds of classes
  that the JIT threads (the cycle's largest CPU consumer, 6-10 s at
  4 cpus) then compiled again. At 1000 a warm cycle compiles a
  handful; each entry is one loaded class, so the cap still bounds
  metaspace.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def get_spark(app_name: str = "dat_archive_map_reduce_spark") -> SparkSession:
    """Build (or reuse) the tuned SparkSession."""
    cpus = default_parallelism()
    # Python workers unpickle UDF closures by importing their defining
    # module — the repo root must be importable in the worker processes,
    # not just the driver.
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if repo_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{repo_root}{os.pathsep}{existing}" if existing else repo_root
        )
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # multi-path reads (entries_df resolves one snapshot dir per
        # origin shard) list 4x faster on the driver's parallel lister
        # than through the default listing JOB below ~10k paths
        # (measured r15: 1.8 s -> 0.46 s at 1,024 shard dirs); beyond
        # that a distributed listing job genuinely wins, so the
        # threshold is the crossover, not infinity
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "10000")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        # long-lived sessions accumulate unreferenced localCheckpoint /
        # broadcast blocks until a JVM GC lets ContextCleaner drop them;
        # periodic GC keeps storage memory from crowding execution (the
        # window-sort spill path) on a driver that runs hundreds of jobs
        .config("spark.cleaner.periodicGC.interval", "2min")
        # with parallelismFirst, AQE still merges a shuffle below
        # defaultParallelism partitions once it is under 32 x 1 MiB —
        # which serializes compute-dense small relations (fingerprint /
        # window-hash stages) onto 1-2 cores. 64 KiB keeps those at full
        # parallelism; at 100 TB shuffle sizes this floor never binds.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        # let AQE re-partition CACHED plans too: the watch path caches
        # the micro-batch's compacted updates and mapped entries, and
        # without this flag a cached plan pins its pre-AQE partition
        # count (here shuffle.partitions + scan splits), so every
        # downstream per-view/per-origin job pays ~36 task launches to
        # read a few thousand rows — the dominant fixed per-batch cost
        # in the r11 maintain profile. With it, small batches coalesce
        # to a handful of cached partitions while large backfills keep
        # full parallelism (exactly the adaptive behavior the
        # fixed+marginal cost model wants).
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true"
        )
        # static: the cache lives in the JVM, sized once per process
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.streaming.schemaInference", "true")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
