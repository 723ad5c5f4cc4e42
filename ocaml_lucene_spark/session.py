"""SparkSession factory tuned for this engine.

Local mode takes its core count from ``cores``, then
``$SPARK_GRAFT_CPUS``, then every core of the host (``local[*]``); the
shuffle partition count defaults to the core count, at least 8. On a
real cluster the same code runs via ``spark-submit --py-files`` with
executor-count taken from the cluster manager — nothing here assumes
local mode except the memory knob (``$SPARK_DRIVER_MEM``, default 24g).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "ocaml_lucene_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    cores: parallelism for local mode (defaults to $SPARK_GRAFT_CPUS or *).
    shuffle_partitions: defaults to cores (local) — at cluster scale this
    is sized so a shuffle partition of the postings table fits in executor
    memory (~128–256 MB of packed postings per partition).
    """
    if cores is None:
        env = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{env}]" if env else "local[*]"
        n = int(env) if env else (os.cpu_count() or 8)
    else:
        master = f"local[{cores}]"
        n = cores
    sp = shuffle_partitions if shuffle_partitions is not None else max(n, 8)
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(sp))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # split small-file scans across all cores: default 128MB packs a
        # whole bench corpus into ~2 tasks, serializing every stage that
        # reads it (at cluster scale input files outnumber cores anyway)
        .config("spark.sql.files.maxPartitionBytes", str(8 * 1024 * 1024))
        # 24g, not 48g (r9): in local mode the driver heap is the
        # executor heap, and a 48g G1 heap let allocation-heavy
        # interpreted stages (the minhash 16-md5-per-shingle storm)
        # build tens of seconds of collection debt that poisoned the
        # NEXT queries (measured: minhash first-rep 29.5s + 10.7s
        # simhash aftermath at 48g vs 6.2s + 2.8s at 16-24g, same
        # workload). Every driver-side collect in the engine is
        # bounded and documented; shuffles spill. Env-overridable as
        # before for hosts where a bigger heap is right.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "24g"))
        .config("spark.local.dir", os.environ.get("SPARK_LOCAL_DIR", "/dev/shm/olspark"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # InferFiltersFromGenerate synthesizes `size(arr)>0 AND
        # isnotnull(arr)` above every explode; predicate pushdown then
        # drags that filter THROUGH the compute-parallelism repartition
        # down to the parquet scan with the array expression inlined —
        # so the full tokenize ran twice, once single-threaded inside
        # the one-row-group scan task (r9 before-plans: term_stats,
        # bm25 logical). The rule is a pure optimization (explode
        # already skips empty/null arrays): excluding it changes no
        # results, removes the duplicated tokenize, and keeps the scan
        # task I/O-only. At cluster scale input splits outnumber cores
        # and the skipped prune is rows-with-no-tokens only (~none in
        # web corpora).
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        # keyless repartition (ensure_compute_parallelism) pays a local
        # sort of its input by default so retried map tasks reproduce
        # the same row->partition assignment (SPARK-23207). Measured
        # ~0.24s per query at sf1 just to round-robin 50k text rows.
        # Safe to drop HERE because every consumer of a keyless
        # repartition in this engine is content-deterministic: hash
        # aggregations, equi-joins, or outputs with an explicit total
        # order — no result depends on which partition a row landed in.
        # (Partition-count-dependent things — docIDs, pack shards — use
        # hash partitioning, which this conf does not touch.)
        # The cost is on retries: without the sort, a round-robin over
        # an input whose row order is not fixed (a shuffle's output) is
        # not reproducible, so Spark marks its stage INDETERMINATE, and
        # a fetch failure re-runs that whole stage and every stage that
        # read it, where a sorted repartition re-runs only the lost map
        # tasks. A cluster that loses executors often pays that re-run
        # instead of the 0.24 s.
        .config("spark.sql.execution.sortBeforeRepartition", "false")
        # PySpark 4 wraps every DataFrame/Column API call to capture
        # call-site context for error messages: getActiveSession + a
        # conf RPC + PySparkCurrentOrigin.set/clear per call (~5 py4j
        # round trips). Profiled at 0.9-2.5s of pure driver-side plan
        # CONSTRUCTION per bench query (1.4k socket round trips for one
        # ~60-expression query). Pure diagnostics — plans, results and
        # executed bytecode are identical with it off.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # shuffle/IO codec: on memory-bandwidth-bound hosts (shuffle to
        # /dev/shm IS memory traffic) a stronger codec trades spare CPU
        # for bandwidth; env-overridable for measurement
        .config(
            "spark.io.compression.codec",
            os.environ.get("OLSPARK_IO_CODEC", "lz4"),
        )
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def ensure_compute_parallelism(df):
    """Raise a DataFrame's partition count to the session default when
    the source scan under-splits (e.g. a single-row-group parquet file
    is one task no matter what maxPartitionBytes says).

    Use ONLY in front of CPU-heavy per-row pipelines (16x md5 per
    shingle, 32x bit explodes) where compute parallelism must decouple
    from input splits. At cluster scale input files outnumber cores, so
    this is a no-op there — it never coalesces down.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df
