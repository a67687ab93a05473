"""SparkSession builder tuned for this engine.

Local-mode settings mirror what we would set on a real cluster: AQE on
(runtime re-plan + skew-join splitting), Arrow exchange on (every pandas
UDF crosses the JVM/Python boundary in columnar batches), explicit shuffle
partition count sized to the parallelism level rather than the 200 default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "pelinker_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    cores: local[N] thread count; default $SPARK_GRAFT_CPUS or 32.
    shuffle_partitions: default = cores (local mode: more just adds task
    scheduling overhead; on a real cluster this scales with executors).
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = cores
    # Python workers: use the fork-server daemon that pre-imports
    # numpy/pandas/pyarrow before forking (worker_daemon.py) — N cores
    # otherwise pay N concurrent cold imports on the session's first
    # Python-UDF task. The daemon module must be importable by the worker
    # interpreter; exporting this package's parent dir on the executor
    # PYTHONPATH makes that independent of the launch cwd (locally the
    # `python -m pyspark.daemon` launch already has cwd on sys.path, but
    # only when the app starts from the repo root).
    pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    py_path = os.environ.get("PYTHONPATH", "")
    exec_pythonpath = (
        f"{pkg_parent}{os.pathsep}{py_path}" if py_path else pkg_parent
    )
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # This engine's rows are cheap in bytes but expensive in CPU
        # (pandas UDFs, mention explosion): byte-based task sizing starves
        # parallelism. Keep file splits small and never let AQE coalesce
        # below the core count.
        .config("spark.sql.files.maxPartitionBytes", str(8 * 1024 * 1024))
        .config(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize", "1m"
        )
        .config(
            "spark.sql.adaptive.coalescePartitions.parallelismFirst", "true"
        )
        # The whole-stage-codegen CLASS cache (driver-side, keyed by
        # generated source text) defaults to 100 entries; one link-pipeline
        # pass generates ~120 codegen units, so every run evicted the
        # previous run's classes and re-ran Janino + JVM JIT on all of
        # them (measured: ~110 Janino compiles and 25-60s of JIT compiler
        # time PER RUN, steady state included). With the cache sized above
        # the DAG's unit count, repeat runs compile ZERO units and the
        # 40k-page link wall fell 18-19s -> 11s. Scale-independent: the
        # cache holds compiled classes (KB-MB each), not data, and a real
        # cluster's driver pays the same Janino/JIT churn at the default.
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "5000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.python.daemon.module", "pelinker_spark.worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", exec_pythonpath)
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _warm_runtime(spark, cores)
    return spark


def driver_memory() -> str:
    """The driver heap: $SPARK_GRAFT_DRIVER_MEM, else about half of
    physical RAM capped at 24g. In local mode the driver JVM shares the
    host with the Python workers and the page cache; a heap sized near or
    past RAM is not refused at start-up but OOM-killed by the kernel once
    it fills."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return f"{min(24 * 1024, ram_mb // 2)}m"


def _warm_runtime(spark: SparkSession, cores: int) -> None:
    """One-time per-session runtime warm-up (guide §1: measure the plan,
    not first-call initialization).

    The first Python-UDF job of a session pays a fixed multi-second cost
    that has nothing to do with the query: launching the worker daemon
    (`python -m ...` imports the full pyspark.worker chain), the
    per-worker fork+handshake, and the JVM ArrowPythonRunner init
    (measured ~5.8s for a 1-row UDF job, identical at 4 and 32 cores). Likewise the first shuffle/window/broadcast-join job JITs
    their codegen'd operators. Running tiny data-independent jobs of each
    shape at session build moves that cost out of every caller's measured
    path — the same reason bench.py warms the JVM before timing. This
    computes nothing from any input table (no result caching; pure
    runtime initialization) and is idempotent per session. A failing piece
    raises: a skipped warm-up only shows as slow first calls."""
    if getattr(spark, "_pelinker_warmed", False):
        return
    import pandas as pd
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    # NB: this module has `from __future__ import annotations`, so
    # inline hints would be PEP-563 strings that pandas_udf cannot
    # resolve against module globals (pd is a *local* import here) and
    # it raises UNSUPPORTED_SIGNATURE. Real class objects in
    # __annotations__ dodge the string-resolution path entirely.
    def _warm_fn(x):
        return x

    _warm_fn.__annotations__ = {"x": pd.Series, "return": pd.Series}
    _warm_identity = F.pandas_udf(_warm_fn, T.LongType())

    sc = spark.sparkContext
    sc.setJobDescription("session warm-up: python workers + codegen")
    # full-width pandas-UDF job: starts the daemon and forks a worker
    # per core so no later stage pays the cold boundary
    spark.range(0, cores, 1, max(1, cores)).select(
        F.sum(_warm_identity(F.col("id")))
    ).collect()
    # shuffle + hash-aggregate + AQE stage machinery
    df = spark.range(0, 1000, 1, 4)
    df.repartition(4, F.col("id")).groupBy(
        (F.col("id") % 7).alias("g")
    ).count().collect()
    # window (rank) operator
    w = Window.partitionBy(F.col("id") % 3).orderBy("id")
    df.select(F.row_number().over(w).alias("rn")).where(
        F.col("rn") < 0
    ).count()
    # broadcast hash join
    small = spark.range(0, 100)
    df.join(F.broadcast(small), "id").count()
    # parquet reader/writer init (footer codecs, vectorized reader)
    import tempfile
    import shutil

    tmp = tempfile.mkdtemp(prefix="pel_warm_")
    try:
        spark.range(0, 16).write.mode("overwrite").parquet(f"{tmp}/t")
        spark.read.parquet(f"{tmp}/t").limit(1).count()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    # micro link-pipeline: one small pass compiles the pipeline's
    # generated code (mention explode, minhash, scoring, CC) so the
    # first REAL pipeline call measures the engine, not Janino. The
    # input is synthesized in-process, the output is discarded, and
    # nothing derived from any caller data is retained — this warms
    # CODE, not results (first-call compile measured ~10s of a 2k-page
    # pipeline's wall; after this it is execution-only). Size is
    # env-tunable: at the default 64 pages the AQE plan shapes of a
    # production-size batch differ (different join strategies → new
    # codegen units), so callers that will run real batches can raise
    # PELINKER_WARM_PAGES to pre-compile those shapes too; short-lived
    # sessions (unit tests) keep the cheap default.
    from .pipeline import LinkConfig, link_pipeline
    from .synth import web_pages

    warm_pages = int(os.environ.get("PELINKER_WARM_PAGES", "64"))
    if warm_pages > 0:
        wp = web_pages(
            spark,
            warm_pages,
            seed=3,
            n_entities=max(8, warm_pages // 40),
            partitions=max(2, min(8, warm_pages // 250)),
        )
        r = link_pipeline(spark, wp, cfg=LinkConfig())
        r.clusters.count()
        r.unpersist()
    sc.setJobDescription(None)
    spark._pelinker_warmed = True
