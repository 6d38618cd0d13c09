"""SparkSession factory for the crawler engine.

Local-mode defaults are tuned for the sandbox (single JVM, ``local[N]``)
but every knob here is the one you would set on a 1000-executor cluster
too: AQE on (runtime re-plan + skew-join splitting), Arrow enabled for
all pandas-UDF exchange, shuffle partitions sized to the parallelism
level rather than the 200 default, UTC session timezone so results are
comparable against external oracles.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "crawler_distributed_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    master: str | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with scale-aware defaults.

    ``cpus`` maps to ``local[cpus]`` in the sandbox. Pass ``master`` (e.g.
    ``spark://127.0.0.1:7077``) for a standalone cluster; then ``cpus`` is
    the TOTAL core cap (spark.cores.max) and executors come from the
    cluster manager — the multi-executor N-vs-4N scaling path.
    """
    cpus = cpus or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or max(cpus * 2, 8)
    builder = (
        SparkSession.builder.master(master or f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # zstd for parquet + shuffle: the per-batch disk traffic (shuffle
        # spill, durable fetched/admitted writes, seen-set re-scan) is the
        # engine's non-scaling floor — one disk locally, finite disks per
        # node on a cluster. zstd shrinks bytes-on-disk vs snappy/lz4 for
        # URL-heavy rows at a CPU cost that DOES scale with cores
        # (measured, fat workload at local[8]: admission stage 276.5s ->
        # 197.3s, bit-identical output hashes).
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.io.compression.codec", "zstd")
        # one BLAS thread per Python worker (guide §4): every core already
        # runs one worker, so library-level threading only oversubscribes —
        # measured on the dim-768 IVF matmul kernel: 32 workers × default
        # OpenBLAS thread pools took the first run from ~15 s to ~39 s
        # (thread-creation storm + contention). Same reasoning holds on a
        # cluster at executor cores = task slots.
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.MKL_NUM_THREADS", "1")
    )
    # $SPARK_GRAFT_LOCAL_DIR (e.g. /dev/shm/spark-local): where shuffle
    # blocks spill. On a real cluster every executor has its own local
    # disks; on this one-disk box a tmpfs local dir is the honest stand-in
    # for that per-node bandwidth when measuring SCALING (the default
    # remains the OS temp dir) — see BENCH/BASELINE.md §3.
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    if master and master.startswith("spark://"):
        builder = (
            builder.config("spark.cores.max", str(cpus))
            .config("spark.executor.memory", os.environ.get("SPARK_GRAFT_EXEC_MEM", "12g"))
            .config("spark.driver.memory", "8g")
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _quiet_windowexec(spark)
    if master and master.startswith("spark://"):
        spark.sparkContext.addPyFile(package_zip())
    _prewarm_python_workers(spark, cpus)
    return spark


def _prewarm_python_workers(spark: SparkSession, cpus: int) -> None:
    """Fork the Python UDF workers once at session build (guide §4: the
    first Arrow stage otherwise pays ~cores × (fork + import pandas)
    inside whatever query happens to hit Python first — with worker
    reuse on, that cost is purely a cold-start artifact). One trivial
    mapInPandas job over `cpus` single-row partitions touches every
    worker slot; runs once per session (getOrCreate may be called many
    times), opt out with SPARK_GRAFT_NO_PREWARM=1."""
    if os.environ.get("SPARK_GRAFT_NO_PREWARM") == "1":
        return
    if getattr(spark, "_graft_prewarmed", False):
        return
    spark._graft_prewarmed = True
    try:
        spark.sparkContext.setJobDescription("session: prewarm python workers")
        spark.range(0, cpus, 1, cpus).mapInPandas(
            lambda it: it, schema="id long"
        ).write.format("noop").mode("overwrite").save()
    except Exception:
        pass  # cosmetic-only: a failed prewarm must never block the session
    finally:
        spark.sparkContext.setJobDescription(None)


def _quiet_windowexec(spark: SparkSession) -> None:
    """Silence WindowExec's no-partition warning.

    The engine has exactly one deliberately-unpartitioned window: the
    small-batch discovery_seq stamp (plans/frontier_loop._stamp_seq),
    taken only while the seed or eligible count is at most
    ``policy.seq_singlepart_threshold`` — above that the two-phase
    range-sort path runs instead.
    The warning is therefore always benign here, and it sprays log tails
    until real regressions become invisible. Per-class suppression (not a
    global level change) keeps every other WARN intact."""
    try:
        jvm = spark.sparkContext._jvm
        configurator = jvm.org.apache.logging.log4j.core.config.Configurator
        level = jvm.org.apache.logging.log4j.Level.ERROR
        configurator.setLevel(
            "org.apache.spark.sql.execution.window.WindowExec", level
        )
    except Exception:
        pass  # log4j2 internals unavailable (e.g. connect mode) — cosmetic only


def package_zip() -> str:
    """Zip this package for shipping to executors — the spark-submit
    --py-files vehicle (north rule), built on demand for addPyFile."""
    import shutil
    import tempfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    out = os.path.join(tempfile.gettempdir(), "crawler_distributed_spark_pkg")
    zip_path = shutil.make_archive(out, "zip", os.path.dirname(pkg_dir),
                                   os.path.basename(pkg_dir))
    return zip_path
