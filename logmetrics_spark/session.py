"""SparkSession factory with the engine's tuned defaults."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _mem_mb(size: str) -> int:
    """A JVM memory size ("64g", "2011m", "512k"; a bare number is MiB,
    as for ``spark.driver.memory``) in MiB."""
    size = size.strip().lower().removesuffix("b")
    scale = {"k": 1 / 1024, "m": 1, "g": 1024, "t": 1024 * 1024}
    if size[-1:] in scale:
        return int(float(size[:-1]) * scale[size[-1]])
    return int(size)


def get_spark(
    app: str = "logmetrics_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build a session. Defaults: local[N] from $SPARK_GRAFT_CPUS (32),
    AQE on (runtime coalesce + skew-join), UTC session timezone (the
    engine's event-time contract), Arrow enabled for pandas UDFs,
    off-heap execution memory; a local master forks its Python workers
    from :mod:`logmetrics_spark.daemon`."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle = shuffle_partitions if shuffle_partitions is not None else int(cpus)
    driver_mem = (extra_conf or {}).get(
        "spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "64g")
    )
    builder = (
        SparkSession.builder.appName(app)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # modest Arrow batches: with chained pandas stages, giant
        # batches multiply per-worker peak memory by active tasks and
        # collapse throughput at high parallelism (measured 5x)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "8192")
        .config("spark.driver.memory", driver_mem)
        # Tungsten execution pages (sort and hash-map buffers) off the
        # GC heap, capped at half the driver heap. On-heap, each sorter
        # holds zero-filled 16 MB long[] pages however little it uses,
        # and the partitioned file write sorts a whole task's output:
        # with one crunch task per core that kept 4 x 50-66 MB of pages
        # live and G1 grew the heap around them (heartbeat_full: ~+0.4
        # GB of driver PSS). Off-heap pages are freed at task end and
        # resident only where written.
        .config("spark.memory.offHeap.enabled", "true")
        .config("spark.memory.offHeap.size", f"{_mem_mb(driver_mem) // 2}m")
        # the default 240m JIT code cache fills after ~15-20 distinct
        # query plans (whole-stage codegen emits classes per plan);
        # once full the JVM quietly stops compiling and interpreted
        # HOF/codegen loops run 2-4x slower (measured: same query 7.5s
        # fresh -> 17.5s after 17 registry queries in one session)
        .config("spark.driver.extraJavaOptions", "-XX:ReservedCodeCacheSize=1g")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        # scan split size, env-parameterised. Spark charges every file
        # a 4 MB open cost when it packs files into splits, so 16m packs
        # 4 of batch_rollup's 32 pages files (~45 KB each) per task: 8
        # fused tasks at local[4], where the 128m default gives 4. The
        # 16m default was chosen for the entry-query registry's TPC-H
        # tables (single files of 5-130 MB with 2-6 row groups; 128m
        # read lineitem's six row groups as one task), which the
        # engine never reads. With the Arrow-native fused kernel (about
        # 60-90 ms per 625-page call in process), 128m beat 16m on
        # batch_rollup in 6 of 6 interleaved perfbench pairs on 4 cores
        # (pages_per_s median 2404 -> 2745, e2e_s 2.09 -> 1.82 s, all
        # runs matched the oracle; heartbeat_full's 4 files make 4 fused
        # tasks at either value). On a real cluster with 100 GB+ inputs set
        # SPARK_GRAFT_MAX_PARTITION_BYTES=512m-1g: large sequential
        # splits cut task overhead and the map-task count feeding
        # shuffles; 16m only makes sense where files are tiny.
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "16m"),
        )
    )
    # one compute thread per python worker: N workers each spinning up
    # an OpenMP/Arrow pool of machine-width oversubscribes the box
    # quadratically (N tasks x N threads) — measured ~2x on the fused
    # parse+reduce stage at local[32]. In local mode python workers
    # fork from this process, so set the env here (executorEnv covers
    # the cluster case).
    for env in ("OMP_NUM_THREADS", "ARROW_NUM_THREADS", "OPENBLAS_NUM_THREADS",
                "MKL_NUM_THREADS", "NUMEXPR_NUM_THREADS"):
        os.environ.setdefault(env, "1")
        builder = builder.config(f"spark.executorEnv.{env}", "1")
    # local masters fork every Python worker from logmetrics_spark/daemon.py.
    # Spark's own daemon imports pyspark from the source-only pyspark.zip
    # (0.77-0.89 s, against 0.17-0.21 s from the installed bytecode), and
    # then each worker imports pandas, pyarrow and the engine (0.3-0.4 s)
    # and runs a full gc.collect() over their ~74k objects (20-37 ms)
    # after every task. The daemon imports them once and gc.freeze()s
    # them before it forks. On 4 cores over 10 interleaved perfbench
    # pairs, setup_s fell 2.85 -> 2.05 s on batch_rollup and 3.75 ->
    # 2.49 s on heartbeat_full (10/10 each), and the Python workers'
    # peak PSS ~397 -> ~245 MB; e2e_s stayed within noise.
    # The JVM starts the daemon with `python -m` in the driver's working
    # directory, so the package root goes on the workers' PYTHONPATH.
    # Executors of other masters need not hold the package at this path,
    # so they keep Spark's daemon.
    if master == "local" or master.startswith("local["):
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        builder = builder.config("spark.python.daemon.module", "logmetrics_spark.daemon")
        builder = builder.config("spark.executorEnv.PYTHONPATH", root)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
