"""SparkSession factory tuned for the link-graph workload.

Local-mode defaults here mirror what we would set on a real multi-executor
cluster: AQE on (runtime coalescing + skew-join splitting), Arrow on (all
Python kernels are vectorized pandas/Arrow UDFs), shuffle partitions sized
to the parallelism level rather than the 200 default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# the directory holding the sbm_communitydetection_spark package
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "sbm_communitydetection_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    cores: local[N] thread count; defaults to $SPARK_GRAFT_CPUS or '*'.
    shuffle_partitions: defaults to cores (or 32) — on a real cluster this
    would be ~2-3x total executor cores.
    """
    if cores is None:
        env = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{env}]" if env else "local[*]"
        n_parallel = int(env) if env else (os.cpu_count() or 8)
    else:
        master = f"local[{cores}]"
        n_parallel = cores

    # Under spark-submit (the north-rule launch contract:
    # `spark-submit --py-files dist/*.zip run.py ...`) the master and any
    # --conf flags come from the launcher; PYSPARK_GATEWAY_PORT marks that
    # the JVM gateway already exists. Setting .master() here would
    # silently override the cluster manager the operator chose.
    submitted = "PYSPARK_GATEWAY_PORT" in os.environ
    master_env = os.environ.get("SPARK_GRAFT_MASTER")
    if master_env:
        master = master_env
    if shuffle_partitions is None:
        shuffle_partitions = max(8, n_parallel)

    # Shuffle files on tmpfs: in this single-machine sandbox the default
    # /tmp disk sustains only a few hundred MB/s, which serializes every
    # shuffle-heavy iteration (measured: PR supersteps 12-16 s on-disk vs
    # 4-6 s on tmpfs at identical parallelism). A real cluster gets the
    # same effect from executor-local NVMe; override with
    # SPARK_GRAFT_LOCAL_DIR or extra_conf["spark.local.dir"].
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir is None and os.path.isdir("/dev/shm"):
        local_dir = "/dev/shm/spark-local"

    builder = SparkSession.builder
    if not submitted:
        builder = builder.master(master)
    builder = (
        builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(n_parallel))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", driver_memory or os.environ.get("SPARK_DRIVER_MEMORY", "12g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # ParallelGC: measured on the 19.2M-edge PR bench at local[32] —
        # default G1's concurrent cycles interleave badly with 32 shuffle
        # threads (steady-state superstep 6.1s, spikes to 17s); ParallelGC
        # gives 2.4s steady with no spikes. Throughput-oriented batch jobs
        # on fat executors want the same on a real cluster
        # (spark.executor.extraJavaOptions there).
        .config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC")
        # Local mode has exactly one executor, so delaying task launch for
        # data locality can never pay off — it only staggers the wave
        # starts of every stage (measured: ~0.1s/superstep at local[8]).
        # On a real cluster keep the default (or 1-2s for HDFS locality).
        .config("spark.locality.wait", "0")
        # Constraint propagation is O(plan size²) analysis work the driver
        # redoes for EVERY superstep's plan; iterative workloads gain
        # nothing from it (all hot-loop joins are explicitly hinted and
        # null-safe by construction). Known iterative-workload lever —
        # e.g. SPARK-19846 reports exponential planning blowups.
        .config("spark.sql.constraintPropagation.enabled", "false")
        # Iterative supersteps retire one shuffle dependency per iteration;
        # ContextCleaner only deletes a retired shuffle's files after a JVM
        # GC collects the dependency object, and the default periodicGC
        # interval is 30min — so dead shuffle files pile up in
        # spark.local.dir (tmpfs here: they eat RAM) for the whole run.
        # Measured on the 19.2M-edge bench, PR(10)+LPA(5) at local[32]:
        # 28.4s+22.0s Σ-iteration time at the default vs 16.2s+15.2s with
        # 15s. Long-lived iterative jobs on a real cluster want the same.
        .config(
            "spark.cleaner.periodicGC.interval",
            os.environ.get("SPARK_GRAFT_PERIODIC_GC", "15s"),
        )
    )
    if local_dir and "spark.local.dir" not in (extra_conf or {}):
        builder = builder.config("spark.local.dir", local_dir)
    # SPARK_GRAFT_CONF="k=v;k2=v2" — ad-hoc conf overrides without code
    # changes (bench experiments, launch-contract parity with
    # spark-submit --conf). extra_conf (explicit caller) wins.
    overrides = {}
    env_conf = os.environ.get("SPARK_GRAFT_CONF", "")
    for pair in filter(None, (p.strip() for p in env_conf.split(";"))):
        k, sep, v = pair.partition("=")
        if k and sep:
            overrides[k] = v
    overrides.update(extra_conf or {})
    if not submitted:
        # Python workers import this package whenever a UDF calls a
        # package helper; they find it through the driver's working
        # directory only when that is the repository root. spark-submit
        # ships it with --py-files instead.
        key = "spark.executorEnv.PYTHONPATH"
        overrides[key] = os.pathsep.join(filter(None, (overrides.get(key), _PACKAGE_PARENT)))
    for k, v in overrides.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
