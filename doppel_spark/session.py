"""SparkSession factory with the settings the pipeline assumes.

Centralizes the knobs that matter for both local testing (local[N],
one JVM) and the target deployment (multi-executor cluster at 100 TB):
AQE on as the session default (runtime coalescing + skew-join
handling), Arrow on (every pandas UDF ships Arrow batches), shuffle
partitions sized to the parallelism level instead of the 200 default.

The one exception to AQE: a near-dup pipeline over a small input
(size estimate within ``spark.sql.autoBroadcastJoinThreshold``) plans
its own actions statically and restores the setting on return
(``StageMaterializer.static_plan``, operators/stage.py). At that size
every action is bound by per-job fixed cost, and AQE runs one job per
shuffle stage.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import SparkSession

_SHIPPED: set[str] = set()


def default_driver_memory() -> str:
    """min(64g, 40% of MemTotal): a local-mode heap allowed past physical
    RAM grows until the kernel OOM-kills the JVM on a small host."""
    try:
        with open("/proc/meminfo") as f:  # first line: MemTotal: <kB>
            mb = int(f.readline().split()[1]) >> 10
    except (OSError, ValueError, IndexError):
        return "64g"
    return f"{min(64 << 10, int(mb * 0.4))}m"


def ship_package(spark: SparkSession) -> None:
    """Make ``doppel_spark`` importable on executor Python workers.

    Zips the package and registers it via ``addPyFile`` — the same
    mechanism ``spark-submit --py-files doppel_spark.zip`` uses on a
    real cluster. Without this, any pandas UDF that references module
    globals fails on workers whenever the driver's cwd isn't the repo
    root (cloudpickle serializes module functions by reference).
    """
    app_id = spark.sparkContext.applicationId
    if app_id in _SHIPPED:
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(pkg_dir)
    if not os.path.isdir(root):
        # The package itself was imported from an archive — the real
        # ``spark-submit --py-files doppel_spark.zip`` case, where
        # ``root`` is the zip, not a directory. Re-zipping is both
        # impossible (``make_archive`` chdirs into ``root_dir``, which
        # fails on a zip-internal path) and pointless: that archive IS
        # the distributable payload, and spark-submit has already
        # shipped it to every executor. Register it for the standalone
        # zipimport case; tolerate "already added" under spark-submit.
        if os.path.isfile(root):
            try:
                spark.sparkContext.addPyFile(root)
            except Exception:  # noqa: BLE001 — duplicate registration
                pass
        _SHIPPED.add(app_id)
        return
    zip_base = os.path.join(tempfile.gettempdir(), "doppel_spark_pyfiles")
    zip_path = shutil.make_archive(zip_base, "zip", root_dir=root,
                                   base_dir="doppel_spark")
    spark.sparkContext.addPyFile(zip_path)
    _SHIPPED.add(app_id)


def get_spark(
    app_name: str = "doppel_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32).
    ``shuffle_partitions`` defaults to the local core count — on a real
    cluster you would pass ~2-3× total executor cores instead.
    """
    # glibc malloc tuning for the Python UDF workers: by default malloc
    # serves multi-MB numpy buffers via mmap and munmaps them on free,
    # so every Arrow batch re-faults its working set — and under many
    # workers the mmap/munmap storm serializes in the kernel. A high
    # static mmap threshold + disabled trim keeps those blocks in the
    # heap arena across batches. Measured on the signature UDF: batch
    # wall variance 2.2–7.8 s collapsed to 1.3 ± 0.1 s on a host whose
    # fresh-page faults run ~20 MB/s in its slow co-tenant mode. Set
    # before JVM launch (local mode: workers fork from the JVM and
    # inherit it) and as executorEnv for real clusters.
    _malloc_env = {"MALLOC_MMAP_THRESHOLD_": str(256 << 20),
                   "MALLOC_TRIM_THRESHOLD_": str((2 << 30) - 1)}
    for k, v in _malloc_env.items():
        os.environ.setdefault(k, v)
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # local[N] → N; local[*] → machine cores; otherwise keep a sane floor
        inner = master[master.find("[") + 1 : master.find("]")] if "[" in master else ""
        shuffle_partitions = cpus if inner in ("", "*") else max(int(inner), 1)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # local mode = driver-only JVM; a small heap makes large runs
        # GC-bound (measured 1.5× slowdown at 16g vs 48g on a 1.2M-doc
        # corpus), and GC steals proportionally more from wider runs
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # DataFrame persist() compresses cached batches by default; the
        # compression encoders contend under many executor threads
        # (measured: the flagship at local[32] went 93s → 51s on a 300k
        # corpus with compression off, while local[8] was unaffected).
        # Our caches hold short-lived hot intermediates (signatures,
        # candidate pairs) — trading RAM for encoder CPU is the wrong
        # deal for them at any scale.
        .config("spark.sql.inMemoryColumnarStorage.compressed", "false")
        # Throughput collector: G1's concurrent cycles interleave badly
        # with the short latency-sensitive jobs of iterative stages on
        # this host — connected components inside the flagship measured
        # ~78 s at local[16] under G1 vs ~10 s under ParallelGC (same
        # code, same corpus); batch analytics has no pause-time SLO, so
        # the throughput collector is the right default here.
        .config("spark.driver.extraJavaOptions",
                os.environ.get("SPARK_GRAFT_DRIVER_JAVA_OPTS",
                               "-XX:+UseParallelGC"))
        # In local mode the "executor" IS the driver, so losing it to a
        # missed heartbeat is pure self-harm — and this hypervisor-
        # shared host can starve the heartbeat thread for minutes (a
        # 3.6M-doc local[1] run died at heartbeat 274s > timeout 120s:
        # HeartbeatReceiver removed executor "driver", context shut
        # down mid-job). 10 min tolerates the observed stalls; on a
        # real cluster these two are legitimate tuning anyway (survive
        # long GC pauses / co-tenant blips instead of re-running a
        # 100 TB stage).
        .config("spark.network.timeout", "600s")
        .config("spark.executor.heartbeatInterval", "30s")
    )
    for k, v in _malloc_env.items():
        builder = builder.config(f"spark.executorEnv.{k}", os.environ[k])
    # Shuffle local dir: plain disk by default. (Measured: tmpfs shuffle
    # is ~2× slower here — it competes with the UDFs for memory
    # bandwidth, while small shuffles to disk land in the page cache and
    # never block on physical IO.)
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir:
        os.makedirs(local_dir, exist_ok=True)
        builder = builder.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ship_package(spark)
    return spark
