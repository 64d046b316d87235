"""SparkSession factory tuned for the engine.

Local mode is used in this sandbox (``local[N]``: one JVM, N executor
threads); the config below is equally valid on a multi-executor cluster
— AQE re-plans shuffles at runtime, Arrow batches feed the
``applyInPandas`` kernels, and shuffle-partition count should track
total cores (cores × 2-3 on a real cluster).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _session_scratch() -> str:
    """Per-user, per-process scratch root for the embedded metastore and
    warehouse. Derby takes a single-process lock on its system home, so
    a SHARED /tmp path made two concurrent sessions (parallel pytest
    runs, simultaneous CLI jobs, multiple users) collide on the lock and
    see each other's managed tables (advisor finding, round 3).

    The per-PID default is removed at interpreter exit (best-effort) so
    looped test runs don't accumulate orphaned Derby/warehouse trees in
    /tmp. Set ``PFX_SCRATCH_DIR`` for a DURABLE scratch root instead —
    explicit paths are never auto-deleted, which is also the migration
    path for anything that relied on the old shared-/tmp warehouse
    surviving across processes."""
    explicit = os.environ.get("PFX_SCRATCH_DIR")
    if explicit:
        os.makedirs(explicit, exist_ok=True)
        return explicit
    base = os.path.join("/tmp", f"pfx-{os.getuid()}-{os.getpid()}")
    if not os.path.isdir(base):
        os.makedirs(base, exist_ok=True)
        import atexit
        import shutil

        atexit.register(shutil.rmtree, base, ignore_errors=True)
    return base


def _local_dir() -> str:
    shm = "/dev/shm"
    if os.path.isdir(shm) and os.access(shm, os.W_OK):
        path = os.path.join(shm, "pfx-spark")
        os.makedirs(path, exist_ok=True)
        return path
    return "/tmp"


def _mem_total_bytes() -> int | None:
    """``MemTotal`` of ``/proc/meminfo``; None where it cannot be read."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return None


def _default_driver_memory() -> str:
    """Half the host's RAM, at most 64g: a local-mode driver JVM shares
    the host with its Python workers, and a heap sized past RAM lets the
    kernel's OOM killer end the process. 64g where RAM is unknown."""
    total = _mem_total_bytes()
    if total is None:
        return "64g"
    return f"{min(64 * 1024, total // 2 // 2**20)}m"


def get_spark(
    app_name: str = "proxyfeatureextraction_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    Defaults chosen for the 100 TB design target:

    - AQE on (runtime shuffle coalescing + skew-join splitting),
    - Arrow on (all Python boundaries are vectorized batches),
    - UTC session timezone (oracle comparison — DuckDB is UTC-naive),
    - shuffle partitions sized to cores (local) — a cluster deployment
      overrides via ``extra_conf`` or ``spark-submit --conf``.
    """
    cpus = DEFAULT_CPUS
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        # local[N] → N; local[*] → the actual machine cores (which is
        # what local[*] launches — NOT the DEFAULT_CPUS env fallback)
        if master.startswith("local["):
            inner = master[len("local[") : -1]
            if inner == "*":
                shuffle_partitions = os.cpu_count() or cpus
            else:
                shuffle_partitions = int(inner)
        else:
            shuffle_partitions = 200
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY") or _default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        # local-mode shuffle on tmpfs: the sandbox's virtio disk
        # serializes shuffle spill and caps thread scaling; a real
        # cluster has node-local NVMe that scales with executors
        .config("spark.local.dir", os.environ.get("SPARK_LOCAL_DIRS", _local_dir()))
        # shuffle files are only deleted when the driver GCs the
        # referencing RDD objects; a long-lived session running many
        # queries back-to-back (the bench, a notebook, a job server)
        # otherwise accumulates dead shuffle data — on tmpfs that is
        # resident RAM squeezing the page cache. Default is 30min;
        # trigger the ContextCleaner's periodic GC often enough that
        # dead shuffles from earlier queries are reclaimed between runs.
        .config(
            "spark.cleaner.periodicGC.interval",
            os.environ.get("SPARK_PERIODIC_GC", "2min"),
        )
        # managed (bucketed) tables + embedded metastore out of the repo,
        # in a per-user per-process dir (Derby's lock is single-process)
        .config(
            "spark.sql.warehouse.dir",
            os.path.join(_session_scratch(), "warehouse"),
        )
        .config(
            "spark.driver.extraJavaOptions",
            "-Dio.netty.tryReflectionSetAccessible=true "
            f"-Dderby.system.home={os.path.join(_session_scratch(), 'derby')}",
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
