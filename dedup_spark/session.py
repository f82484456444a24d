"""SparkSession factory tuned for the sandbox (local mode) but configured
the way the job would run on a real cluster: AQE on, skew-join handling on,
Arrow enabled for the vectorized UDF stages.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def package_zip() -> str:
    """Build a zip of the dedup_spark package — the artifact a production
    job ships via ``spark-submit --py-files`` (north_rule). The file name
    carries a digest of the package SOURCES, so editing the package
    invalidates the cache: a fixed name once shipped executors a stale
    zip from a previous build (workers failed with missing attributes
    whenever the driver ran outside the repo checkout)."""
    import hashlib
    import tempfile
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    sources = []
    for root, _, files in os.walk(pkg_dir):
        for fn in sorted(files):
            if fn.endswith(".py"):
                sources.append(os.path.join(root, fn))
    sources.sort()
    h = hashlib.sha256()
    for full in sources:
        h.update(os.path.relpath(full, pkg_dir).encode())
        with open(full, "rb") as f:
            h.update(f.read())
    out = os.path.join(
        tempfile.gettempdir(),
        f"dedup_spark_pkg_{os.getuid()}_{h.hexdigest()[:12]}.zip",
    )
    if not os.path.exists(out):
        tmp = out + f".{os.getpid()}"
        with zipfile.ZipFile(tmp, "w") as z:
            for full in sources:
                z.write(full,
                        os.path.relpath(full, os.path.dirname(pkg_dir)))
        os.replace(tmp, out)
    return out


def _local_dir() -> str:
    """Shuffle/spill scratch space. Measured in this environment: shuffle
    files on the VM's ext4 root serialize >8 concurrent writers (2x
    anti-scaling at local[32]); tmpfs removes the bottleneck. On a real
    cluster this maps to fast local SSDs per executor."""
    shm = "/dev/shm/spark_local"
    try:
        os.makedirs(shm, exist_ok=True)
        return shm
    except OSError:
        return os.environ.get("SPARK_LOCAL_DIRS", "/tmp")


def _fd_safe_partitions(cores: int) -> int | None:
    """Largest per-shuffle partition count the bypass writer can use with
    every core running a map task at once, against the process soft FD
    limit (4096 kept back for parquet footers, sockets, jars, spill
    files). ``None`` when the soft limit is unlimited (``RLIM_INFINITY``):
    there is no FD ceiling then."""
    try:
        import resource

        soft = resource.getrlimit(resource.RLIMIT_NOFILE)[0]
        if soft == resource.RLIM_INFINITY:
            return None
    except Exception:
        soft = 1024
    return max(1, (soft - 4096) // max(1, cores))


def _bypass_threshold(cores: int) -> int:
    """``spark.shuffle.sort.bypassMergeThreshold`` for ``cores`` concurrent
    map tasks: Spark's default 200 or ``cores * 32`` if larger, but never
    more than the FD-safe partition count — the FD limit always wins."""
    cap = max(200, cores * 32)
    fd_safe = _fd_safe_partitions(cores)
    return cap if fd_safe is None else min(cap, fd_safe)


def get_spark(app: str = "dedup_spark", cores: int | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    if shuffle_partitions is None:
        # partitions pinned to cores in local mode; a real cluster would use
        # 2-4x total executor cores and lean on AQE coalescing.
        shuffle_partitions = max(cores, 8)
    builder = (
        SparkSession.builder.appName(app)
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        # Bound Arrow batches by BYTES: the 64 MB default lets wide string
        # rows form ~26 MB batches whose allocation burns CPU quadratically
        # in the number of concurrent Python streams (measured: identity
        # mapInArrow over 1 GB at local[32] drops 4.8s/70cpu-s -> 1.2s/23
        # with small batches).
        .config("spark.sql.execution.arrow.maxBytesPerBatch", str(2 << 20))
        # Split files for DECOMPRESSED work: source text compresses ~10-15x,
        # so the 128 MB default bin-packs a "5 GB" corpus into ~11 splits and
        # starves every core past the second (measured: the whole end-to-end
        # anti-scaling mystery of round 1). 8 MB compressed ≈ 100+ MB of
        # chunker work per task; measured optimum is ~2-4 splits per core
        # (per-task Arrow stream setup costs ~60ms, so thousands of tiny
        # splits lose to wave-balanced medium ones).
        .config("spark.sql.files.maxPartitionBytes", str(16 << 20))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.memory.offHeap.enabled",
                os.environ.get("SPARK_OFFHEAP", "0") != "0")
        .config("spark.memory.offHeap.size",
                os.environ.get("SPARK_OFFHEAP", "0"))
        .config("spark.driver.extraJavaOptions",
                os.environ.get("SPARK_GC_FLAGS", "-XX:+UseParallelGC"))
        .config("spark.executor.extraJavaOptions",
                os.environ.get("SPARK_GC_FLAGS", "-XX:+UseParallelGC"))
        .config("spark.local.dir", _local_dir())
        # Reduction-free exchanges (pair-gen repartitions) sort 10^8 rows
        # by partition id for nothing when they cross the default 200-
        # partition bypass threshold: the serialized-sort writer buffers
        # the whole map output in execution memory and spills (measured
        # on the ngram pair exchange at sf1.0: 162 s of shuffle-write
        # time + 8 GB spill in one 13 s stage; the bypass writer streams
        # the same 128M rows in ~3 s). The bypass writer holds ONE open
        # file per reducer per running task, so the ceiling is the
        # process FD limit, not memory (measured: cores*32=1024 at 32
        # concurrent tasks blew a 20k ulimit with "Too many open
        # files"): allow Spark's default 200 or cores*32, whichever is
        # larger, but never more than the soft FD limit minus headroom
        # spread over the concurrent tasks (_bypass_threshold). Wider
        # exchanges than this fall back to the serialized-sort writer —
        # batched files are the right trade there.
        .config("spark.shuffle.sort.bypassMergeThreshold",
                str(_bypass_threshold(cores)))
        # one BLAS/OMP thread per Python worker: N workers x N BLAS threads
        # oversubscribes quadratically on wide executors
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    spark = builder.getOrCreate()
    # Ship the package to executor Python workers regardless of driver cwd —
    # the same thing `spark-submit --py-files dedup_spark.zip` does on a
    # real cluster. Without this, mapInArrow UDFs fail to unpickle when the
    # driver wasn't launched from the repo root.
    spark.sparkContext.addPyFile(package_zip())
    return spark
