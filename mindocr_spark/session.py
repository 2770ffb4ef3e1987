"""SparkSession factory tuned for the extraction workload.

Local-mode testing uses ``local[N]``; the same config block is what a
cluster ``spark-submit`` would carry (AQE on, Arrow on, sensible batch
size). ``spark.sql.shuffle.partitions`` is sized to cores locally — on a
real cluster leave it to AQE's coalescing.

Driver memory: ``SPARK_GRAFT_DRIVER_MEM`` is used unchanged when set.
Otherwise ``spark.driver.memory`` is a quarter of the host's physical
memory (``MemTotal`` in ``/proc/meminfo``), never more than 16g. A
quarter is HotSpot's own default maximum heap (``-XX:MaxRAMPercentage=25``)
and leaves room for one Python worker per core and the JVM's off-heap
memory. A fixed 16g default was larger than a 15.7 GiB, swap-less host:
the heap grew until the kernel OOM-killed the JVM mid-way through the
test suite, and every later Spark call failed. The 16g ceiling keeps
hosts with 64 GB or more at that old default.
"""

from __future__ import annotations

import os
import tempfile
from collections.abc import Mapping

from pyspark.sql import SparkSession

#: Arrow batch size — plays the role of the reference's dataset
#: ``batch_size`` (reference: mindocr/data/builder.py:186-195): each
#: mapInPandas invocation sees ≤ this many documents. Larger batches
#: amortize JVM↔python Arrow IPC (the dominant overhead at high
#: parallelism); smaller batches bound worker memory for huge pages.
ARROW_BATCH = int(os.environ.get("SPARK_GRAFT_ARROW_BATCH", "256"))  # measured best (BENCH.md method)

#: Ceiling of the host-sized default driver heap, in MiB.
DRIVER_MEM_CEILING_MB = 16 * 1024


def host_memory_mb() -> int:
    """The host's physical memory in MiB: ``MemTotal`` from
    ``/proc/meminfo``, or ``sysconf`` where that file does not exist."""
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1]) // 1024
    except FileNotFoundError:
        pass
    return os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") // (1024 * 1024)


def driver_memory(mem_total_mb: int, env: Mapping[str, str] = os.environ) -> str:
    """``spark.driver.memory`` for a host with ``mem_total_mb`` MiB:
    ``SPARK_GRAFT_DRIVER_MEM`` when set, else a quarter of the host's
    memory capped at :data:`DRIVER_MEM_CEILING_MB`."""
    override = env.get("SPARK_GRAFT_DRIVER_MEM")
    if override:
        return override
    return f"{min(mem_total_mb // 4, DRIVER_MEM_CEILING_MB)}m"


def get_spark(
    app: str = "mindocr_spark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    cores = cores or os.environ.get("SPARK_GRAFT_CPUS", "*")
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH))
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or 32))
        .config("spark.driver.memory", driver_memory(host_memory_mb()))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "128m")
    )
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _ship_package(spark)
    return spark


_shipped: set = set()


def _pkg_zip_path() -> str:
    """Build (or reuse) the package zip, NAMED BY A CONTENT HASH of the
    sources: a stale zip from a recycled PID or another checkout can
    never ship divergent worker code — a different source tree hashes to
    a different path and is rebuilt."""
    import hashlib
    import zipfile

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pkg = os.path.join(root, "mindocr_spark")
    files = sorted(
        os.path.join(dirpath, f)
        for dirpath, _dirs, fs in os.walk(pkg)
        for f in fs
        if f.endswith(".py")
    )
    h = hashlib.md5()
    for full in files:
        h.update(os.path.relpath(full, root).encode())
        with open(full, "rb") as fh:
            h.update(fh.read())
    zip_path = os.path.join(
        tempfile.gettempdir(), f"mindocr_spark_pkg_{h.hexdigest()[:16]}.zip"
    )
    if not os.path.exists(zip_path):
        tmp = f"{zip_path}.tmp{os.getpid()}"
        with zipfile.ZipFile(tmp, "w") as z:
            for full in files:
                z.write(full, os.path.relpath(full, root))
        os.replace(tmp, zip_path)  # atomic: concurrent builders converge
    return zip_path


def _ship_package(spark: SparkSession) -> None:
    """addPyFile the package zip so python workers can unpickle
    mindocr_spark closures regardless of the driver's cwd/PYTHONPATH
    (workers do not inherit driver sys.path mutations). Dedupe is keyed
    on applicationId — an id() key could be recycled after a stopped
    SparkContext is garbage-collected, silently skipping the ship."""
    sc = spark.sparkContext
    key = (sc.applicationId, sc.startTime)
    if key in _shipped:
        return
    sc.addPyFile(_pkg_zip_path())
    _shipped.add(key)
