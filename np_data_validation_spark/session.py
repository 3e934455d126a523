"""SparkSession factory with scale-oriented defaults.

Local-mode testing stands in for a multi-executor cluster: a local session
sizes ``spark.sql.shuffle.partitions`` to the core count (not the 200
default; under spark-submit the submitted conf decides). Every session
enables AQE (runtime coalescing + skew-join splitting — the reference has
no skew handling at all and suffers for it: one big session = one slow
loop, see the reference's data_validation.py:1449-1455) and turns on
Arrow so the Arrow-UDF fingerprint kernel moves columnar batches, not
pickled rows.
"""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import SparkSession

#: Arrow batch size for pandas UDFs. 10k rows x <=512 int32 tokens ~= 20 MiB
#: per batch — large enough to amortize Arrow transfer, small enough to keep
#: executor memory bounded at wide rows.
ARROW_BATCH_ROWS = 10_000


def default_driver_memory(meminfo: str | None) -> str:
    """``spark.driver.memory`` when ``SPARK_DRIVER_MEM`` is unset: a quarter
    of ``MemTotal`` in ``meminfo`` (``/proc/meminfo`` text), clamped to
    1-8 GiB, so no default asks for more than the host has. Without a
    ``MemTotal`` line (no ``/proc``), 8g."""
    for line in (meminfo or "").splitlines():
        if line.startswith("MemTotal:"):
            kb = int(line.split()[1])
            return f"{max(1024, min(8192, kb // 4 // 1024))}m"
    return "8g"


def _read_meminfo() -> str | None:
    try:
        with open("/proc/meminfo") as f:
            return f.read()
    except OSError:
        return None


def get_spark(
    app_name: str = "np_data_validation_spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
    master: str | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for the validation workload.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` or all local cores. On a real
    cluster these settings ship unchanged via ``spark-submit --py-files``;
    pass ``master="inherit"`` there so the master/deploy-mode chosen by
    spark-submit is NOT overridden (the default builds a local[cpus]
    session for tests and notebooks). Under ``inherit`` the shuffle
    partition count is also left to spark-submit: the driver host's cores
    say nothing about the cluster's.
    """
    builder = SparkSession.builder.appName(app_name)
    if master != "inherit":
        if cpus is None:
            cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
        # 2x cores: enough tasks for AQE to coalesce, no 200-partition
        # default overhead at local scale. AQE only merges partitions; it
        # never splits beyond this count.
        builder = (
            builder.master(master or f"local[{cpus}]")
            .config("spark.sql.shuffle.partitions", str(max(2 * cpus, 8)))
        )
    builder = (
        builder
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE coalescing is BYTES-based; its 1m default floor collapses a
        # small exchange (a few MB of text) to 1-2 partitions, serializing
        # the CPU-bound interpreted-HOF stages downstream (shingle/minhash
        # construction: measured 5.8 s -> 4.4 s on dd_dedup_corpus at
        # sf0.1 with the lower floor). Scale-adaptive per guide §2: at
        # production bytes the floor never binds (partitions are sized by
        # advisory/parallelism), so this only changes small-input behavior
        # where byte-proportional coalescing starves the CPU.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "32k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # count/min/max answered from parquet footers instead of scans —
        # the engine's derive-from-written-files phases count constantly
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            str(ARROW_BATCH_ROWS),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM")
            or default_driver_memory(_read_meminfo()),
        )
    )
    # Shuffle/spill scratch goes to RAM only when the caller opts in: a
    # tmpfs default spends host memory that the executors and other
    # tenants need. NPDV_LOCAL_DIR points it at fast scratch (tmpfs, NVMe);
    # unset, Spark keeps its own default (java.io.tmpdir or
    # SPARK_LOCAL_DIRS).
    local_dir = os.environ.get("NPDV_LOCAL_DIR")
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _ship_package(spark)
    return spark


def _ship_package(spark: SparkSession) -> None:
    """Ship this package to Python workers (the local-mode / notebook analog
    of ``spark-submit --py-files``), so Python UDFs defined here unpickle on
    executors even when the driver script runs outside the repo."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    pkg_name = os.path.basename(pkg_dir)
    marker = f"_npdv_shipped_{pkg_name}"
    if getattr(spark.sparkContext, marker, False):
        return
    zip_path = os.path.join(
        tempfile.gettempdir(), f"{pkg_name}-{os.getpid()}.zip"
    )
    with zipfile.ZipFile(zip_path, "w") as zf:
        for root, _dirs, files in os.walk(pkg_dir):
            for fn in files:
                if fn.endswith(".py"):
                    full = os.path.join(root, fn)
                    rel = os.path.join(
                        pkg_name, os.path.relpath(full, pkg_dir)
                    )
                    zf.write(full, rel)
    spark.sparkContext.addPyFile(zip_path)
    setattr(spark.sparkContext, marker, True)
