"""SparkSession factory and engine configuration.

Mirrors the reference's GUC namespace (``neurondb.*`` settings registered in
NeuronDB/src/util/neurondb_guc.c:161-716) as a ``spark.neurondb.*`` config
namespace: hnsw/ivf search params, k defaults, worker cadences. Values are
plain Spark conf entries so they flow to executors for free.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Defaults mirror the reference GUCs (neurondb_guc.c:161-716, worker_init.c:94-106)
DEFAULTS = {
    "spark.neurondb.hnsw.ef_search": "64",
    "spark.neurondb.hnsw.m": "16",
    "spark.neurondb.hnsw.ef_construction": "200",
    "spark.neurondb.hnsw.k": "10",
    "spark.neurondb.ivf.nlists": "100",
    "spark.neurondb.ivf.nprobe": "10",
}


def _default_driver_mem() -> str:
    """Half of physical memory, capped at 24g. A fixed 24g heap on a
    smaller host lets the JVM grow past what the machine has, and the
    kernel's OOM killer ends it. ``NEURONDB_SPARK_DRIVER_MEM`` overrides
    this."""
    try:
        ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (AttributeError, ValueError, OSError):  # no sysconf: old default
        return "24g"
    return f"{max(1, min(24, ram // 2 // 2**30))}g"


def get_spark(
    app: str = "neurondb-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or get) the engine SparkSession.

    Local mode is a test harness; partitioning/broadcast decisions in the
    operators are written for a multi-executor cluster at 100 TB scale and
    rely on AQE for runtime re-planning.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)
    b = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("NEURONDB_SPARK_DRIVER_MEM")
                or _default_driver_mem())
        .config("spark.ui.enabled", "false")
    )
    for k, v in DEFAULTS.items():
        b = b.config(k, v)
    for k, v in (extra_conf or {}).items():
        b = b.config(k, str(v))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def get_conf(spark: SparkSession, key: str, default: str | None = None) -> str:
    """Read a ``neurondb.*`` engine setting (GUC analog)."""
    full = key if key.startswith("spark.") else f"spark.neurondb.{key}"
    try:
        return spark.conf.get(full)
    except Exception:
        if default is not None:
            return default
        return DEFAULTS.get(full, "")


def set_conf(spark: SparkSession, key: str, value: str) -> None:
    """Set a ``neurondb.*`` engine setting (GUC analog: set_vector_config,
    neurondb--1.0.sql:4310-4330)."""
    full = key if key.startswith("spark.") else f"spark.neurondb.{key}"
    spark.conf.set(full, str(value))


def load_tables(spark: SparkSession, sf_dir: str, names: tuple[str, ...] | None = None):
    """Load the driver's parquet tables as a dict of DataFrames and register
    temp views with the same names."""
    if names is None:
        names = (
            "region", "nation", "customer", "supplier", "part",
            "orders", "lineitem", "events", "documents", "embeddings",
        )
    out = {}
    for n in names:
        df = spark.read.parquet(f"{sf_dir}/{n}.parquet")
        df.createOrReplaceTempView(n)
        out[n] = df
    return out
