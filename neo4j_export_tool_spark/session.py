"""SparkSession factory tuned for the KG-construction workload.

Local testing runs ``local[$SPARK_GRAFT_CPUS]`` in one JVM; the configs below
are the ones that also matter on a real multi-executor cluster at 100 TB:
AQE (runtime re-planning, skew-join splitting, partition coalescing), Arrow
for every pandas-UDF boundary, and a shuffle-partition count sized to the
parallelism at hand rather than the 200 default.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from pathlib import Path

from pyspark.sql import SparkSession

_PKG_ROOT = Path(__file__).resolve().parents[1]


_SHIPPED_SESSIONS: set[int] = set()


def ensure_package_shipped(spark: SparkSession) -> None:
    """Idempotently ship this package to the executors of an EXTERNALLY
    created session (e.g. the driver harness passes its own SparkSession to
    ``__spark_entry__.entry``).  Without this, pandas-UDF closures that
    reference the package fail to unpickle on workers whose PYTHONPATH does
    not include the repo."""
    key = id(spark)
    if key in _SHIPPED_SESSIONS:
        return
    _ship_package(spark)
    _SHIPPED_SESSIONS.add(key)


def _ship_package(spark: SparkSession) -> None:
    """Make this package importable on executors.

    Local mode: python workers inherit PYTHONPATH from the JVM, which
    inherits it from us — but only if set before the JVM starts, so we also
    ship a zip via ``addPyFile`` (the same mechanism ``spark-submit
    --py-files`` uses on a real cluster, so UDF closures deserialize on any
    executor regardless of the driver's cwd)."""
    # rebuilt every session start (cheap; a cached zip could ship stale code)
    zip_base = os.path.join(
        tempfile.gettempdir(), f"neo4j_export_tool_spark_pkg_{os.getpid()}"
    )
    zip_path = shutil.make_archive(
        zip_base,
        "zip",
        root_dir=str(_PKG_ROOT),
        base_dir="neo4j_export_tool_spark",
    )
    spark.sparkContext.addPyFile(zip_path)


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(
    master: str | None = None,
    app_name: str = "neo4j_export_tool_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-aware defaults.

    On a cluster, ``master`` comes from spark-submit; locally we default to
    ``local[$SPARK_GRAFT_CPUS]``.  Shuffle partitions default to the session
    parallelism — AQE coalesces further at runtime.
    """
    cpus = default_parallelism()
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    shuffle_partitions = shuffle_partitions or max(cpus, 8)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # NB (r7): lowering coalescePartitions.minPartitionSize (64k) was
        # A/B-measured and REJECTED — it spread the CPU-dense post-shuffle
        # stages (edge hashing, line serialization) but cost more across
        # the many aggregation-shaped lanes than it saved (extra tiny
        # tasks per stage); the serializer-side fan-out handles the
        # pathological case directly.
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # Broadcast threshold: node-side of the hash-lookup join (SURVEY §2.3 J1)
        # should broadcast whenever it fits; AQE upgrades to broadcast at runtime
        # too, but an explicit floor avoids sort-merge on small dims.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # managed tables (bucketed graph tables) go to a session temp
        # warehouse, never the caller's cwd
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get(
                "SPARK_GRAFT_WAREHOUSE",
                tempfile.mkdtemp(prefix="spark-graft-warehouse-"),
            ),
        )
    )
    # executor-parallel zstd: attach the on-demand-compiled Hadoop codec jar
    # (sources/zstd_codec.py) so write tasks can emit .zst text parts; must
    # be on spark.jars BEFORE the JVM starts — the driver-side codec
    # resolver ignores runtime addJar.  Harmless no-op when unavailable.
    from neo4j_export_tool_spark.sources.zstd_codec import codec_jar

    _codec_jar = codec_jar()
    if _codec_jar and "spark.jars" not in (extra_conf or {}):
        builder = builder.config("spark.jars", _codec_jar)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    # local-mode python workers read PYTHONPATH from the JVM's environment;
    # must be set before the JVM starts
    existing = os.environ.get("PYTHONPATH", "")
    if str(_PKG_ROOT) not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{_PKG_ROOT}{os.pathsep}{existing}" if existing else str(_PKG_ROOT)
        )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _ship_package(spark)
    # no operator here calls the reliable ``checkpoint()`` (every loop
    # cuts lineage with ``localCheckpoint``); the dir is set so a
    # caller's own ``DataFrame.checkpoint()`` works out of the box.
    # Default to a session-scoped temp dir unless the caller set one
    if spark.sparkContext.getCheckpointDir() is None:
        spark.sparkContext.setCheckpointDir(
            tempfile.mkdtemp(prefix="spark-graft-ckpt-")
        )
    return spark
