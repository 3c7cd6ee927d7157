"""Session helpers — tuned SparkSession builder (composition, not subclass).

The reference subclasses ``SparkSession`` with per-version code paths
(``jibaro/spark/session.py:39-134``).  We instead provide a builder
function that layers scale-appropriate defaults on a stock session; the
rest of the engine takes a plain ``SparkSession`` argument everywhere.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import SparkSession

#: Defaults chosen for the 100 TB design point, applied unless the
#: caller overrides them.  All are standard public Spark confs.
SCALE_DEFAULTS: dict[str, str] = {
    # AQE re-plans at runtime: coalesces post-shuffle partitions, picks
    # broadcast joins from observed sizes, splits skewed partitions.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Deterministic timestamps for oracle comparison and cross-engine
    # correctness (duckdb is UTC-naive).
    "spark.sql.session.timeZone": "UTC",
    # Arrow transfer for pandas UDF / toPandas paths.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # 128 MiB input splits — a sane default for large parquet scans.
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    # Streaming metadata logs (offsets, commits, source logs, a file
    # sink's _spark_metadata) through FileSystem rather than FileContext:
    # see build_session.
    "spark.sql.streaming.checkpointFileManagerClass": (
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileSystemBasedCheckpointFileManager"
    ),
}


def build_session(
    app_name: str = "jibaro_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or reuse) a SparkSession with scale-aware defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, fallback
    ``local[*]``) so tests and bench share one entry point; on a real
    cluster the caller simply passes ``master=None`` with a cluster
    submit and the defaults still apply.

    Streaming metadata logs go through Spark's
    ``FileSystemBasedCheckpointFileManager`` on every scheme (a
    :data:`SCALE_DEFAULTS` entry; ``extra_conf`` overrides it).  Without
    libhadoop, Spark's FileContext default shells out to ``readlink``
    eight times per metadata file on ``file:``.  No guarantee is lost.
    The FileSystem manager's create-if-absent checks ``exists(dst)``,
    renames, and raises ``FileAlreadyExistsException`` when the rename
    fails with the target present.  FileContext's is check-then-rename
    on ``file:`` (``ChecksumFs``) and on the object stores bound through
    ``DelegateToFileSystem`` (S3A, ABFS, GCS).  On HDFS, FileContext
    asks the NameNode for a rename that refuses an existing target; the
    FileSystem manager's ``DistributedFileSystem.rename`` is the older
    NameNode rename, which also fails when the target file exists, so of
    two racing writers one still wins and the other raises.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = int(cpus) if cpus else (os.cpu_count() or 8)

    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(SCALE_DEFAULTS)
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    conf.setdefault("spark.ui.enabled", "false")
    conf.setdefault("spark.driver.memory", os.environ.get("JIBARO_SPARK_DRIVER_MEMORY", "8g"))
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _ship_package(spark)
    return spark


def _ship_package(spark: SparkSession) -> None:
    """Make ``jibaro_spark`` importable on Python workers regardless of
    the driver's working directory.

    Pandas-UDF closures (multimodal decode) reference this package;
    cloudpickle serializes installed-module functions BY REFERENCE, so a
    worker whose ``sys.path`` lacks the repo root raises
    ``ModuleNotFoundError`` unless the package is shipped.  Local-mode
    workers inherit the driver cwd (so running from the repo root
    works), but a driver launched elsewhere — or a real cluster — needs
    the explicit ``addPyFile``.  Idempotent per session.
    """
    try:
        import jibaro_spark

        pkg_dir = os.path.dirname(os.path.abspath(jibaro_spark.__file__))
        marker = "_jibaro_pkg_shipped"
        if getattr(spark, marker, False):
            return
        zip_base = os.path.join(
            tempfile.gettempdir(), f"jibaro_spark_pkg_{os.getpid()}"
        )
        zip_path = shutil.make_archive(
            zip_base, "zip", root_dir=os.path.dirname(pkg_dir),
            base_dir=os.path.basename(pkg_dir),
        )
        spark.sparkContext.addPyFile(zip_path)
        setattr(spark, marker, True)
    except Exception as exc:
        # Shipping is best-effort hardening: in-repo runs work without
        # it.  But on a real cluster a silent failure here surfaces
        # later as an opaque ModuleNotFoundError inside pandas-UDF
        # workers — log the cause so it's diagnosable (ADVICE r3).
        import logging

        logging.getLogger(__name__).warning(
            "jibaro_spark package shipping (addPyFile) failed; executors "
            "must already have the package importable: %s", exc
        )


def has_delta(spark: SparkSession) -> bool:
    """True when delta-spark is importable and its jars are loaded."""
    try:
        from delta.tables import DeltaTable  # noqa: F401
    except Exception:
        return False
    try:
        spark._jvm.java.lang.Class.forName(  # type: ignore[union-attr]
            "io.delta.tables.DeltaTable"
        )
        return True
    except Exception:
        return False


def has_kafka(spark: SparkSession) -> bool:
    """True when the spark-sql-kafka connector jar is on the classpath.

    Uses ``Class.forName`` — attribute access on ``spark._jvm`` returns
    a ``JavaPackage`` placeholder for missing classes instead of
    raising, so it cannot be used as an existence probe.
    """
    try:
        spark._jvm.java.lang.Class.forName(  # type: ignore[union-attr]
            "org.apache.spark.sql.kafka010.KafkaSourceProvider"
        )
        return True
    except Exception:
        return False
