"""SparkSession factory with the engine's defaults.

Local-mode knobs follow the sandbox (local[N], single JVM); on a real
cluster the same code runs unchanged — partitioning is expressed
logically (repartition on routing keys, AQE enabled) so Catalyst/AQE
pick physical parallelism per deployment.
"""

from __future__ import annotations

import hashlib
import io
import os
import tempfile
import zipfile

from pyspark.sql import SparkSession


def package_zip(pkg_dir: str) -> str:
    """Zip the `.py` files of the package tree `pkg_dir` into the temp
    dir under a content-hashed name and return its path. The zip is
    byte-deterministic (sorted entries, fixed timestamps), so the same
    tree always maps to the same file and two different trees (e.g. two
    checkouts running at once) never overwrite each other's zip."""
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        for root, dirs, files in os.walk(pkg_dir):
            dirs.sort()
            if "__pycache__" in root:
                continue
            for f in sorted(files):
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    info = zipfile.ZipInfo(
                        os.path.join("quickwit_spark", os.path.relpath(full, pkg_dir)),
                        date_time=(1980, 1, 1, 0, 0, 0),
                    )
                    info.compress_type = zipfile.ZIP_DEFLATED
                    with open(full, "rb") as fh:
                        zf.writestr(info, fh.read())
    data = buf.getvalue()
    digest = hashlib.sha256(data).hexdigest()[:16]
    dest = os.path.join(tempfile.gettempdir(), f"quickwit_spark_pkg-{digest}.zip")
    if not os.path.exists(dest):
        # write-then-rename: a concurrent reader never sees a partial zip
        fd, tmp = tempfile.mkstemp(suffix=".zip", prefix="quickwit_spark_")
        with os.fdopen(fd, "wb") as f:
            f.write(data)
        os.replace(tmp, dest)
    return dest


def ship_package(spark: SparkSession) -> None:
    """Ship quickwit_spark to executors (the `spark-submit --py-files`
    mechanism, done programmatically so any entry point works).

    Python workers unpickle our pandas-UDF closures, which reference
    this package — without this, a driver launched outside the repo
    root fails with ModuleNotFoundError in the worker.
    """
    import quickwit_spark

    pkg_dir = os.path.dirname(os.path.abspath(quickwit_spark.__file__))
    spark.sparkContext.addPyFile(package_zip(pkg_dir))


def get_spark(
    app_name: str = "quickwit_spark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cores = cores or os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("QWS_DRIVER_MEM", "8g"))
    )
    if shuffle_partitions is None:
        n = os.cpu_count() or 8 if cores in ("*", None) else int(cores)
        shuffle_partitions = max(int(n), 8)
    builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ship_package(spark)
    return spark
