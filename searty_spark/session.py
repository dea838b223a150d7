"""SparkSession factory.

Local-mode settings mirror what we'd set on a real cluster: AQE on
(skew-join splitting + shuffle coalescing), shuffle partitions sized
to cores (not the 200 default), Arrow enabled for the codec UDFs,
UTC session TZ so DuckDB oracle comparisons are stable.
"""

from __future__ import annotations

import os
import tempfile
import zipfile
from pathlib import Path

from pyspark.sql import SparkSession


def _package_zip() -> str:
    """Zip searty_spark for shipping to executors (the programmatic
    twin of `spark-submit --py-files searty_spark.zip`). Without it,
    Python workers whose cwd is not the repo can't unpickle our UDFs.
    Written beside the target and renamed into place, so a concurrent
    process never ships a half-written zip."""
    pkg_dir = Path(__file__).resolve().parent
    out = Path(tempfile.gettempdir()) / "searty_spark_pyfiles.zip"
    fd, tmp = tempfile.mkstemp(dir=out.parent, prefix=out.name, suffix=".tmp")
    try:
        with os.fdopen(fd, "wb") as fh, zipfile.ZipFile(fh, "w") as z:
            for f in sorted(pkg_dir.glob("*.py")):
                z.write(f, f"searty_spark/{f.name}")
        os.replace(tmp, out)
    except BaseException:
        os.unlink(tmp)
        raise
    return str(out)


def get_spark(
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    app_name: str = "searty_spark",
    driver_memory: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = cpus if cpus is not None else int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or max(cpus, 8)
    driver_memory = driver_memory or os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g")
    b = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.driver.memory", driver_memory)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.host", "127.0.0.1")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.addPyFile(_package_zip())
    return spark


def spread_input(df, min_factor: int = 1):
    """Round-robin-repartition ``df`` up to the session's default
    parallelism when its scan would otherwise under-parallelize the
    stage above it (guide §2.5 "input skew: one huge unsplittable
    file"). The fixture corpora are single-row-group parquet files, so
    every explode/aggregate chained on a bare read runs at 1-2-task
    parallelism on a 32-core session without this. A no-op whenever the
    source already carries >= defaultParallelism partitions — i.e. on
    any real multi-file table — so the exchange only exists where it
    buys a 16x parallelism win, and identical repartition subtrees are
    deduplicated at runtime by ReusedExchange."""
    target = df.sparkSession.sparkContext.defaultParallelism * min_factor
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df
