"""SparkSession helper + self-shipping packaging.

On a real cluster the engine runs as
``spark-submit --py-files codebased_spark.zip build.py ...`` (north_rule).
For driver-created sessions (tests, bench, notebooks) :func:`get_spark`
builds the same zip and ships it with ``addPyFile`` so executor Python
workers can import ``codebased_spark`` regardless of their cwd.
"""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import SparkSession

_PKG_DIR = os.path.dirname(os.path.abspath(__file__))


def make_pyfiles_zip(out_path: str | None = None) -> str:
    """Zip the package for --py-files / addPyFile. Deterministic content
    order; skips caches."""
    if out_path is None:
        out_path = os.path.join(tempfile.gettempdir(), "codebased_spark_pyfiles.zip")
    root = os.path.dirname(_PKG_DIR)
    with zipfile.ZipFile(out_path, "w", zipfile.ZIP_DEFLATED) as z:
        for dirpath, dirnames, filenames in os.walk(_PKG_DIR):
            dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
            for fn in sorted(filenames):
                if fn.endswith(".py"):
                    full = os.path.join(dirpath, fn)
                    z.write(full, os.path.relpath(full, root))
    return out_path


def one_row_df(spark: SparkSession, schema: str, row: tuple):
    """Single-row DataFrame as ONE JVM-native task (a 1-partition
    range + literal projection).

    The obvious ``createDataFrame([row]).coalesce(1)`` is several
    times slower: the local relation parallelizes into
    ``defaultParallelism`` python slices and ``coalesce(1)`` folds them
    into a single task that replays every python partition
    sequentially, so its cost grows with the core count. A one-row
    parquet write took 0.75-0.78 s that way against 0.13-0.16 s for
    this shape (local[4], 4 cores). ``ivf_topk`` builds its one-row
    probe this way. ``schema`` is a DDL string
    (``StructType.fromDDL``), so a parameterized type such as
    ``decimal(10,2)`` keeps its comma; values are scalar literals."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    fields = StructType.fromDDL(schema).fields
    if len(fields) != len(row):
        raise ValueError("schema/row arity mismatch")
    return spark.range(0, 1, 1, 1).select(*[
        F.lit(v).cast(f.dataType).alias(f.name) for f, v in zip(fields, row)
    ])


def get_spark(
    master: str | None = None,
    app_name: str = "codebased-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Session tuned for the engine:

    - AQE on (skew-join splitting + shuffle coalescing at runtime);
    - Arrow transport for pandas UDFs;
    - shuffle partitions sized to parallelism (never the 200 default);
    - UTC so oracle comparisons are stable;
    - the package shipped to executors.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        inner = master[master.find("[") + 1 : master.find("]")] if "[" in master else "8"
        shuffle_partitions = os.cpu_count() if inner == "*" else max(int(inner), 4)

    # local mode runs driver + executors in ONE JVM: the default 1g heap
    # GC-thrashes as soon as many tasks run concurrently. Size the heap
    # to the machine (override with SPARK_GRAFT_DRIVER_MEM).
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g")

    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.driver.memory", driver_mem)
        .config("spark.driver.maxResultSize", "4g")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    try:
        spark.sparkContext.addPyFile(make_pyfiles_zip())
    except Exception:
        pass  # non-fatal: module may already be importable on workers
    return spark
