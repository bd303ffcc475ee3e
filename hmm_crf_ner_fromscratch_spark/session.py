"""SparkSession factory with scale-oriented defaults.

The defaults below are the ones we would ship to a 1000-executor cluster:
AQE on (runtime re-planning, skew-join splitting, partition coalescing),
Arrow on (all sequence kernels cross the JVM->Python boundary as columnar
batches), and a bounded Arrow batch size so a single pandas-UDF invocation
never materializes an unbounded slice of a skewed partition.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = "32"
# Cap Arrow batches: decode cost per batch ~ sum(T * K^2); bounding rows per
# batch (together with length-bucketing inside the UDF) bounds task memory.
DEFAULT_ARROW_BATCH = "2048"


def get_spark(
    app_name: str = "kg-pipeline",
    master: str | None = None,
    shuffle_partitions: str | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (all cores) in the
    sandbox; on a real cluster the caller leaves it unset and spark-submit
    provides it.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    # Make this package importable by Python workers regardless of the
    # driver's cwd. Local mode: workers inherit the driver env, so PYTHONPATH
    # must be set before the JVM starts. On a real cluster, ship the package
    # with `spark-submit --py-files` instead.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{pkg_root}{os.pathsep}{existing}" if existing else pkg_root
        )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config(
            "spark.sql.shuffle.partitions",
            shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS,
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let AQE coalesce persisted frames too: otherwise every cached
        # delta keeps all shuffle partitions and each scan of it is a
        # shuffle-partitions-wide stage of near-empty tasks
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", DEFAULT_ARROW_BATCH)
        # fork-warm python workers: the daemon preloads pandas/pyarrow/
        # numpy + this package's kernels, so a burst of fresh workers
        # (first wide mapInPandas stage) inherits them via fork COW
        # instead of importing per worker (~1.5 s CPU each, measured)
        .config(
            "spark.python.daemon.module",
            "hmm_crf_ner_fromscratch_spark.pydaemon",
        )
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
    )
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    return builder.getOrCreate()


def local_df(spark: SparkSession, rows, schema):
    """Small driver-side table -> DataFrame through pandas/Arrow.

    ``createDataFrame`` on a plain Python list builds a pickled python RDD
    with defaultParallelism partitions, so every downstream consumer pays
    python-worker roundtrips to scan it -- and ``coalesce(1)`` turns that
    into ONE task draining all partitions sequentially (~4.3 s for a
    13-row table at local[32], measured). The pandas path plans as an
    Arrow ``LocalTableScan``: no python workers, ~0.1 s. Use this for
    every driver-built dimension/result table.
    """
    import pandas as pd
    from pyspark.sql.types import StructType

    if isinstance(schema, StructType):
        st = schema
    else:
        from pyspark.sql.types import _parse_datatype_string

        st = _parse_datatype_string(schema)
    rows = list(rows)
    if not rows:
        return spark.createDataFrame([], st)
    # object dtype end to end: a nullable integer column routed through a
    # default pandas DataFrame becomes float64+NaN, and the Arrow cast to
    # a long/int schema then raises or mangles values -- with dtype=object
    # Arrow sees None, matching the declared schema for every column type
    pdf = pd.DataFrame.from_records(rows, columns=st.names).astype(object)
    pdf = pdf.where(pd.notna(pdf), None)
    return spark.createDataFrame(pdf, schema=st)
