"""SparkSession builder tuned for the engine.

Arrow on (all our Python is Arrow-batched pandas UDFs — the reference's
row-at-a-time ``apply``/``iterrows`` hot loops, e.g.
/root/reference/landlensdb/process/snap.py:139,204, are deliberately NOT
reproduced), AQE on (runtime re-plan + skew-join splitting replaces the
reference's bbox quad-split overflow recursion, cloud.py:963-977).

Designed for a multi-executor cluster; tested on local[N]. Every knob here
scales with cluster size rather than hard-coding single-node assumptions:
shuffle partitions default to 2x cores (override via spark.sql.shuffle.partitions),
broadcast threshold sized for dimension/polygon tables, and file split size kept
at 128MB so a 100 TB scan fans out to ~800k input splits.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def get_spark(
    app_name: str = "landlensdb-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default all
    cores) so the same entry point runs under spark-submit on a real cluster
    (where master is supplied externally and this arg stays None).
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_GRAFT_CPUS" in os.environ:
        master = f"local[{os.environ['SPARK_GRAFT_CPUS']}]"
    if master is not None:
        builder = builder.master(master)
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE", DEFAULT_SHUFFLE_PARTITIONS)
        )

    conf = {
        # Arrow transfer for every pandas UDF / Arrow map stage. 60k rows
        # per batch measured ~7% faster than 20k on the fused extract path
        # (fewer IPC round-trips); at ~0.5-2 KB/row of html that is tens of
        # MB per in-flight batch per worker — rows much wider than this
        # corpus should size DOWN via SPARK_GRAFT_ARROW_BATCH.
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": os.environ.get(
            "SPARK_GRAFT_ARROW_BATCH", "60000"
        ),
        # AQE: runtime coalesce, skew-join split, dynamic broadcast.
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        # Polygon/road-network build sides are small dims — broadcast them.
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        # 128MB splits: at 100 TB this is ~800k tasks, the right granularity.
        "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
        "spark.sql.session.timeZone": "UTC",
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"),
        "spark.ui.enabled": "false",
        "spark.sql.parquet.compression.codec": "zstd",
    }
    # Python-worker daemon shim (landlensdb_spark.pydaemon): removes two
    # measured per-TASK fixed costs in the stock worker loop — the
    # every-task importlib.invalidate_caches() zip-TOC re-parse (63-80ms/
    # task here) and the full-heap gc.collect() between reused tasks (see
    # pydaemon docstring). Enabled only when the package is importable by
    # the driver; the workers find it through the PYTHONPATH set below
    # (local) or an install shipped with the job (a real cluster).
    if not os.environ.get("SPARK_GRAFT_NO_DAEMON_SHIM"):
        try:
            import landlensdb_spark.pydaemon  # noqa: F401

            conf["spark.python.daemon.module"] = "landlensdb_spark.pydaemon"
        except ImportError:  # pragma: no cover - package not importable
            pass
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # workers do not see the driver's sys.path: put the directory this
    # package was loaded from first on theirs, ahead of any PYTHONPATH the
    # deployment gave them (spark.executorEnv.PYTHONPATH lands in here)
    env = spark.sparkContext.environment
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    rest = [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p and p != here]
    env["PYTHONPATH"] = os.pathsep.join([here, *rest])
    return spark


def local_frame(spark: SparkSession, rows, ddl: str) -> DataFrame:
    """Driver-local ``rows`` (tuples in ``ddl`` column order) as a DataFrame.

    The rows go over as one typed Arrow table, so the plan is a
    ``LocalRelation``: running it starts no Python task. A list passed to
    ``createDataFrame`` becomes an RDD of pickled rows instead, and every
    job over it starts a Python worker to unpickle them.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    schema = StructType.fromDDL(ddl)
    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows, strict=True)) or [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow, strict=True)],
        schema=arrow,
    )
    return spark.createDataFrame(table, schema)
