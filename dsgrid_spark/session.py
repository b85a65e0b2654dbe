"""SparkSession management.

Design stance (SURVEY.md §7.1): ONE long-lived session for the whole query
lifecycle — the reference restarts the JVM per dataset and passes parquet
paths between phases (dsgrid/project.py:279-283); we instead scope conf
changes on the live session and let AQE re-plan at runtime.

All defaults target scale: AQE on (runtime coalescing + skew-join
handling), broadcast threshold generous enough for dimension/mapping
tables, Arrow enabled for the few Pandas-UDF paths.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession

_DEFAULT_CONF = {
    # AQE replaces the reference's manual repartition/salting in most cases
    # (dsgrid/utils/dataset.py:695-758); keep salting only as escape hatch.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # r12 (guide §2.2): let AQE re-plan (and coalesce) the shuffles that
    # MATERIALIZE persisted plans. Off, every persist().count() of a
    # tiny aggregated table runs all spark.sql.shuffle.partitions reduce
    # tasks (measured: q30's eager cache fills at 32-33 tasks each for
    # 250-row tables; the slot dropped 11.0 -> 9.0 s with this on); at
    # corpus scale the same knob sizes cached-plan shuffles by bytes
    # instead of a fixed count. Trade-off: a cached plan's output
    # partitioning may change across materializations, which nothing in
    # this engine relies on (no zipPartitions over cached frames).
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    # dimension / mapping tables are tiny; let Spark broadcast aggressively
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Arrow for pandas_udf / applyInPandas paths (pipeline operators)
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # match the reference's parquet timestamp convention
    # (dsgrid/spark/functions.py:289-298)
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
    # read TIMESTAMP(NANOS) parquet columns as long (reference
    # dsgrid/spark/functions.py:289-298 sets the same)
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
}


def get_spark(app_name: str = "dsgrid-spark", master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or fetch) the engine session with scale-oriented defaults."""
    builder = SparkSession.builder.appName(app_name)
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    builder = builder.master(master)
    # In local mode the driver JVM IS the executor; the 1g default heap
    # starves 32 task threads and spills everything. Static confs, so set
    # at build time; no-ops when attaching to a live session.
    builder = builder.config(
        "spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "12g"))
    builder = builder.config(
        "spark.driver.maxResultSize",
        os.environ.get("SPARK_GRAFT_MAX_RESULT", "4g"))
    for k, v in _DEFAULT_CONF.items():
        builder = builder.config(k, v)
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    return builder.getOrCreate()


def apply_engine_conf(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine defaults to an externally-created session."""
    for k, v in _DEFAULT_CONF.items():
        if k.startswith("spark.sql."):
            try:
                spark.conf.set(k, v)
            except Exception:  # static confs on a live session — skip
                pass
    return spark


@contextmanager
def scoped_conf(spark: SparkSession, conf: dict):
    """Scope runtime-settable confs without a session restart.

    The reference restarts the whole session to apply
    ``spark_conf_per_dataset`` (dsgrid/project.py:279-283); runtime confs
    (shuffle partitions, AQE knobs, session tz) don't need that. Note the
    scope only affects *executions* happening inside it — pair with an
    eager materialization (cache write) for per-dataset confs.
    """
    prior: dict[str, str | None] = {}
    for k, v in conf.items():
        try:
            prior[k] = spark.conf.get(k)
        except Exception:
            prior[k] = None
        spark.conf.set(k, str(v))
    try:
        yield spark
    finally:
        for k, v in prior.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def ensure_min_partitions(df, min_partitions: int | None = None):
    """Round-robin repartition ``df`` iff it has fewer partitions than the
    session's core count (``sparkContext.defaultParallelism`` by default).

    Heavy per-row expression work (minhash/simhash folds, shingle
    construction) inherits the scan's partitioning. A small input — one
    parquet file, a broadcast-semi-join survivor set — arrives as 1-2
    partitions, so a 5 s fold runs on one core while 31 idle. On a real
    corpus the scan already has thousands of splits and this is a no-op,
    which is exactly the right scale behavior: pay a tiny shuffle only
    when the cluster is wider than the data.

    Checking ``rdd.getNumPartitions()`` converts the plan but launches no
    job.
    """
    if min_partitions is None:
        min_partitions = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= min_partitions:
        return df
    return df.repartition(min_partitions)


def one_slice_df(spark: SparkSession, rows, schema):
    """One-partition DataFrame of a SMALL driver-side row list (probe and
    query frames, centroid and codebook broadcasts, meta and batch-log
    rows) — bounded by k, batch count or vocabulary, never by data.

    The rows travel as one Arrow table (``createDataFrame(pyarrow.Table,
    schema)``), which Spark plans as a ``LocalRelation``: no Spark job
    to build it, no Python worker to scan it, no SQL literal tree for
    Catalyst to re-analyse on every action, and no size cap. The
    ``coalesce(1)`` keeps the single slice a single-file write wants
    (a LocalRelation otherwise scans as up to ``defaultParallelism``
    partitions).

    Returns the rows and schema (nullability included) that
    ``createDataFrame`` over one RDD slice returns, and accepts what it
    accepts plus ``int`` values in float fields. Rows Arrow cannot
    convert exactly take that one-slice RDD path instead, and fail or
    succeed there: a value whose Python type is not the field's (a
    ``str`` or ``bool`` into an int), an integer overflowing its field,
    a NULL in a non-nullable field, and types Arrow localizes
    differently (timestamps, dates) or that have no mapping here
    (decimal, map, struct).
    """
    from pyspark.sql.types import StructType

    rows = list(rows)
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    table = (_arrow_table(rows, schema) if isinstance(schema, StructType)
             else None)
    if table is None:
        return spark.createDataFrame(
            spark.sparkContext.parallelize(rows, 1), schema)
    return spark.createDataFrame(table, schema).coalesce(1)


def _arrow_table(rows: list, schema):
    """``rows`` as a pyarrow table of ``schema``, or None when a value
    has no exact Arrow form (see :func:`one_slice_df`)."""
    import pyarrow as pa
    from pyspark.sql.types import (ArrayType, BinaryType, BooleanType,
                                   ByteType, DoubleType, FloatType,
                                   IntegerType, LongType, ShortType,
                                   StringType)

    from dsgrid_spark.filesystem import arrow_schema

    pa_schema = arrow_schema(schema)
    if pa_schema is None:
        return None
    # the Python types createDataFrame's verifier takes per field type
    # (plus ints into floats); bool, an int subclass, only into booleans
    accepts = {BooleanType: bool, ByteType: int, ShortType: int,
               IntegerType: int, LongType: int,
               FloatType: (int, float), DoubleType: (int, float),
               StringType: str, BinaryType: (bytes, bytearray)}

    def exact(v, dt, nullable: bool) -> bool:
        if v is None:
            return nullable
        if isinstance(dt, ArrayType):
            return isinstance(v, (list, tuple)) and all(
                exact(x, dt.elementType, dt.containsNull) for x in v)
        return isinstance(v, accepts[type(dt)]) and (
            isinstance(dt, BooleanType) or not isinstance(v, bool))

    fields = schema.fields
    if not all(isinstance(r, (tuple, list)) and len(r) == len(fields)
               and all(exact(v, f.dataType, f.nullable)
                       for v, f in zip(r, fields)) for r in rows):
        return None
    try:
        return pa.Table.from_arrays(
            [pa.array([r[i] for r in rows], type=t)
             for i, t in enumerate(pa_schema.types)], schema=pa_schema)
    except (pa.ArrowException, OverflowError):  # an int overflowing its field
        return None


@contextmanager
def session_time_zone(spark: SparkSession, tz: str):
    """Scope ``spark.sql.session.timeZone`` without leaking across queries.

    The reference restarts/re-confs the session around queries so that
    ``hour()``/grouping is deterministic in the project time zone
    (dsgrid/query/query_submitter.py:697-727). A scoped conf on one live
    session achieves the same.
    """
    prior = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", tz)
    try:
        yield spark
    finally:
        spark.conf.set("spark.sql.session.timeZone", prior)
