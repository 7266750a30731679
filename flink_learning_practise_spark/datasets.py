"""Table loaders for the driver-generated parquet test data.

Spark-side analog of the reference's source registration
(``flink_source_utils.py:130`` create_kafka_table_source_ddl /
``flink_table_api_utils.py:298`` register_temporary_table): each table
is a schema'd parquet scan registered as a temp view, so SQL and
DataFrame plans both get column pruning + predicate pushdown for free.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to broadcast at ANY scale factor (TPC-H
# fixes region=5 / nation=25 rows; customer/supplier/part grow with SF but
# stay tiny relative to lineitem — broadcastability decided by AQE + the
# explicit hints in plans/).
SMALL_DIMS = ("region", "nation")

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Lazy-PLAN memo: ``spark.read.parquet`` costs ~0.13 s of driver time
# per call (py4j round-trips + a parquet footer/schema read), and every
# registered query pays it 1-6x inside the bench's timed region. The
# memo stores the unevaluated DataFrame (a logical plan — no rows, no
# results; every action still scans the parquet files in full), keyed
# by (session, absolute path, mtime_ns, size) so a rewritten file or a
# fresh session can never serve a stale plan.
_PLAN_MEMO: dict[tuple, DataFrame] = {}


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """Scan one table. Lazy — nothing is read until an action runs.

    ``events.ts`` is written as parquet TIMESTAMP(NANOS), which Spark's
    vectorized reader rejects; we read nanos as long (runtime-settable
    conf, set here defensively so any caller-provided session works) and
    rebuild a microsecond timestamp JVM-side — lossless for µs-precision
    data, and the integer `div` keeps full precision (a double division
    would corrupt epoch-nanos > 2^53).
    """
    if table not in TABLES:
        raise ValueError(f"unknown table {table!r}; expected one of {TABLES}")
    path = os.path.abspath(os.path.join(sf_dir, f"{table}.parquet"))
    try:
        st = os.stat(path)
        key = (
            spark.sparkContext.applicationId,
            path,
            st.st_mtime_ns,
            st.st_size,
        )
    except OSError:
        key = None  # let spark.read raise its own error below
    if key is not None:
        memo = _PLAN_MEMO.get(key)
        if memo is not None:
            return memo
    if table == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    if table == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    if key is not None:
        _PLAN_MEMO[key] = df
    return df


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load(spark, sf_dir, t) for t in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every table as a temp view (for spark.sql plans)."""
    dfs = load_all(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
