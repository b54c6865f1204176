"""Table loading for the driver's synthetic lake (TESTDATA.md).

The reference reads CSV with pandas (``dags/GetData.py:32-35``) and
binary PDFs with requests (``dags/get_data/budgetEco.py:63-66``);
the engine's canonical storage is parquet read through Spark's
vectorized reader, which gives column pruning + predicate pushdown
for free. On a cluster the same call reads ``hdfs://`` / ``s3a://``
paths unchanged.
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

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one lake table. Timezone pinned to UTC for deterministic
    timestamp rendering (matches the DuckDB oracle).

    The driver's fixtures carry TIMESTAMP(NANOS) parquet columns,
    which Spark has no native type for: under ``nanosAsLong``
    compatibility they surface as BIGINT epoch-nanos, which we convert
    to TIMESTAMP_NTZ (integer division keeps full precision; a double
    path would lose sub-second bits above 2^53)."""
    from data_lake_project_spark.session import tune_for_scale

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    tune_for_scale(spark)
    path = f"{sf_dir}/{name}.parquet"
    df = spark.read.parquet(path)
    for col, is_ns in _nano_columns(path).items():
        if is_ns and dict(df.dtypes).get(col) == "bigint":
            df = df.withColumn(
                col,
                F.timestamp_micros(F.expr(f"`{col}` div 1000")).cast(
                    "timestamp_ntz"
                ),
            )
    return df


def _nano_columns(path: str) -> dict[str, bool]:
    """Map column -> True when the parquet logical type is timestamp[ns].

    Footer-only read; on object stores Spark-side schema evolution
    would replace this (test fixtures are local files).
    """
    try:
        import pyarrow.parquet as pq

        schema = pq.read_schema(path)
        return {
            f.name: str(f.type).startswith("timestamp[ns")
            for f in schema
        }
    except Exception:  # pragma: no cover - non-local paths
        return {}
