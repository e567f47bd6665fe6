"""Source-format readers — explicit StructType always, never
inferSchema (SURVEY §1.3: the reference declares all schemas).

Parquet is the engine's native format; CSV/JSON cover seed lists and
document feeds arriving from outside (the reference's RSS/HTML inputs
generalized). Every reader pushes projection+filters to the scan the
same way (format-agnostic Catalyst path).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

SEEDS_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("priority", T.DoubleType(), True),
    ]
)

DOCUMENTS_FLAT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("source", T.StringType(), True),
        T.StructField("n_chars", T.LongType(), True),
    ]
)


def read_seeds_csv(spark: SparkSession, path: str) -> DataFrame:
    """Seed list CSV (url, priority); missing priority → 1.0."""
    from pyspark.sql import functions as F

    df = spark.read.schema(SEEDS_SCHEMA).option("header", "true").csv(path)
    return df.select("url", F.coalesce("priority", F.lit(1.0)).alias("priority"))


def read_documents_jsonl(spark: SparkSession, path: str) -> DataFrame:
    """Flat documents as JSON lines with a declared schema."""
    return spark.read.schema(DOCUMENTS_FLAT_SCHEMA).json(path)


def read_documents_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC with the same declared schema (columnar alternative for
    warehouses standardized on ORC; identical Catalyst pushdown path)."""
    return spark.read.schema(DOCUMENTS_FLAT_SCHEMA).orc(path)


def write_partitioned(df: DataFrame, path: str,
                      partition_cols: list[str]) -> None:
    """Hive-style partitioned layout (``col=value`` directories).

    This is the 100 TB table convention: a filter on a partition column
    prunes whole directories at PLANNING time (PartitionFilters in the
    scan, asserted in tests/test_plans.py) — the scan never opens,
    lists, or footers the skipped partitions. Choose low-cardinality
    columns (date, source kind); high-cardinality partitioning makes
    millions of tiny files and kills the listing instead."""
    df.write.partitionBy(*partition_cols).mode("overwrite").parquet(path)
