"""Table loaders for the driver-provided test tables (TESTDATA.md).

``format="parquet"`` (the sandbox default) reads ``{sf_dir}/{name}.parquet``;
``format="iceberg"`` reads the catalog table ``{sf_dir}.{name}`` (north-rule
production path: an Iceberg catalog namespace stands in for the sf_dir).
The query code is identical either way — Catalyst pushes filters/column
pruning into both scans, and Iceberg additionally prunes on partition
transforms and file-level column stats.  The sandbox has no Iceberg jars,
so the iceberg branch is exercised by a config-level test (catalog conf
present -> correct table identifier requested) rather than a real read.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

DEFAULT_SF_DIR = "/root/testdata/sf0.001"


def load_table(spark: SparkSession, name: str, sf_dir: str = DEFAULT_SF_DIR,
               format: str = "parquet") -> DataFrame:
    if name not in TABLES:
        raise ValueError(f"unknown table {name}")
    if format == "parquet":
        return spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if format == "iceberg":
        # sf_dir doubles as the catalog namespace (e.g. "warehouse.cc") —
        # requires spark.sql.catalog.<cat> conf + iceberg-spark-runtime on
        # the classpath (spark-submit --packages at deploy time)
        return spark.read.format("iceberg").load(f"{sf_dir}.{name}")
    raise ValueError(f"unknown format {format!r} (parquet|iceberg)")


def load_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR, names=TABLES,
                format: str = "parquet") -> dict:
    return {n: load_table(spark, n, sf_dir, format) for n in names}
