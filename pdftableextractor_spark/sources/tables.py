"""Table readers (SURVEY.md §2.1).

Parquet in the sandbox; the same entry points take ``format='iceberg'`` on a
cluster with the Iceberg runtime — the engine never assumes anything beyond
``spark.read.format(...).load(...)``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

TESTDATA_TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()

# The ONE production-format seam: every table read/write in the engine and
# the jobs routes through read_path/write_table below, so running against
# Iceberg is this single line → "iceberg" (plus the Iceberg runtime jars +
# catalog conf on the cluster; paths become catalog table identifiers via
# the same .format(...).load/save calls). Nothing else in the engine
# assumes parquet.
FORMAT = "parquet"


def read_path(spark: SparkSession, path: str, fmt: str | None = None) -> DataFrame:
    """Format-seam table read (see FORMAT)."""
    return spark.read.format(fmt or FORMAT).load(path)


def write_table(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    fmt: str | None = None,
    **options: str,
) -> None:
    """Format-seam table write (see FORMAT). ``options`` pass through to the
    DataFrameWriter (e.g. partitionOverwriteMode='dynamic')."""
    w = df.write.mode(mode).format(fmt or FORMAT)
    for k, v in options.items():
        w = w.option(k, v)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.save(path)


def load_table(
    spark: SparkSession, sf_dir: str, name: str, fmt: str | None = None
) -> DataFrame:
    if (fmt or FORMAT) == "parquet":
        return spark.read.parquet(f"{sf_dir}/{name}.parquet")
    return spark.read.format(fmt or FORMAT).load(f"{sf_dir}/{name}")


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view (SQL entry point)."""
    for t in TESTDATA_TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)


def read_documents(
    spark: SparkSession, path: str, fmt: str | None = None
) -> DataFrame:
    """The interleaved documents corpus (doc_id, spans)."""
    return read_path(spark, path, fmt)
