"""Catalog-table sources & sinks (SURVEY.md §2.1 S1-S12).

Reference parity:
- create database (RawVault.py:187-192)
- idempotent DDL from a declared schema (RawVault.py:1045-1055: empty DF +
  ``mode='ignore'`` saveAsTable)
- append/overwrite writes (RawVault.py:1057-1075)

Every vault table is unbucketed parquet: the reference's fixed 5-bucket
layout (``bucketBy`` on every write, SURVEY.md S7/X3) is deliberately not
ported (SURVEY.md:392-395). It saves the table side's shuffle only when
``spark.sql.shuffle.partitions`` is below the bucket count: an anti-join of
a fresh frame against a 5-bucket table (AQE on, broadcast off) plans 2
exchanges at 4 shuffle partitions, but at 8 or 200 both sides are shuffled
anyway. The matching ``repartition(5, keys)`` before each anti-join capped
every append at 5 tasks at any scale. Spark and AQE choose the
partitioning instead, as for every other operator.

Delta Lake is not available in this environment, so tables are
parquet-format managed tables in the session (Derby) metastore.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession

from pyspark_playground_spark.conventions import ColumnDefinition, to_struct_type


def create_database(spark: SparkSession, name: str) -> None:
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {name}")


def create_table(
    spark: SparkSession,
    database: str,
    name: str,
    columns: Sequence[ColumnDefinition],
) -> None:
    """Create-if-not-exists from a declared schema (RawVault.py:1045-1055).

    Pure catalog DDL (``CREATE TABLE IF NOT EXISTS``): no empty-DataFrame
    write job, no files — a wide catalog (the reference's production
    driver creates ~130 vault tables) is metadata-only work, on a real
    cluster as in tests.
    """
    schema = to_struct_type(list(columns))
    cols_ddl = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in schema.fields
    )
    spark.sql(
        f"CREATE TABLE IF NOT EXISTS {database}.`{name}` ({cols_ddl}) USING parquet"
    )


def write_table(df: DataFrame, database: str, name: str, *, mode: str = "append") -> None:
    """Append/overwrite sink (RawVault.py:1057-1075)."""
    df.write.format("parquet").mode(mode).saveAsTable(f"{database}.{name}")
