#!/usr/bin/env python
"""End-to-end demo: declarative spec → streaming CDC ingest → business
vault → curated view → integrity report.

Run: ``python examples/end_to_end_pipeline.py`` (self-contained; writes to a
temp warehouse). This is the production flow a reference user runs —
every stage is the same code path the tests and the driver contract
exercise.
"""

from __future__ import annotations

import sys
import tempfile
from datetime import datetime
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F
from pyspark.sql import types as T

from pyspark_playground_spark import (
    BusinessVault,
    Curated,
    DataVaultConventions,
    DeclarativeVault,
    SourceSchema,
    VaultConfig,
    VaultMapping,
    get_spark,
)
from pyspark_playground_spark.operators import quality
from pyspark_playground_spark.operators.curated import FieldDefinition
from pyspark_playground_spark.streaming import cdc as streaming

SCHEMA = """
{"name": "shop", "tables": [
  {"name": "products",
   "columns": [{"name": "SKU", "type": "text"}, {"name": "TITLE", "type": "text"},
               {"name": "CATEGORY_ID", "type": "text"}, {"name": "PRICE", "type": "double"}],
   "primaryKey": ["SKU"], "foreignKeys": []}
]}
"""
MAPPING = """
hubs:
  - {name: HUB__PRODUCTS, source_table: products, business_keys: [SKU]}
links: []
satellites:
  - {name: SAT__PRODUCTS, hub: HUB__PRODUCTS, source_table: products}
"""

CDC_SCHEMA = T.StructType([
    T.StructField("OPERATION", T.StringType()),
    T.StructField("LOAD_DATE", T.TimestampType()),
    T.StructField("SKU", T.StringType()),
    T.StructField("TITLE", T.StringType()),
    T.StructField("CATEGORY_ID", T.StringType()),
    T.StructField("PRICE", T.DoubleType()),
])


def main(sf_dir: str | None = None) -> None:
    """``sf_dir`` is ignored: the demo builds its CDC batches in-process."""
    work = tempfile.mkdtemp(prefix="e2e-")
    spark = get_spark(app_name="e2e-demo", master="local[4]", shuffle_partitions=4,
                      warehouse_dir=f"{work}/warehouse")
    conv = DataVaultConventions()
    config = VaultConfig(
        staging_prepared_database="shop_staging",
        raw_database="shop_raw",
        curated_database="shop_curated",
        record_source="shop-cdc",
    )

    # 1. declarative vault from the spec
    dv = DeclarativeVault(
        spark, SourceSchema.from_json(SCHEMA), VaultMapping.from_yaml(MAPPING), config
    )
    print("created:", dv.create_tables())

    # 2. streaming CDC ingestion (two batches land as files, drained once)
    t1, t2 = datetime(2026, 1, 1), datetime(2026, 1, 2)
    in_dir = f"{work}/cdc"
    spark.createDataFrame(
        [("create", t1, "sku-1", "Espresso Machine", "cat-1", 349.0),
         ("create", t1, "sku-2", "Grinder", "cat-2", 129.0)], CDC_SCHEMA
    ).write.mode("append").parquet(in_dir)
    spark.createDataFrame(
        [("update", t2, "sku-1", "Espresso Machine Pro", "cat-1", 399.0),
         ("delete", t2, "sku-2", "Grinder", "cat-2", 129.0)], CDC_SCHEMA
    ).write.mode("append").parquet(in_dir)
    q = streaming.start_cdc_ingestion(
        streaming.read_cdc_file_stream(spark, in_dir, CDC_SCHEMA),
        streaming.declarative_stream_loader(dv, "products"),
        checkpoint_dir=f"{work}/ckpt",
        available_now=True,
    )
    q.awaitTermination(120)

    # 3. business vault: PIT + historized read view
    dv.vault.create_point_in_time_table_for_single_satellite("products", "products")
    bv = BusinessVault(spark, config)
    view = bv.read_data_from_hub("products", ["TITLE", "CATEGORY_ID", "PRICE"])
    print("--- historized product view ---")
    view.orderBy("SKU", conv.load_date()).show(truncate=False)

    # 4. curated: typelist enrichment + rename, written to the curated db
    categories = spark.createDataFrame(
        [("category", datetime(2026, 1, 1), "cat-1", "Coffee Makers"),
         ("category", datetime(2026, 1, 1), "cat-2", "Accessories")],
        f"`{conv.group()}` string, `{conv.load_date()}` timestamp, ID string, DESCRIPTION string",
    )
    categories.write.mode("overwrite").saveAsTable("shop_raw.REF__CATEGORIES_ACTIVE")
    curated = Curated(spark, config)
    curated.initialize_database()
    out = curated.map_source_table_to_curated(
        "products",
        ["TITLE", "CATEGORY_ID", "PRICE"],
        [
            FieldDefinition("SKU", "sku"),
            FieldDefinition("TITLE", "title"),
            FieldDefinition("CATEGORY_ID", "category", typelist="category"),
            FieldDefinition("PRICE", "price"),
        ],
        active_code_ref_table="CATEGORIES_ACTIVE",
    )
    print("--- curated view ---")
    out.orderBy("sku", conv.load_date()).show(truncate=False)

    # 5. integrity report
    report = quality.integrity_report(
        hubs={"HUB__PRODUCTS": spark.table("shop_raw.HUB__PRODUCTS")},
        satellites={
            "SAT__PRODUCTS": (
                spark.table("shop_raw.SAT__PRODUCTS"),
                spark.table("shop_raw.HUB__PRODUCTS"),
            )
        },
    )
    print("--- integrity ---")
    for r in report:
        print(f"{'OK ' if r.ok else 'FAIL'} {r.check:>20} {r.table}: {r.violations} violations")
    assert all(r.ok for r in report)
    print("PIPELINE OK")


if __name__ == "__main__":
    main()
