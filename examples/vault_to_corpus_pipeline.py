#!/usr/bin/env python
"""Worked example: the two halves of the engine as ONE system —
CDC batches → raw vault → current curated view → declarative corpus
pipeline (C4 gates → PII scrub → exact/near dedup → DSIR selection →
byte-balanced shards).

The VAULT half gives the corpus an auditable ingestion story: document
edits arrive as CDC operations, the raw vault historizes every version
(idempotent re-loads, end-dating, delete tracking), and the corpus
pipeline consumes only the CURRENT view — so a re-crawled page updates
its text in place and a takedown (CDC delete) drops the document from
the next training shard without rewriting history. The corpus half is
the same YAML stage registry (``plans/pipeline.py``) the standalone
``declarative_corpus_pipeline`` example runs; composing them needs no
new operators — the vault read view is just a DataFrame.

Run: ``python examples/vault_to_corpus_pipeline.py [sf_dir]``
"""

from __future__ import annotations

import os
import sys
import tempfile
import uuid
from datetime import datetime

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F
from pyspark.sql import types as T

from pyspark_playground_spark import (
    BusinessVault,
    DataVaultConventions,
    DeclarativeVault,
    SourceSchema,
    VaultConfig,
    VaultMapping,
    get_spark,
)
from pyspark_playground_spark.plans import pipeline as pl
from pyspark_playground_spark.streaming import cdc as streaming

SCHEMA = """
{"name": "corpus", "tables": [
  {"name": "documents",
   "columns": [{"name": "DOC_ID", "type": "text"}, {"name": "TEXT", "type": "text"},
               {"name": "LANG", "type": "text"}, {"name": "SOURCE", "type": "text"}],
   "primaryKey": ["DOC_ID"], "foreignKeys": []}
]}
"""
MAPPING = """
hubs:
  - {name: HUB__DOCUMENTS, source_table: documents, business_keys: [DOC_ID]}
links: []
satellites:
  - {name: SAT__DOCUMENTS, hub: HUB__DOCUMENTS, source_table: documents}
"""

CDC_SCHEMA = T.StructType([
    T.StructField("OPERATION", T.StringType()),
    T.StructField("LOAD_DATE", T.TimestampType()),
    T.StructField("DOC_ID", T.StringType()),
    T.StructField("TEXT", T.StringType()),
    T.StructField("LANG", T.StringType()),
    T.StructField("SOURCE", T.StringType()),
])

UPDATE_MARKER = "freshly recrawled body with enough clean english words"


def main(sf_dir: str | None = None) -> None:
    if sf_dir is None:
        argv_dir = sys.argv[1] if len(sys.argv) > 1 else None
        sf_dir = (
            argv_dir
            if argv_dir
            and os.path.exists(os.path.join(argv_dir, "documents.parquet"))
            else "/root/testdata/sf0.001"
        )
    spark = get_spark(app_name="vault-to-corpus-pipeline")
    conv = DataVaultConventions()
    run = uuid.uuid4().hex[:8]
    config = VaultConfig(
        staging_prepared_database=f"corpus_staging_{run}",
        raw_database=f"corpus_raw_{run}",
        curated_database=f"corpus_curated_{run}",
        record_source="crawler-cdc",
    )
    work = tempfile.mkdtemp(prefix="vault-corpus-")

    # 1. declarative vault for the document source
    dv = DeclarativeVault(
        spark,
        SourceSchema.from_json(SCHEMA),
        VaultMapping.from_yaml(MAPPING),
        config,
    )
    dv.create_tables()

    # 2. two CDC batches: the initial crawl, then a re-crawl that updates
    # one document's text and takes another down entirely
    t1, t2 = datetime(2026, 2, 1), datetime(2026, 2, 2)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    crawl = docs.select(
        F.lit("create").alias("OPERATION"),
        F.lit(t1).alias("LOAD_DATE"),
        F.col("doc_id").cast("string").alias("DOC_ID"),
        F.col("text").alias("TEXT"),
        F.col("lang").alias("LANG"),
        F.col("source").alias("SOURCE"),
    )
    first = docs.orderBy("doc_id").limit(2).collect()
    updated_id, deleted_id = str(first[0]["doc_id"]), str(first[1]["doc_id"])
    recrawl = spark.createDataFrame(
        [
            ("update", t2, updated_id,
             (UPDATE_MARKER + " ") * 8 + "end of update.", "en", "src0"),
            ("delete", t2, deleted_id,
             first[1]["text"], first[1]["lang"], first[1]["source"]),
        ],
        CDC_SCHEMA,
    )
    in_dir = f"{work}/cdc"
    crawl.write.mode("append").parquet(in_dir)
    recrawl.write.mode("append").parquet(in_dir)

    # 3. stream both batches into the vault (file-source CDC, drained once)
    q = streaming.start_cdc_ingestion(
        streaming.read_cdc_file_stream(spark, in_dir, CDC_SCHEMA),
        streaming.declarative_stream_loader(dv, "documents"),
        checkpoint_dir=f"{work}/ckpt",
        available_now=True,
    )
    q.awaitTermination(300)

    # 4. the CURRENT corpus: historized hub read, keep the open-ended
    # (latest, not end-dated) version of each living document
    bv = BusinessVault(spark, config, conv)
    view = bv.read_data_from_hub("documents", ["TEXT", "LANG", "SOURCE"])
    # (the hub read already folds the effectivity satellite in: a CDC
    # delete end-dates the final version, so "open-ended" — the
    # END_OF_TIME sentinel — is exactly the living corpus)
    from pyspark_playground_spark.conventions import END_OF_TIME

    current = (
        view.filter(F.col(conv.load_end_date()) == F.lit(END_OF_TIME))
        .select(
            F.col("DOC_ID").cast("bigint").alias("doc_id"),
            F.col("TEXT").alias("text"),
            F.col("LANG").alias("lang"),
            F.col("SOURCE").alias("source"),
        )
        .withColumn("n_chars", F.length("text"))
    )

    n_current = current.count()
    assert current.filter(F.col("doc_id") == deleted_id).count() == 0, (
        "CDC delete must drop the document from the current view"
    )
    live_text = current.filter(F.col("doc_id") == updated_id).collect()
    assert len(live_text) == 1 and UPDATE_MARKER in live_text[0]["text"], (
        "CDC update must replace the document body in the current view"
    )

    # 5. the corpus half: same YAML stage registry, one lazy plan
    spec = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "vault_corpus_pipeline.yaml"
    )
    out = pl.run_pipeline(current, spec).cache()
    n_out = out.count()
    shards = {r["shard"]: r["n"] for r in
              out.groupBy("shard").agg(F.count(F.lit(1)).alias("n")).collect()}
    print(
        f"crawled {docs.count()} -> current {n_current} -> "
        f"training rows {n_out} across {len(shards)} shards: {shards}"
    )
    assert 0 < n_out <= 120 and len(shards) >= 1
    # the takedown survives the whole funnel
    assert out.filter(F.col("doc_id") == deleted_id).count() == 0
    out.unpersist()
    print("PIPELINE OK")


if __name__ == "__main__":
    main()
