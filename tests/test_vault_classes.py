"""Table-backed BusinessVault + Curated classes (reference
BusinessVault.py:24-341, Curated.py:72-317) over a small CDC'd vault."""

from __future__ import annotations

import hashlib
from datetime import datetime

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pyspark_playground_spark.conventions import (
    END_OF_TIME,
    ColumnDefinition,
    DataVaultConventions,
    VaultConfig,
)
from pyspark_playground_spark.operators import raw_vault as rv
from pyspark_playground_spark.operators.curated import FieldDefinition
from pyspark_playground_spark.operators.vault import BusinessVault, Curated, RawVault

C = DataVaultConventions()
T1, T2, T3 = datetime(2026, 8, 1), datetime(2026, 8, 2), datetime(2026, 8, 3)


def _md5(s: str) -> str:
    return hashlib.md5(s.encode()).hexdigest()


@pytest.fixture(scope="module")
def vaults(spark):
    spark.sql("DROP DATABASE IF EXISTS bvc_stg CASCADE")
    spark.sql("DROP DATABASE IF EXISTS bvc_raw CASCADE")
    spark.sql("DROP DATABASE IF EXISTS bvc_cur CASCADE")
    config = VaultConfig(
        staging_prepared_database="bvc_stg",
        raw_database="bvc_raw",
        curated_database="bvc_cur",
        record_source="crm",
    )
    raw = RawVault(spark, config)
    raw.initialize_database()
    raw.create_hub("accounts", [ColumnDefinition("AccountID", T.StringType(), False)])
    raw.create_satellite(
        "accounts",
        [
            ColumnDefinition("NAME", T.StringType()),
            ColumnDefinition("TIER", T.StringType()),
            ColumnDefinition("OwnerUserID", T.StringType()),
        ],
    )

    schema = T.StructType([
        T.StructField("OPERATION", T.StringType()),
        T.StructField("LOAD_DATE", T.TimestampType()),
        T.StructField("AccountID", T.StringType()),
        T.StructField("NAME", T.StringType()),
        T.StructField("TIER", T.StringType()),
        T.StructField("OwnerUserID", T.StringType()),
    ])
    batches = [
        [("create", T1, "a1", "Acme", "1", "u1"),
         ("create", T1, "a2", "Globex", "2", "u2")],
        [("update", T2, "a1", "Acme Corp", "2", "u1"),
         ("delete", T2, "a2", "Globex", "2", "u2")],
    ]
    for i, rows in enumerate(batches):
        staged = rv.prepare_staging(
            spark.createDataFrame(rows, schema),
            load_date_column="LOAD_DATE",
            operation_column="OPERATION",
            record_source="crm",
            hkey_columns=["AccountID"],
        )
        raw.load_hub(
            staged, "accounts", ["AccountID"],
            satellites={"accounts": ["NAME", "TIER", "OwnerUserID"]},
            load_ts=datetime(2026, 9, 1, i),
        )

    # code-reference table: account tiers
    raw.create_code_reference_table(
        "typelists",
        ColumnDefinition("ID", T.StringType(), False),
        [ColumnDefinition("DESCRIPTION", T.StringType())],
    )
    tl = spark.createDataFrame(
        [("snapshot", T1, "1", "Bronze"), ("snapshot", T1, "2", "Gold"),
         ("snapshot", T2, "2", "Platinum")],
        "OPERATION string, LOAD_DATE timestamp, ID string, DESCRIPTION string",
    )
    staged_tl = rv.prepare_staging(
        tl, load_date_column="LOAD_DATE", operation_column="OPERATION",
        record_source="crm",
    )
    raw.load_code_references(staged_tl, "typelists", "tier", "ID", ["DESCRIPTION"])

    return config, raw, BusinessVault(spark, config), Curated(spark, config)


def test_pit_table_materialization(spark, vaults):
    config, raw, bv, _ = vaults
    table = raw.create_point_in_time_table_for_single_satellite("accounts", "accounts")
    assert table == "PIT__ACCOUNTS"
    pit = spark.table(f"{config.raw_database}.{table}")
    rows = {(r[C.hkey()], r[C.load_date()]): r[C.load_end_date()] for r in pit.collect()}
    # a1: version T1 closed at T2, version T2 open
    assert rows[(_md5("a1"), T1)] == T2
    assert rows[(_md5("a1"), T2)] == END_OF_TIME
    # a2: single version T1, closed by its delete at T2
    assert rows[(_md5("a2"), T1)] == T2


def test_active_code_reference_table(spark, vaults):
    config, raw, _, _ = vaults
    table = raw.create_active_code_reference_table("typelists", "typelists_active")
    active = spark.table(f"{config.raw_database}.{table}")
    rows = {r["ID"]: r["DESCRIPTION"] for r in active.collect()}
    assert rows == {"1": "Bronze", "2": "Platinum"}  # latest version wins


def test_read_data_from_hub(spark, vaults):
    _, _, bv, _ = vaults
    view = bv.read_data_from_hub("accounts", ["NAME", "TIER"])
    latest = {
        r["AccountID"]: r["NAME"]
        for r in view.filter(F.col(C.load_end_date()) == END_OF_TIME).collect()
    }
    assert latest["a1"] == "Acme Corp"
    # a2 is deleted: its last version was closed, so no open interval
    assert "a2" not in latest


def test_curated_write(spark, vaults):
    config, _, _, cur = vaults
    cur.initialize_database()
    users = spark.createDataFrame(
        [("u1", "Pat Lee"), ("u2", "Sam Wu")], "ID string, NAME string"
    )
    out = cur.map_source_table_to_curated(
        "cc_accounts",
        ["NAME", "TIER", "OwnerUserID"],
        [
            FieldDefinition("AccountID", "account_id"),
            FieldDefinition("NAME", "name"),
            FieldDefinition("TIER", "tier", typelist="tier"),
            FieldDefinition("OwnerUserID", "owner"),
        ],
        active_code_ref_table="typelists_active",
        users=users,
    )
    assert spark.catalog.tableExists(f"{config.curated_database}.accounts")
    latest = {
        r["account_id"]: r
        for r in out.filter(F.col(C.load_end_date()) == END_OF_TIME).collect()
    }
    assert latest["a1"]["tier"] == "Platinum"  # typelist code → description
    assert latest["a1"]["owner"] == "Pat Lee"  # *UserID → user name
    assert latest["a1"]["name"] == "Acme Corp"


def test_incremental_pit_table_update(spark, vaults):
    """Table-backed incremental PIT: only touched keys are refreshed; the
    result equals a full rebuild of the PIT table."""
    from pyspark.sql import functions as F

    config, raw, _, _ = vaults
    raw.create_point_in_time_table_for_single_satellite("accounts", "accounts")
    full_before = spark.table(f"{config.raw_database}.PIT__ACCOUNTS").collect()

    touched = spark.createDataFrame([(hashlib.md5(b"a1").hexdigest(),)], "hkey string")
    raw.update_point_in_time_table_for_batch("accounts", "accounts", touched)
    after = spark.table(f"{config.raw_database}.PIT__ACCOUNTS").collect()
    assert sorted(map(tuple, after)) == sorted(map(tuple, full_before))
