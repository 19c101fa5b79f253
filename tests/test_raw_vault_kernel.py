"""Kernel-level raw-vault tests on small in-memory CDC batches.

Scenario mirrors the reference's golden CDC test structure
(cdc/test_datavault.py): a movies-style source with interleaved
CREATE/UPDATE/DELETE/SNAPSHOT ops across batches.
"""

import hashlib
import re
from datetime import datetime

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pyspark_playground_spark.conventions import (
    ColumnDefinition,
    DataVaultConventions,
    LinkedHubDefinition,
    Operation,
    VaultConfig,
)
from pyspark_playground_spark.functions.hashing import hash_key
from pyspark_playground_spark.operators import raw_vault as rv
from pyspark_playground_spark.operators.vault import RawVault

C = DataVaultConventions()

T0 = datetime(2026, 1, 1, 12, 0, 0)
T1 = datetime(2026, 1, 2, 12, 0, 0)
T2 = datetime(2026, 1, 2, 15, 17, 0)


def _staged(spark, rows):
    df = spark.createDataFrame(
        rows, "OPERATION int, LOAD_DATE timestamp, PublicID string, NAME string, RATING int"
    )
    return rv.prepare_staging(
        df,
        load_date_column="LOAD_DATE",
        operation_column="OPERATION",
        record_source="test",
        hkey_columns=["PublicID"],
    )


def test_prepare_staging_columns(spark):
    staged = _staged(spark, [(Operation.CREATE, T0, "m1", "Movie 1", 5)])
    assert C.hkey() in staged.columns
    assert C.load_date() in staged.columns
    assert C.operation() in staged.columns
    assert C.record_source() in staged.columns
    row = staged.first()
    assert row[C.operation()] == Operation.CREATE
    assert row[C.record_source()] == "test"


def test_hub_rows_dedup_and_anti_join(spark):
    b1 = _staged(
        spark,
        [
            (Operation.CREATE, T0, "m1", "Movie 1", 5),
            (Operation.CREATE, T0, "m2", "Movie 2", 7),
            (Operation.UPDATE, T1, "m1", "Movie 1x", 6),
        ],
    )
    hub1 = rv.hub_rows(b1, ["PublicID"], load_ts=T1)
    assert hub1.count() == 2  # m1 deduped

    b2 = _staged(
        spark,
        [
            (Operation.CREATE, T2, "m3", "Movie 3", 8),
            (Operation.UPDATE, T2, "m1", "Movie 1y", 6),
        ],
    )
    hub2 = rv.hub_rows(b2, ["PublicID"], existing=hub1, load_ts=T2)
    rows = hub2.collect()
    assert len(rows) == 1 and rows[0]["PublicID"] == "m3"


def test_hub_rows_null_bkey_collision_keeps_one_row_per_hkey(spark):
    """VERDICT r11 item 4: ``concat_ws`` skips nulls, so the distinct
    business-key tuples ('a', NULL) and (NULL, 'a') hash to the SAME
    hkey. The hub is keyed on hkey — the loader must emit ONE row for
    it (the reference's dropDuplicates semantics), not one per tuple
    (what an unconditional distinct() over (hkey, *bkeys) emitted)."""
    df = spark.createDataFrame(
        [(Operation.CREATE, T0, "a", None), (Operation.CREATE, T0, None, "a")],
        "OPERATION int, LOAD_DATE timestamp, A string, B string",
    )
    # no hkey_columns: hub_rows computes the hkey itself (the only
    # construction where the r11 distinct() fast path could fire)
    staged = rv.prepare_staging(
        df,
        load_date_column="LOAD_DATE",
        operation_column="OPERATION",
        record_source="test",
    )
    hub = rv.hub_rows(staged, ["A", "B"], load_ts=T1, record_source="test")
    rows = hub.collect()
    assert len(rows) == 1, (
        f"null-collapsed bkey tuples must dedup to one hub row per hkey, "
        f"got {len(rows)}"
    )


def _assert_no_fixed_layout(frame):
    """One layout for every append: no repartition before the anti-join and
    no exchange with the reference's fixed 5 partitions (the suite runs at
    4 shuffle partitions)."""
    qe = frame._jdf.queryExecution()
    assert "RepartitionByExpression" not in qe.analyzed().toString()
    plan = qe.executedPlan().toString()
    assert not re.search(r"hashpartitioning\([^()]*, 5\)", plan), plan


def _hub_frame_from_kernel(df, monkeypatch):
    # no hkey_columns: hub_rows computes the hkey from the business keys
    staged = rv.prepare_staging(
        df,
        load_date_column="LOAD_DATE",
        operation_column="OPERATION",
        record_source="test",
    )
    return rv.hub_rows(staged, ["ck"], load_ts=T1, record_source="test")


def _hub_frame_from_load_hub(df, monkeypatch):
    # the write path: a frame staged with hkey_columns (as
    # DeclarativeVault.stage_batch does) through RawVault.load_hub, with
    # the hub frame captured where load_hub hands it to _append
    spark = df.sparkSession
    spark.sql("DROP DATABASE IF EXISTS rvk_stg CASCADE")
    spark.sql("DROP DATABASE IF EXISTS rvk_raw CASCADE")
    vault = RawVault(
        spark,
        VaultConfig(
            staging_prepared_database="rvk_stg", raw_database="rvk_raw",
            record_source="test",
        ),
    )
    vault.initialize_database()
    vault.create_hub("customer", [ColumnDefinition("ck", T.LongType(), False)])
    appended = {}
    monkeypatch.setattr(
        RawVault, "_append",
        lambda self, frame, table: appended.__setitem__(table, frame),
    )
    staged = rv.prepare_staging(
        df,
        load_date_column="LOAD_DATE",
        operation_column="OPERATION",
        record_source="test",
        hkey_columns=["ck"],
    )
    vault.load_hub(staged, "customer", ["ck"], load_ts=T1)
    return appended[C.hub_name("customer")]


@pytest.mark.parametrize(
    "hub_frame",
    [_hub_frame_from_kernel, _hub_frame_from_load_hub],
    ids=["kernel", "load_hub"],
)
def test_hub_rows_injective_bkey_keeps_hash_aggregate_plan(spark, monkeypatch, hub_frame):
    """The hub dedup is one key-only aggregate on both the kernel and the
    load_hub write path: HashAggregate over the business key alone, with
    LOAD_DATE and RECORD_SOURCE attached as constants after it."""
    df = spark.createDataFrame(
        [(Operation.CREATE, T0, 1), (Operation.CREATE, T0, 1), (Operation.CREATE, T0, 2)],
        "OPERATION int, LOAD_DATE timestamp, ck bigint",
    )
    hub = hub_frame(df, monkeypatch)
    rows = hub.collect()
    assert sorted(r["ck"] for r in rows) == [1, 2]
    assert {(r[C.load_date()], r[C.record_source()]) for r in rows} == {(T1, "test")}
    plan = hub._jdf.queryExecution().executedPlan().toString()
    assert "SortAggregate" not in plan, plan
    # first() only over the business key, never over the batch constants
    assert all(a.startswith("ck#") for a in re.findall(r"first\(([^,)]*)", plan)), plan
    _assert_no_fixed_layout(hub)


def test_hub_hkey_is_md5_of_business_key(spark):
    import hashlib

    hub = rv.hub_rows(
        _staged(spark, [(Operation.CREATE, T0, "m1", "Movie 1", 5)]),
        ["PublicID"],
        load_ts=T0,
    )
    assert hub.first()[C.hkey()] == hashlib.md5(b"m1").hexdigest()


def test_satellite_rows_versions_and_idempotency(spark):
    staged = _staged(
        spark,
        [
            (Operation.CREATE, T0, "m1", "Movie 1", 5),
            (Operation.UPDATE, T1, "m1", "Movie 1x", 6),
        ],
    )
    sat1 = rv.satellite_rows(staged, ["NAME", "RATING"])
    assert sat1.count() == 2  # two versions, keyed by event time
    # re-load the same batch → nothing new
    again = rv.satellite_rows(staged, ["NAME", "RATING"], existing=sat1)
    assert again.count() == 0
    # satellite LOAD_DATE is event time, not batch time
    dates = {r[C.load_date()] for r in sat1.collect()}
    assert dates == {T0, T1}


def test_effectivity_rows_deleted_flag(spark):
    staged = _staged(
        spark,
        [
            (Operation.CREATE, T0, "m1", "Movie 1", 5),
            (Operation.DELETE, T1, "m1", "Movie 1", 5),
            (Operation.UPDATE, T1, "m2", "x", 1),  # UPDATE not in effectivity ops
        ],
    )
    eff = rv.effectivity_rows(staged)
    rows = {(r[C.load_date()], r[C.deleted()]) for r in eff.collect()}
    assert rows == {(T0, False), (T1, True)}


def test_effectivity_rows_same_timestamp_tie_prefers_delete(spark):
    """CREATE and DELETE for one key at the same event time must resolve
    deterministically — DELETE wins (ADVICE: dropDuplicates kept an
    arbitrary row)."""
    staged = _staged(
        spark,
        [
            (Operation.CREATE, T0, "m1", "Movie 1", 5),
            (Operation.DELETE, T0, "m1", "Movie 1", 5),
        ],
    )
    for _ in range(3):  # stable across re-evaluations
        rows = rv.effectivity_rows(staged).collect()
        assert len(rows) == 1
        assert rows[0][C.deleted()] is True


def _md5(text):
    return hashlib.md5(text.encode()).hexdigest()


@pytest.mark.parametrize("mapped", [False, True], ids=["direct", "mapped"])
def test_multilink_null_fk_gives_null_member_hkey(spark, mapped):
    """A null FK resolves to a null member hkey, with or without a mapping,
    and the link hkey hashes the other members (``concat_ws`` skips the
    null) — what dv_multilink_lineitem's DuckDB oracle computes."""
    rows = [
        (Operation.CREATE, T0, ok, None if ok % 10 == 0 else ok % 7, ok % 3)
        for ok in range(1, 51)
    ]
    staged = rv.prepare_staging(
        spark.createDataFrame(
            rows,
            "OPERATION int, LOAD_DATE timestamp, l_orderkey bigint, "
            "l_partkey bigint, l_suppkey bigint",
        ),
        load_date_column="LOAD_DATE", operation_column="OPERATION", record_source="t",
    )
    members = [
        LinkedHubDefinition("orders", "l_orderkey"),
        LinkedHubDefinition("part", "l_partkey"),
        LinkedHubDefinition("supplier", "l_suppkey"),
    ]
    resolutions = None
    if mapped:
        # staged part rows plus hub rows: every key twice
        parts = spark.range(7).select(
            F.col("id").alias("p_partkey"),
            hash_key(["id"]).alias(C.hkey()),
        )
        resolutions = {"part": parts.unionByName(parts)}
    links, _ = rv.multilink_rows(staged, members, load_ts=T1, resolutions=resolutions)
    got = {
        (r["$__HKEY_ORDERS"], r["$__HKEY_PART"], r["$__HKEY_SUPPLIER"]): r[C.hkey()]
        for r in links.collect()
    }
    want = {}
    for _, _, ok, pk, sk in rows:
        members_hk = [_md5(str(ok)), None if pk is None else _md5(str(pk)), _md5(str(sk))]
        want[tuple(members_hk)] = _md5(",".join(h for h in members_hk if h is not None))
    assert got == want
    assert sum(pk is None for _, pk, _ in got) == 5


def test_declarative_multilink_plan_has_no_forced_broadcast(spark, sf_dir, monkeypatch):
    """FK resolution emits no join hint. On a parquet-backed bulk batch at
    sf0.001 the size statistics still pick broadcast joins, and each mapped
    member is deduplicated once (one partial + one final SortAggregate:
    first() over the string hkey)."""
    from pyspark_playground_spark.plans.declarative import (
        DeclarativeVault,
        SourceSchema,
        VaultMapping,
    )

    hubs = {"orders": "o_orderkey", "part": "p_partkey", "supplier": "s_suppkey"}
    batch = {
        t: spark.read.parquet(f"{sf_dir}/{t}.parquet").select(
            F.lit("snapshot").alias("OPERATION"), F.lit(T0).alias("LOAD_DATE"), "*"
        )
        for t in [*hubs, "lineitem"]
    }
    schema = SourceSchema.from_dict({"tables": [
        {"name": t, "columns": [{"name": c, "type": d} for c, d in df.dtypes],
         "primaryKey": [hubs.get(t, "l_orderkey")]}
        for t, df in batch.items()
    ]})
    fks = {"orders": "l_orderkey", "part": "l_partkey", "supplier": "l_suppkey"}
    mapping = VaultMapping.from_dict({
        "hubs": [{"name": t, "source_table": t, "business_keys": [k]} for t, k in hubs.items()],
        "links": [{"name": "LNK__LINEITEM", "source_table": "lineitem", "to": [
            {"source_column": fks[t], "source_foreign_key": {"table": t, "column": k}}
            for t, k in hubs.items()
        ]}],
    })
    spark.sql("DROP DATABASE IF EXISTS rvk_plan_stg CASCADE")
    spark.sql("DROP DATABASE IF EXISTS rvk_plan_raw CASCADE")
    dv = DeclarativeVault(spark, schema, mapping, VaultConfig(
        staging_prepared_database="rvk_plan_stg", raw_database="rvk_plan_raw",
    ))
    dv.create_tables()
    appended = {}
    append = RawVault._append

    def capture(self, frame, table):
        appended[table] = frame
        append(self, frame, table)

    monkeypatch.setattr(RawVault, "_append", capture)
    dv.load_batch(batch, load_ts=T1)

    link = appended["LNK__LINEITEM"]
    assert "ResolvedHint" not in link._jdf.queryExecution().analyzed().toString()
    plan = link._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("SortAggregate") == 2 * len(hubs), plan
    _assert_no_fixed_layout(link)
    assert spark.table("rvk_plan_raw.LNK__LINEITEM").count() == (
        batch["lineitem"].select(*fks.values()).distinct().count()
    )


def test_link_rows_with_delete_detection(spark):
    # movies with DIRECTOR_ID FK; director business key hashed directly
    schema = "OPERATION int, LOAD_DATE timestamp, PublicID string, DIRECTOR_ID string"
    b1 = spark.createDataFrame(
        [
            (Operation.CREATE, T0, "m1", "d1"),
            (Operation.CREATE, T0, "m2", "d2"),
        ],
        schema,
    )
    s1 = rv.prepare_staging(
        b1, load_date_column="LOAD_DATE", operation_column="OPERATION",
        record_source="test", hkey_columns=["PublicID"],
    )
    links1, eff1 = rv.link_rows(
        s1, from_name="movies", to_name="directors", fk_column="DIRECTOR_ID", load_ts=T0
    )
    links1 = links1.cache()
    assert links1.count() == 2
    assert eff1.filter(F.col(C.deleted())).count() == 0

    # batch 2: m1 re-pointed d1→d2, m2 FK nulled
    b2 = spark.createDataFrame(
        [
            (Operation.UPDATE, T1, "m1", "d2"),
            (Operation.UPDATE, T1, "m2", None),
        ],
        schema,
    )
    s2 = rv.prepare_staging(
        b2, load_date_column="LOAD_DATE", operation_column="OPERATION",
        record_source="test", hkey_columns=["PublicID"],
    )
    links2, eff2 = rv.link_rows(
        s2, from_name="movies", to_name="directors", fk_column="DIRECTOR_ID",
        existing_link=links1, existing_effectivity=eff1.cache(), load_ts=T1,
    )
    # one new link (m1→d2); m2's nulled FK creates no link row
    new = links2.collect()
    assert len(new) == 1
    # deletes: old m1→d1 and old m2→d2 both closed at T1
    deleted = eff2.filter(F.col(C.deleted()) & (F.col(C.load_date()) == T1))
    assert deleted.count() == 2
    # new m1→d2 link gets an open (deleted=False) row
    opened = eff2.filter(~F.col(C.deleted()) & (F.col(C.load_date()) == T1))
    assert opened.count() == 1


def test_compress_state_changes(spark):
    df = spark.createDataFrame(
        [
            ("k", T0, False),
            ("k", T1, False),  # unchanged → dropped
            ("k", T2, True),
        ],
        "hkey string, ld timestamp, deleted boolean",
    )
    out = rv.compress_state_changes(df, key="hkey", order="ld", state="deleted")
    assert {(r["ld"], r["deleted"]) for r in out.collect()} == {(T0, False), (T2, True)}


def test_reference_rows(spark):
    df = spark.createDataFrame(
        [(T0, "a", "Alpha"), (T0, "b", "Beta"), (T1, "a", "Alpha2")],
        f"`{C.load_date()}` timestamp, ID string, DESCRIPTION string",
    )
    refs = rv.reference_rows(df, "ID", ["DESCRIPTION"])
    assert refs.count() == 3
    again = rv.reference_rows(df, "ID", ["DESCRIPTION"], existing=refs)
    assert again.count() == 0


def test_prepare_staging_timestamp_pattern(spark):
    """P10: string load dates parsed with the reference's Java pattern
    (DataVaultShared.py:30-38 uses yyyy-MM-dd'T'HH:mm:ss'Z')."""
    from datetime import datetime

    df = spark.createDataFrame(
        [("create", "2026-03-01T10:30:00Z", "k1")],
        "OPERATION string, LOAD_DATE string, ID string",
    )
    staged = rv.prepare_staging(
        df, load_date_column="LOAD_DATE", operation_column="OPERATION",
        record_source="x", hkey_columns=["ID"],
        timestamp_pattern="yyyy-MM-dd'T'HH:mm:ss'Z'",
    )
    assert staged.first()[C.load_date()] == datetime(2026, 3, 1, 10, 30)


def test_prepare_staging_snapshot_override(spark):
    """Snapshot load-date override (RawVault.py:1032-1038): applied only
    when operation < DELETE (i.e. snapshots), not to CDC change rows."""
    from datetime import datetime

    t_cdc, t_src = datetime(2026, 3, 1), datetime(2025, 1, 1)
    df = spark.createDataFrame(
        [("snapshot", t_cdc, t_src, "a"), ("update", t_cdc, t_src, "b")],
        "OPERATION string, LOAD_DATE timestamp, SRC_TS timestamp, ID string",
    )
    staged = rv.prepare_staging(
        df, load_date_column="LOAD_DATE", operation_column="OPERATION",
        record_source="x", hkey_columns=["ID"],
        snapshot_override_column="SRC_TS",
    )
    by = {r["ID"]: r[C.load_date()] for r in staged.collect()}
    assert by["a"] == t_src   # snapshot takes the source column
    assert by["b"] == t_cdc   # update keeps the CDC event time


def test_multilink_xxh_twin_matches_md5_shape(spark, sf_dir):
    """The xxhash64 bench twin must be the md5 multilink in everything but
    the hash rendering: same row count, same column names, same non-hash
    column values, and a bijection between md5 and xxhash64 link keys."""
    from pyspark_playground_spark import queries as Q

    reg = Q.queries()
    md5_df = reg["dv_multilink_lineitem"](spark, sf_dir)
    xxh_df = reg["dv_multilink_lineitem_xxh"](spark, sf_dir)
    assert md5_df.columns == xxh_df.columns
    assert md5_df.count() == xxh_df.count()
    # keys correspond 1:1 — pairing the two hash renderings of the same
    # business key yields exactly one distinct partner on each side
    pair = (
        md5_df.select(F.col("$__HKEY_ORDERS").alias("m"))
        .distinct()
        .count()
    )
    assert pair == xxh_df.select("$__HKEY_ORDERS").distinct().count()
    non_hash = ["$__LOAD_DATE", "$__RECORD_SOURCE"]
    a = md5_df.select(*non_hash).distinct().collect()
    b = xxh_df.select(*non_hash).distinct().collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
