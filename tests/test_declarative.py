"""Declarative layer: schema JSON + mapping YAML → auto-created, auto-loaded
vault (the reference's aspirational v3 generation; spec format from
``features/imdb-schema.json`` / ``features/imdb-mapping.yaml``).

The scenario deliberately keys HUB__MOVIES on (NAME, YEAR) while links
reference movies by ID — exercising the staged-target / hub⋈sat FK
resolution (RawVault.py:523-534) instead of the identity hash."""

from __future__ import annotations

import hashlib
from datetime import datetime
from functools import partial

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pyspark_playground_spark.conventions import DataVaultConventions, VaultConfig
from pyspark_playground_spark.plans.declarative import (
    DeclarativeVault,
    SourceSchema,
    VaultMapping,
)

C = DataVaultConventions()

SCHEMA_JSON = """
{
  "name": "imdb",
  "tables": [
    {"name": "movies",
     "columns": [{"name": "ID", "type": "text"}, {"name": "NAME", "type": "text"},
                 {"name": "YEAR", "type": "integer"}, {"name": "DIRECTOR", "type": "text"},
                 {"name": "RATING", "type": "double"}],
     "primaryKey": ["ID"],
     "foreignKeys": [{"column": "DIRECTOR",
                      "foreignColumn": {"table": "directors", "column": "ID"}}]},
    {"name": "directors",
     "columns": [{"name": "ID", "type": "text"}, {"name": "NAME", "type": "text"},
                 {"name": "COUNTRY", "type": "text"}],
     "primaryKey": ["ID"], "foreignKeys": []},
    {"name": "actors",
     "columns": [{"name": "ID", "type": "text"}, {"name": "NAME", "type": "text"},
                 {"name": "COUNTRY", "type": "text"}],
     "primaryKey": ["ID"], "foreignKeys": []},
    {"name": "castings",
     "columns": [{"name": "MOVIE_ID", "type": "text"}, {"name": "ACTOR_ID", "type": "text"}],
     "primaryKey": ["MOVIE_ID", "ACTOR_ID"],
     "foreignKeys": [
        {"column": "MOVIE_ID", "foreignColumn": {"table": "movies", "column": "ID"}},
        {"column": "ACTOR_ID", "foreignColumn": {"table": "actors", "column": "ID"}}]}
  ]
}
"""

MAPPING_YAML = """
hubs:
  - name: HUB__MOVIES
    source_table: movies
    business_keys: [NAME, YEAR]
  - name: HUB__ACTORS
    source_table: actors
    business_keys: [ID]
  - name: HUB__DIRECTORS
    source_table: directors
    business_keys: [ID]
links:
  - name: LNK__MOVIES_DIRECTORS
    source_table: movies
    to:
      - raw_column: DIRECTORS__HKEY
        source_column: DIRECTOR
        source_foreign_key: {table: directors, column: ID}
  - name: LNK__CASTINGS
    source_table: castings
    to:
      - raw_column: MOVIE_ID
        source_column: MOVIE_ID
        source_foreign_key: {table: movies, column: ID}
      - raw_column: ACTOR_ID
        source_column: ACTOR_ID
        source_foreign_key: {table: actors, column: ID}
satellites:
  - {name: SAT__MOVIES, hub: HUB__MOVIES, source_table: movies, private: false}
  - {name: SAT__ACTORS, hub: HUB__ACTORS, source_table: actors, private: false}
  - {name: SAT__DIRECTORS, hub: HUB__DIRECTORS, source_table: directors, private: false}
"""

T0 = datetime(2026, 3, 1)
T1 = datetime(2026, 3, 2)

MOVIE_SCHEMA = T.StructType([
    T.StructField("OPERATION", T.StringType()),
    T.StructField("LOAD_DATE", T.TimestampType()),
    T.StructField("ID", T.StringType()),
    T.StructField("NAME", T.StringType()),
    T.StructField("YEAR", T.IntegerType()),
    T.StructField("DIRECTOR", T.StringType()),
    T.StructField("RATING", T.DoubleType()),
])
PERSON_SCHEMA = T.StructType([
    T.StructField("OPERATION", T.StringType()),
    T.StructField("LOAD_DATE", T.TimestampType()),
    T.StructField("ID", T.StringType()),
    T.StructField("NAME", T.StringType()),
    T.StructField("COUNTRY", T.StringType()),
])
CASTING_SCHEMA = T.StructType([
    T.StructField("OPERATION", T.StringType()),
    T.StructField("LOAD_DATE", T.TimestampType()),
    T.StructField("MOVIE_ID", T.StringType()),
    T.StructField("ACTOR_ID", T.StringType()),
])


def _md5(s: str) -> str:
    return hashlib.md5(s.encode()).hexdigest()


@pytest.fixture(scope="module")
def dv(spark):
    spark.sql("DROP DATABASE IF EXISTS decl_staging CASCADE")
    spark.sql("DROP DATABASE IF EXISTS decl_raw CASCADE")
    config = VaultConfig(
        staging_prepared_database="decl_staging",
        raw_database="decl_raw",
        record_source="imdb",
    )
    schema = SourceSchema.from_json(SCHEMA_JSON)
    mapping = VaultMapping.from_yaml(MAPPING_YAML)
    v = DeclarativeVault(spark, schema, mapping, config)
    created = v.create_tables()
    assert set(created) >= {
        "HUB__MOVIES", "HUB__ACTORS", "HUB__DIRECTORS",
        "SAT__MOVIES", "SAT__ACTORS", "SAT__DIRECTORS",
        "LNK__MOVIES_DIRECTORS", "LNK__CASTINGS",
    }
    return v


def _t(spark, name):
    return spark.table(f"decl_raw.{name}")


def test_declarative_end_to_end(spark, dv):
    batch0 = {
        "movies": spark.createDataFrame(
            [("snapshot", T0, "m1", "Heat", 1995, "d1", 8.3),
             ("snapshot", T0, "m2", "Ronin", 1998, "d2", 7.2)], MOVIE_SCHEMA),
        "directors": spark.createDataFrame(
            [("snapshot", T0, "d1", "Michael Mann", "USA"),
             ("snapshot", T0, "d2", "John Frankenheimer", "USA")], PERSON_SCHEMA),
        "actors": spark.createDataFrame(
            [("snapshot", T0, "a1", "Al Pacino", "USA"),
             ("snapshot", T0, "a2", "Robert De Niro", "USA")], PERSON_SCHEMA),
        "castings": spark.createDataFrame(
            [("snapshot", T0, "m1", "a1"), ("snapshot", T0, "m1", "a2"),
             ("snapshot", T0, "m2", "a2")], CASTING_SCHEMA),
    }
    dv.load_batch(batch0, load_ts=datetime(2026, 4, 1))

    assert _t(spark, "HUB__MOVIES").count() == 2
    assert _t(spark, "HUB__ACTORS").count() == 2
    assert _t(spark, "LNK__CASTINGS").count() == 3
    assert _t(spark, "LNK__MOVIES_DIRECTORS").count() == 2

    # movies hub is keyed on (NAME, YEAR), not ID
    heat_hkey = _md5("Heat,1995")
    assert _t(spark, "HUB__MOVIES").filter(F.col(C.hkey()) == heat_hkey).count() == 1

    # castings resolved movie ID m1 → hash(NAME, YEAR) through the staged table
    lnk = _t(spark, "LNK__CASTINGS")
    assert lnk.filter(
        (F.col(C.hkey_of("movies")) == heat_hkey)
        & (F.col(C.hkey_of("actors")) == _md5("a1"))
    ).count() == 1

    # satellites carry all non-business-key columns, incl. the source ID
    sat_cols = set(_t(spark, "SAT__MOVIES").columns)
    assert {"ID", "DIRECTOR", "RATING"} <= sat_cols
    assert "NAME" not in sat_cols  # business key lives in the hub


def test_declarative_cross_batch_fk(spark, dv):
    """Batch 1 casts a new actor in a movie staged only in batch 0: the FK
    must resolve through hub⋈satellite, not the (absent) staged target."""
    batch1 = {
        "actors": spark.createDataFrame(
            [("create", T1, "a3", "Val Kilmer", "USA")], PERSON_SCHEMA),
        "castings": spark.createDataFrame(
            [("create", T1, "m1", "a3")], CASTING_SCHEMA),
    }
    dv.load_batch(batch1, load_ts=datetime(2026, 4, 2))

    heat_hkey = _md5("Heat,1995")
    lnk = _t(spark, "LNK__CASTINGS")
    assert lnk.count() == 4
    assert lnk.filter(
        (F.col(C.hkey_of("movies")) == heat_hkey)
        & (F.col(C.hkey_of("actors")) == _md5("a3"))
    ).count() == 1

    # link delete closes the casting
    batch2 = {
        "castings": spark.createDataFrame(
            [("delete", datetime(2026, 3, 3), "m1", "a3")], CASTING_SCHEMA),
    }
    dv.load_batch(batch2, load_ts=datetime(2026, 4, 3))
    eff = _t(spark, "SAT__EFFECTIVITY_CASTINGS")
    k = _md5(f"{heat_hkey},{_md5('a3')}")
    last = (
        eff.filter(F.col(C.hkey()) == k)
        .orderBy(F.col(C.load_date()).desc())
        .select(C.deleted())
        .limit(1)
        .collect()
    )
    assert last and last[0][0] is True


# ---------------------------------------------------------------------------
# concurrent table appends inside load_batch
# ---------------------------------------------------------------------------

L0 = datetime(2026, 5, 1)
L1 = datetime(2026, 5, 2)


def _fresh_vault(session, prefix, mapping_yaml=MAPPING_YAML):
    session.sql(f"DROP DATABASE IF EXISTS {prefix}_staging CASCADE")
    session.sql(f"DROP DATABASE IF EXISTS {prefix}_raw CASCADE")
    config = VaultConfig(
        staging_prepared_database=f"{prefix}_staging",
        raw_database=f"{prefix}_raw",
        record_source="imdb",
    )
    v = DeclarativeVault(
        session, SourceSchema.from_json(SCHEMA_JSON),
        VaultMapping.from_yaml(mapping_yaml), config,
    )
    v.create_tables()
    return v, sorted(t.name.upper() for t in session.catalog.listTables(config.raw_database))


def _bulk(session):
    return {
        "movies": session.createDataFrame(
            [("snapshot", T0, "m1", "Heat", 1995, "d1", 8.3),
             ("snapshot", T0, "m2", "Ronin", 1998, "d2", 7.2)], MOVIE_SCHEMA),
        "directors": session.createDataFrame(
            [("snapshot", T0, "d1", "Michael Mann", "USA"),
             ("snapshot", T0, "d2", "John Frankenheimer", "USA")], PERSON_SCHEMA),
        "actors": session.createDataFrame(
            [("snapshot", T0, "a1", "Al Pacino", "USA"),
             ("snapshot", T0, "a2", "Robert De Niro", "USA")], PERSON_SCHEMA),
        "castings": session.createDataFrame(
            [("snapshot", T0, "m1", "a1"), ("snapshot", T0, "m1", "a2"),
             ("snapshot", T0, "m2", "a2")], CASTING_SCHEMA),
    }


def _increment(session):
    """m1 re-rated (update), m2 moves from director d2 to d1 (FK change),
    actor a1 and the casting (m1, a1) deleted."""
    return {
        "movies": session.createDataFrame(
            [("update", T1, "m1", "Heat", 1995, "d1", 8.5),
             ("update", T1, "m2", "Ronin", 1998, "d1", 7.2)], MOVIE_SCHEMA),
        "actors": session.createDataFrame(
            [("delete", T1, "a1", "Al Pacino", "USA")], PERSON_SCHEMA),
        "castings": session.createDataFrame(
            [("delete", T1, "m1", "a1")], CASTING_SCHEMA),
    }


def _labels():
    """hkey → readable label for every hub and link key of the scenario."""
    movies = {"Heat": _md5("Heat,1995"), "Ronin": _md5("Ronin,1998")}
    people = {k: _md5(k) for k in ("d1", "d2", "a1", "a2")}
    out = {h: m for m, h in movies.items()} | {h: p for p, h in people.items()}
    for m, mh in movies.items():
        for p, ph in people.items():
            out[_md5(f"{mh},{ph}")] = f"{m}-{p}"
    return out


def _readable(rows, labels):
    """``rows`` minus the hash-diff column, hkeys as labels."""
    return sorted(
        tuple(labels.get(v, v) for k, v in r.asDict().items() if k != C.hdiff())
        for r in rows
    )


#: every raw table after bulk (loaded L0, events T0) + increment (L1, T1):
#: columns in table order minus the hash diff, hkeys as labels
EXPECTED_AFTER_INCREMENT = {
    "HUB__MOVIES": [
        ("Heat", L0, "imdb", "Heat", 1995), ("Ronin", L0, "imdb", "Ronin", 1998)],
    "HUB__DIRECTORS": [("d1", L0, "imdb", "d1"), ("d2", L0, "imdb", "d2")],
    "HUB__ACTORS": [("a1", L0, "imdb", "a1"), ("a2", L0, "imdb", "a2")],
    "SAT__MOVIES": [
        ("Heat", T0, "m1", "d1", 8.3), ("Heat", T1, "m1", "d1", 8.5),
        ("Ronin", T0, "m2", "d2", 7.2), ("Ronin", T1, "m2", "d1", 7.2)],
    "SAT__DIRECTORS": [
        ("d1", T0, "Michael Mann", "USA"), ("d2", T0, "John Frankenheimer", "USA")],
    "SAT__ACTORS": [("a1", T0, "Al Pacino", "USA"), ("a2", T0, "Robert De Niro", "USA")],
    "SAT__EFFECTIVITY_MOVIES": [("Heat", False, T0), ("Ronin", False, T0)],
    "SAT__EFFECTIVITY_DIRECTORS": [("d1", False, T0), ("d2", False, T0)],
    "SAT__EFFECTIVITY_ACTORS": [("a1", False, T0), ("a1", True, T1), ("a2", False, T0)],
    "LNK__MOVIES_DIRECTORS": [
        ("Heat-d1", "Heat", "d1", L0, "imdb"), ("Ronin-d1", "Ronin", "d1", L1, "imdb"),
        ("Ronin-d2", "Ronin", "d2", L0, "imdb")],
    "SAT__EFFECTIVITY_MOVIES_DIRECTORS": [
        ("Heat-d1", False, T0), ("Ronin-d1", False, T1),
        ("Ronin-d2", False, T0), ("Ronin-d2", True, T1)],
    "LNK__CASTINGS": [
        ("Heat-a1", "Heat", "a1", L0, "imdb"), ("Heat-a2", "Heat", "a2", L0, "imdb"),
        ("Ronin-a2", "Ronin", "a2", L0, "imdb")],
    "SAT__EFFECTIVITY_CASTINGS": [
        ("Heat-a1", False, T0), ("Heat-a1", True, T1),
        ("Heat-a2", False, T0), ("Ronin-a2", False, T0)],
}


def test_load_batch_concurrent_waves_equal_fixed_result_with_aqe(spark):
    """The production session runs AQE on (the suite's session turns it
    off). Five times over: bulk → increment (update, delete, FK change) →
    exact replay on a fresh vault; every table must hold the same fixed
    rows after the increment, and the replay must append nothing."""
    import sys

    aqe = spark.newSession()
    aqe.conf.set("spark.sql.adaptive.enabled", "true")
    labels = _labels()
    first = None
    switch = sys.getswitchinterval()
    # switch driver threads far more often than the default 5 ms, so the
    # concurrent plan builds and appends interleave at many more points
    sys.setswitchinterval(1e-5)
    try:
        for _ in range(5):
            v, tables = _fresh_vault(aqe, "decl_conc")
            assert set(tables) == set(EXPECTED_AFTER_INCREMENT)
            v.load_batch(_bulk(aqe), load_ts=L0)
            v.load_batch(_increment(aqe), load_ts=L1)
            full = {
                t: sorted(aqe.table(f"decl_conc_raw.{t}").collect()) for t in tables
            }
            assert {t: _readable(rows, labels) for t, rows in full.items()} == (
                EXPECTED_AFTER_INCREMENT
            )
            v.load_batch(_increment(aqe), load_ts=L1)
            assert {t: aqe.table(f"decl_conc_raw.{t}").count() for t in tables} == {
                t: len(rows) for t, rows in full.items()
            }
            # hash-diff columns included, every round writes identical rows
            first = first or full
            assert full == first
    finally:
        sys.setswitchinterval(switch)


def _all_job_ids(sc) -> set[int]:
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    it = sc._jsc.sc().statusStore().jobsList(None).iterator()
    out = set()
    while it.hasNext():
        out.add(it.next().jobId())
    return out


def test_load_batch_jobs_inherit_caller_job_group_and_tags(spark):
    """Jobs of the concurrent appends run on worker threads; every one of
    them must carry the caller's job group and tags, so ``cancelJobGroup``
    and tag cancellation around a load keep working."""
    v, _ = _fresh_vault(spark, "decl_grp")
    sc = spark.sparkContext
    before = _all_job_ids(sc)
    sc.setJobGroup("decl-grp-load", "vault load under one group")
    sc.addJobTag("decl-grp-tag")
    spark.addTag("decl-grp-session-tag")
    try:
        v.load_batch(_bulk(spark), load_ts=L0)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        sc.clearJobTags()
        spark.clearTags()
    started = _all_job_ids(sc) - before
    assert started
    assert started <= set(sc.statusTracker().getJobIdsForGroup("decl-grp-load"))
    store = sc._jsc.sc().statusStore()
    for jid in started:
        it = store.job(jid).jobTags().iterator()
        tags = []
        while it.hasNext():
            tags.append(it.next())
        assert "decl-grp-tag" in tags
        assert any(t.endswith("-decl-grp-session-tag") for t in tags)
    assert spark.table("decl_grp_raw.LNK__CASTINGS").count() == 3


FAILING_MAPPING_YAML = """
hubs:
  - name: HUB__MOVIES
    source_table: movies
    business_keys: [NAME, YEAR]
  - name: HUB__DIRECTORS
    source_table: directors
    business_keys: [ID]
links:
  - name: LNK__MOVIES_DIRECTORS
    source_table: movies
    to:
      - source_column: DIRECTOR
        source_foreign_key: {table: directors, column: ID}
satellites:
  - {name: SAT__MOVIES, hub: HUB__MOVIES, source_table: movies,
     attributes: [RATING, NO_SUCH_COLUMN]}
"""


def test_load_batch_raises_failed_append_after_in_flight_writes(spark):
    """A satellite mapped to a column the batch lacks fails its append:
    load_batch raises that original error once the other appends of the
    hub wave are done, leaves no worker thread or job running, and never
    starts the link wave."""
    import threading

    from pyspark.errors import AnalysisException

    v, _ = _fresh_vault(spark, "decl_fail", FAILING_MAPPING_YAML)
    batch = {k: df for k, df in _bulk(spark).items() if k in ("movies", "directors")}
    with pytest.raises(AnalysisException, match="NO_SUCH_COLUMN"):
        v.load_batch(batch, load_ts=L0)
    assert not [t for t in threading.enumerate() if t.name.startswith("vault-write")]
    assert not spark.sparkContext.statusTracker().getActiveJobsIds()
    assert spark.table("decl_fail_raw.HUB__MOVIES").count() == 2
    assert spark.table("decl_fail_raw.HUB__DIRECTORS").count() == 2
    assert spark.table("decl_fail_raw.SAT__MOVIES").count() == 0
    assert spark.table("decl_fail_raw.LNK__MOVIES_DIRECTORS").count() == 0


def test_run_concurrently_finishes_every_write_then_raises_first_failure(spark):
    """A failing write does not cut the others short; the first failure in
    list order is raised once every write has returned."""
    import threading
    import time

    from pyspark_playground_spark.operators import vault

    done = threading.Event()

    def slow():
        time.sleep(0.5)
        done.set()

    def fail(msg):
        raise KeyError(msg)

    with pytest.raises(KeyError, match="first"):
        vault._run_concurrently(
            spark, [partial(fail, "first"), slow, partial(fail, "second")]
        )
    assert done.is_set()
    assert not [t for t in threading.enumerate() if t.name.startswith("vault-write")]


# ---------------------------------------------------------------------------
# a multilink whose source table backs a hub
# ---------------------------------------------------------------------------

HUB_SOURCE_SCHEMA_JSON = """
{"name": "abc", "tables": [
  {"name": "a", "columns": [{"name": "ID", "type": "text"}], "primaryKey": ["ID"]},
  {"name": "b", "columns": [{"name": "ID", "type": "text"}], "primaryKey": ["ID"]},
  {"name": "c", "columns": [{"name": "ID", "type": "text"}, {"name": "NAME", "type": "text"},
                            {"name": "A_ID", "type": "text"}, {"name": "B_ID", "type": "text"}],
   "primaryKey": ["ID"]}
]}
"""

HUB_SOURCE_MAPPING_YAML = """
hubs:
  - {name: HUB__A, source_table: a, business_keys: [ID]}
  - {name: HUB__B, source_table: b, business_keys: [ID]}
  - {name: HUB__C, source_table: c, business_keys: %s}
links:
  - name: LNK__C
    source_table: c
    to:
      - {source_column: A_ID, source_foreign_key: {table: a, column: ID}}
      - {source_column: B_ID, source_foreign_key: {table: b, column: ID}}
"""


def _hub_source_vault(spark, prefix, business_keys):
    spark.sql(f"DROP DATABASE IF EXISTS {prefix}_staging CASCADE")
    spark.sql(f"DROP DATABASE IF EXISTS {prefix}_raw CASCADE")
    return DeclarativeVault(
        spark, SourceSchema.from_json(HUB_SOURCE_SCHEMA_JSON),
        VaultMapping.from_yaml(HUB_SOURCE_MAPPING_YAML % business_keys),
        VaultConfig(staging_prepared_database=f"{prefix}_staging", raw_database=f"{prefix}_raw"),
    )


def test_multilink_from_hub_backed_source_writes_every_member(spark):
    """Source hub C with FKs to A and B: LNK__C has the columns
    create_tables declared (C's hkey first), and every member hkey of every
    link row exists in its hub."""
    v = _hub_source_vault(spark, "decl_hubsrc", "[ID]")
    v.create_tables()
    key = "OPERATION string, LOAD_DATE timestamp, ID string"
    batch = {
        "a": spark.createDataFrame([("snapshot", T0, "a1"), ("snapshot", T0, "a2")], key),
        "b": spark.createDataFrame([("snapshot", T0, "b1")], key),
        "c": spark.createDataFrame(
            [("snapshot", T0, "c1", "x", "a1", "b1"), ("snapshot", T0, "c2", "y", "a2", "b1")],
            f"{key}, NAME string, A_ID string, B_ID string",
        ),
    }
    v.load_batch(batch, load_ts=L0)

    link = spark.table("decl_hubsrc_raw.LNK__C")
    members = [C.hkey_of(h) for h in ("c", "a", "b")]
    assert link.columns[1:4] == members
    assert link.count() == 2
    for col, hub in zip(members, ("HUB__C", "HUB__A", "HUB__B")):
        hub_keys = spark.table(f"decl_hubsrc_raw.{hub}").select(F.col(C.hkey()).alias(col))
        assert link.join(hub_keys, col, "left_anti").count() == 0, col


def test_multilink_from_multi_column_hub_source_is_rejected(spark):
    """A multilink hashes the source hub's FK like any member, so the hub
    needs a single-column business key."""
    v = _hub_source_vault(spark, "decl_hubsrc2", "[ID, NAME]")
    with pytest.raises(ValueError, match="multi-column business key"):
        v.create_tables()
