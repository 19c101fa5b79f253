"""BDD feature-file golden counts (features/raw-vault.feature:99-121 and the
per-scenario entries at :123-342) through the declarative layer.

This is the reference's most precise semantic spec — exact table
cardinalities after three CDC batches, including the hardest case: link
effectivity histories under FK-change, FK-null, delete and re-create, with
run-length compression (`SAT__EFFECTIVITY_MOVIES_DIRECTORS` = exactly 13
rows). The movies hub is keyed on (NAME, YEAR) while links reference movies
by ID, so every FK resolves through the staged-target/hub fallback."""

from __future__ import annotations

import hashlib
from datetime import datetime, timedelta

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

t0 = datetime(2026, 10, 1)
t1 = t0 + timedelta(days=1)
t2 = t1 + timedelta(hours=3)
t3 = t2 + timedelta(minutes=42)
t4 = t3 + timedelta(hours=6)
t5 = t4 + timedelta(days=1)

SCHEMA_JSON = """
{"name": "imdb", "tables": [
  {"name": "movies",
   "columns": [{"name": "ID", "type": "text"}, {"name": "NAME", "type": "text"},
               {"name": "YEAR", "type": "integer"}, {"name": "DIRECTOR", "type": "text"},
               {"name": "RATING", "type": "double"}, {"name": "RANK", "type": "integer"}],
   "primaryKey": ["ID"],
   "foreignKeys": [{"column": "DIRECTOR",
                    "foreignColumn": {"table": "directors", "column": "ID"}}]},
  {"name": "actors",
   "columns": [{"name": "ID", "type": "text"}, {"name": "NAME", "type": "text"},
               {"name": "COUNTRY", "type": "text"}],
   "primaryKey": ["ID"], "foreignKeys": []},
  {"name": "directors",
   "columns": [{"name": "ID", "type": "text"}, {"name": "NAME", "type": "text"},
               {"name": "COUNTRY", "type": "text"}],
   "primaryKey": ["ID"], "foreignKeys": []},
  {"name": "castings",
   "columns": [{"name": "MOVIE_ID", "type": "text"}, {"name": "ACTOR_ID", "type": "text"}],
   "primaryKey": ["MOVIE_ID", "ACTOR_ID"],
   "foreignKeys": [
     {"column": "MOVIE_ID", "foreignColumn": {"table": "movies", "column": "ID"}},
     {"column": "ACTOR_ID", "foreignColumn": {"table": "actors", "column": "ID"}}]}
]}
"""

MAPPING_YAML = """
hubs:
  - {name: HUB__MOVIES, source_table: movies, business_keys: [NAME, YEAR]}
  - {name: HUB__ACTORS, source_table: actors, business_keys: [ID]}
  - {name: HUB__DIRECTORS, source_table: directors, business_keys: [ID]}
links:
  - name: LNK__MOVIES_DIRECTORS
    source_table: movies
    to:
      - source_column: DIRECTOR
        source_foreign_key: {table: directors, column: ID}
  - name: LNK__CASTINGS
    source_table: castings
    to:
      - source_column: MOVIE_ID
        source_foreign_key: {table: movies, column: ID}
      - source_column: ACTOR_ID
        source_foreign_key: {table: actors, column: ID}
satellites:
  - {name: SAT__MOVIES, hub: HUB__MOVIES, source_table: movies}
  - {name: SAT__ACTORS, hub: HUB__ACTORS, source_table: actors}
  - {name: SAT__DIRECTORS, hub: HUB__DIRECTORS, source_table: directors}
"""

MOVIE_SCHEMA = T.StructType([
    T.StructField("OPERATION", T.StringType()),
    T.StructField("LOAD_DATE", T.TimestampType()),
    T.StructField("ID", T.StringType()),
    T.StructField("NAME", T.StringType()),
    T.StructField("YEAR", T.IntegerType()),
    T.StructField("DIRECTOR", T.StringType()),
    T.StructField("RATING", T.DoubleType()),
    T.StructField("RANK", T.IntegerType()),
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

S, D, CR, BU, U = "snapshot", "delete", "create", "before_update", "update"

# features/raw-vault.feature:15-99, verbatim scenario data
MOVIES = [
    [
        (S, t0, "1", "The Shawshank Redemption", 1994, "1", 9.3, 64),
        (S, t0, "2", "The Godfather", 1972, "2", 9.2, 94),
        (S, t0, "3", "The Dark Knight", 2008, "3", 9.0, 104),
        (S, t0, "4", "Star Wars: Episode V", 1980, "4", 8.7, 485),
    ],
    [
        (CR, t1, "5", "Pulp Fiction", 1994, "5", 8.9, 138),
        (BU, t1, "4", "Star Wars: Episode V", 1980, "4", 8.7, 485),
        (U, t1, "4", "Star Wars: Episode V", 1980, "4", 8.4, 344),
        (BU, t1, "2", "The Godfather", 1972, "2", 9.2, 94),
        (U, t1, "2", "The Godfather", 1972, "2", 9.1, 104),
        (BU, t2, "2", "The Godfather", 1972, "2", 9.1, 104),
        (U, t2, "2", "The Godfather", 1972, None, 9.1, 104),
        (D, t3, "2", "The Godfather", 1972, None, 9.1, 104),
        (BU, t1, "1", "The Shawshank Redemption", 1994, "1", 9.3, 64),
        (U, t1, "1", "The Shawshank Redemption", 1994, "1", 9.6, 5),
        (BU, t2, "1", "The Shawshank Redemption", 1994, "1", 9.6, 5),
        (U, t2, "1", "The Shawshank Redemption", 1994, None, 9.6, 5),
        (BU, t3, "1", "The Shawshank Redemption", 1994, None, 9.6, 5),
        (U, t3, "1", "The Shawshank Redemption", 1994, "2", 9.6, 5),
        (BU, t4, "1", "The Shawshank Redemption", 1994, "2", 9.6, 5),
        (U, t4, "1", "The Shawshank Redemption", 1994, "1", 9.6, 5),
        (BU, t1, "3", "The Dark Knight", 2008, "3", 9.0, 104),
        (U, t1, "3", "The Dark Knight", 2008, "3", 9.3, 45),
        (D, t2, "3", "The Dark Knight", 2008, "3", 9.3, 45),
        (CR, t3, "3", "The Dark Knight", 2008, "3", 9.0, 104),
    ],
    [(D, t5, "5", "Pulp Fiction", 1994, "5", 8.9, 138)],
]

ACTORS = [
    [(S, t0, str(i), n, "USA") for i, n in enumerate(
        ["Tim Robbins", "Morgan Freeman", "Bob Gunton", "William Sadler",
         "Marlon Brando", "Al Pacino", "James Caan", "Christian Bale"], start=1)],
    [(CR, t1, "9", "John Travolta", "USA"), (CR, t1, "10", "Liam Neeson", "USA")],
    [(D, t5, "9", "John Travolta", "USA"), (D, t5, "10", "Liam Neeson", "USA")],
]

DIRECTORS = [
    [(S, t0, "1", "Frank Darabont", "USA"), (S, t0, "2", "Francis Ford Coppola", "USA"),
     (S, t0, "3", "Christopher Nolan", "USA"), (S, t0, "4", "Irvin Kershner", "USA")],
    [(CR, t1, "5", "Quentin Terintino", "USA")],
    [(D, t5, "5", "Quentin Terintino", "USA")],
]

CASTINGS = [
    [(S, t0, m, a) for m, a in
     [("1", "1"), ("1", "2"), ("2", "3"), ("2", "4"),
      ("3", "5"), ("3", "6"), ("4", "7"), ("4", "8")]],
    [(CR, t1, "5", "9"), (CR, t1, "5", "10")],
    [(D, t5, "5", "9"), (D, t5, "5", "10")],
]


def _md5(s: str) -> str:
    return hashlib.md5(s.encode()).hexdigest()


def movie_hkey(name: str, year: int) -> str:
    return _md5(f"{name},{year}")


def link_hkey(movie_name: str, year: int, director_id: str) -> str:
    return _md5(f"{movie_hkey(movie_name, year)},{_md5(director_id)}")


@pytest.fixture(scope="module")
def vault(spark):
    spark.sql("DROP DATABASE IF EXISTS bdd_stg CASCADE")
    spark.sql("DROP DATABASE IF EXISTS bdd_raw CASCADE")
    dv = DeclarativeVault(
        spark,
        SourceSchema.from_json(SCHEMA_JSON),
        VaultMapping.from_yaml(MAPPING_YAML),
        VaultConfig(
            staging_prepared_database="bdd_stg",
            raw_database="bdd_raw",
            record_source="imdb",
        ),
    )
    dv.create_tables()
    load_ts = [t1, t2, t3]
    for i in range(3):
        dv.load_batch(
            {
                "movies": spark.createDataFrame(MOVIES[i], MOVIE_SCHEMA),
                "actors": spark.createDataFrame(ACTORS[i], PERSON_SCHEMA),
                "directors": spark.createDataFrame(DIRECTORS[i], PERSON_SCHEMA),
                "castings": spark.createDataFrame(CASTINGS[i], CASTING_SCHEMA),
            },
            load_ts=load_ts[i],
        )
    return dv


def _t(spark, name):
    return spark.table(f"bdd_raw.{name}")


def test_golden_counts(spark, vault):
    """features/raw-vault.feature:114-121 — the exact cardinalities."""
    expected = {
        "HUB__MOVIES": 5,
        "HUB__ACTORS": 10,
        "HUB__DIRECTORS": 5,
        "LNK__MOVIES_DIRECTORS": 6,
        "SAT__MOVIES": 14,
        "SAT__ACTORS": 10,
        "SAT__DIRECTORS": 5,
        "SAT__EFFECTIVITY_MOVIES_DIRECTORS": 13,
    }
    got = {t: _t(spark, t).count() for t in expected}
    assert got == expected


def test_scenario_simple_update(spark, vault):
    """Star Wars: two satellite versions, link effectivity single open row
    (feature:123-162)."""
    hk = movie_hkey("Star Wars: Episode V", 1980)
    sats = (
        _t(spark, "SAT__MOVIES").filter(F.col(C.hkey()) == hk)
        .orderBy(C.load_date()).collect()
    )
    assert [(r["RATING"], r["RANK"], r[C.load_date()]) for r in sats] == [
        (8.7, 485, t0), (8.4, 344, t1)
    ]
    eff = (
        _t(spark, "SAT__EFFECTIVITY_MOVIES_DIRECTORS")
        .filter(F.col(C.hkey()) == link_hkey("Star Wars: Episode V", 1980, "4"))
        .collect()
    )
    assert [(r[C.deleted()], r[C.load_date()]) for r in eff] == [(False, t0)]


def test_scenario_simple_delete(spark, vault):
    """Pulp Fiction: created in batch 2, movie deleted in batch 3 — the
    outgoing link closes at the delete time (feature:164-203)."""
    eff = sorted(
        (r[C.deleted()], r[C.load_date()])
        for r in _t(spark, "SAT__EFFECTIVITY_MOVIES_DIRECTORS")
        .filter(F.col(C.hkey()) == link_hkey("Pulp Fiction", 1994, "5"))
        .collect()
    )
    assert eff == [(False, t1), (True, t5)]


def test_scenario_delete_and_recreate(spark, vault):
    """Dark Knight: deleted at t2, re-created at t3 → link effectivity
    False@t0, True@t2, False@t3; three satellite versions (feature:205-246)."""
    hk = movie_hkey("The Dark Knight", 2008)
    sats = (
        _t(spark, "SAT__MOVIES").filter(F.col(C.hkey()) == hk)
        .orderBy(C.load_date()).collect()
    )
    assert [(r["RATING"], r["RANK"], r[C.load_date()]) for r in sats] == [
        (9.0, 104, t0), (9.3, 45, t1), (9.0, 104, t3)
    ]
    eff = sorted(
        (r[C.load_date()], r[C.deleted()])
        for r in _t(spark, "SAT__EFFECTIVITY_MOVIES_DIRECTORS")
        .filter(F.col(C.hkey()) == link_hkey("The Dark Knight", 2008, "3"))
        .collect()
    )
    assert eff == [(t0, False), (t2, True), (t3, False)]


def test_scenario_fk_nulled(spark, vault):
    """Godfather: FK set to None at t2 → link closed (feature:248-...)."""
    eff = sorted(
        (r[C.load_date()], r[C.deleted()])
        for r in _t(spark, "SAT__EFFECTIVITY_MOVIES_DIRECTORS")
        .filter(F.col(C.hkey()) == link_hkey("The Godfather", 1972, "2"))
        .collect()
    )
    assert eff == [(t0, False), (t2, True)]


def test_scenario_fk_change_cycle(spark, vault):
    """Shawshank: director 1 → None → 2 → 1 across t1..t4: the (1→1) link
    dips deleted and returns; the transient (1→2) link ends deleted."""
    own = sorted(
        (r[C.load_date()], r[C.deleted()])
        for r in _t(spark, "SAT__EFFECTIVITY_MOVIES_DIRECTORS")
        .filter(F.col(C.hkey()) == link_hkey("The Shawshank Redemption", 1994, "1"))
        .collect()
    )
    assert own == [(t0, False), (t2, True), (t4, False)]
    transient = sorted(
        (r[C.load_date()], r[C.deleted()])
        for r in _t(spark, "SAT__EFFECTIVITY_MOVIES_DIRECTORS")
        .filter(F.col(C.hkey()) == link_hkey("The Shawshank Redemption", 1994, "2"))
        .collect()
    )
    # history starts at the link's creation (t3), not at earlier FK events
    assert transient == [(t3, False), (t4, True)]
