"""Golden CDC scenario: the reference's primary correctness harness.

Reproduces the 3-batch movies/actors/directors/castings scenario from
``cdc/test_datavault.py:50-954`` (see FIXTURES.md) against this engine's
table-backed ``RawVault``: interleaved SNAPSHOT / CREATE / DELETE /
BEFORE_UPDATE / UPDATE operations at times T0..T5, loaded batch by batch,
asserting after each batch

- hub existence + uniqueness per business key,
- effectivity-satellite deleted flags (incl. delete → re-create cycles),
- link lifecycle: FK change and FK-set-to-null close the old link
  (cdc/test_datavault.py:806-826, 876-916),
- latest satellite attribute values per entity,
- idempotency: re-loading an already-loaded batch changes nothing,
- PIT validity intervals incl. delete end-dating (the reference specs this
  in its skipped test_pit_tables, cdc/test_datavault.py:956-1012).
"""

from __future__ import annotations

from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pyspark_playground_spark.conventions import (
    END_OF_TIME,
    ColumnDefinition,
    DataVaultConventions,
    LinkedHubDefinition,
    VaultConfig,
)
from pyspark_playground_spark.operators import business_vault as bv
from pyspark_playground_spark.operators import raw_vault as rv
from pyspark_playground_spark.operators.vault import RawVault

C = DataVaultConventions()

T0 = datetime(2026, 1, 1, 0, 0, 0)
T1 = T0 + timedelta(days=1)
T2 = T1 + timedelta(hours=3, minutes=17)
T3 = T2 + timedelta(minutes=42)
T4 = T3 + timedelta(hours=6)
T5 = T1 + timedelta(days=1, minutes=42)
#: batch load times (distinct from event times, like the reference's
#: current_timestamp() at load)
L = [datetime(2026, 2, 1, h, 0, 0) for h in (0, 1, 2, 3)]

S, D, CR, BU, U = "snapshot", "delete", "create", "before_update", "update"

MOVIE_SCHEMA = T.StructType(
    [
        T.StructField("OPERATION", T.StringType(), False),
        T.StructField("LOAD_DATE", T.TimestampType(), False),
        T.StructField("PublicID", T.StringType(), False),
        T.StructField("NAME", T.StringType(), False),
        T.StructField("YEAR", T.IntegerType(), False),
        T.StructField("DIRECTOR_ID", T.IntegerType(), True),
        T.StructField("RATING", T.DoubleType(), False),
        T.StructField("RANK", T.IntegerType(), False),
        T.StructField("retired", T.IntegerType(), False),
    ]
)

PERSON_SCHEMA = T.StructType(
    [
        T.StructField("OPERATION", T.StringType(), False),
        T.StructField("LOAD_DATE", T.TimestampType(), False),
        T.StructField("PublicID", T.StringType(), False),
        T.StructField("NAME", T.StringType(), False),
        T.StructField("COUNTRY", T.StringType(), False),
    ]
)

CASTING_SCHEMA = T.StructType(
    [
        T.StructField("OPERATION", T.StringType(), False),
        T.StructField("LOAD_DATE", T.TimestampType(), False),
        T.StructField("MOVIE_ID", T.StringType(), False),
        T.StructField("ACTOR_ID", T.StringType(), False),
    ]
)

MOVIES = [
    [
        (S, T0, "1", "The Shawshank Redemption", 1994, 1, 9.3, 64, 0),
        (S, T0, "2", "The Godfather", 1972, 2, 9.2, 94, 0),
        (S, T0, "3", "The Dark Knight", 2008, 3, 9.0, 104, 0),
        (S, T0, "4", "Star Wars: Episode V", 1980, 4, 8.7, 485, 0),
    ],
    [
        (CR, T2, "5", "Pulp Fiction", 1994, 5, 8.9, 138, 0),
        (CR, T2, "6", "Schindler's List", 1993, 6, 8.6, 145, 0),
        (CR, T2, "7", "Inception", 2010, 7, 8.3, 210, 0),
        (D, T2, "3", "The Dark Knight", 2008, 3, 9.0, 104, 0),
        (BU, T3, "4", "Star Wars: Episode V", 1980, 4, 8.7, 485, 0),
        (U, T3, "4", "Star Wars: Episode V", 1980, 4, 8.4, 500, 0),
        (BU, T3, "1", "The Shawshank Redemption", 1994, 1, 9.3, 64, 0),
        (U, T3, "1", "The Shawshank Redemption", 1994, None, 9.2, 67, 0),
        (BU, T4, "2", "The Godfather", 1972, 2, 9.2, 94, 0),
        (U, T4, "2", "The Godfather", 1972, 2, 9.1, 96, 0),
        (BU, T4, "6", "Schindler's List", 1993, 6, 8.6, 145, 0),
        (U, T4, "6", "Schindler's List", 1993, None, 8.8, 125, 0),
        (BU, T4, "1", "The Shawshank Redemption", 1994, None, 9.2, 67, 0),
        (U, T4, "1", "The Shawshank Redemption", 1994, 1, 9.6, 2, 0),
        (CR, T4, "3", "The Dark Knight", 2008, 3, 9.0, 104, 0),
        (D, T4, "4", "Star Wars: Episode V", 1980, 4, 8.4, 500, 0),
    ],
    [
        (D, T5, "3", "The Dark Knight", 2008, 3, 9.0, 104, 0),
        (BU, T5, "2", "The Godfather", 1972, 2, 9.1, 96, 0),
        (U, T5, "2", "The Godfather", 1972, 3, 8.9, 103, 0),
        (BU, T5, "6", "Schindler's List", 1993, None, 8.8, 125, 0),
        (U, T5, "6", "Schindler's List", 1993, 6, 8.3, 210, 0),
        (BU, T5, "1", "The Shawshank Redemption", 1994, 1, 9.6, 2, 0),
        (U, T5, "1", "The Shawshank Redemption", 1994, None, 9.5, 3, 1),
    ],
]

ACTORS = [
    [(S, T0, str(i), name, "USA") for i, name in enumerate(
        ["Tim Robbins", "Morgan Freeman", "Bob Gunton", "William Sadler",
         "Marlon Brando", "Al Pacino", "James Caan", "Christian Bale",
         "Heath Ledger", "Mark Hamill", "Harrison Ford", "Carrie Fisher",
         "Robert Duvall", "John Marley", "Gary Oldman"], start=1)],
    [
        (CR, T2, "16", "John Travolta", "USA"),
        (CR, T2, "17", "Liam Neeson", "USA"),
        (CR, T2, "18", "Ralph Fiennes", "USA"),
        (CR, T2, "19", "Ben Kingsley", "USA"),
        (CR, T2, "20", "Leonardo DiCaprio", "USA"),
        (D, T4, "13", "Robert Duvall", "USA"),
    ],
    [(D, T5, "14", "John Marley", "USA")],
]

DIRECTORS = [
    [
        (S, T0, "1", "Frank Darabont", "USA"),
        (S, T0, "2", "Francis Ford Coppola", "USA"),
        (S, T0, "3", "Christopher Nolan", "USA"),
        (S, T0, "4", "Irvin Kershner", "USA"),
    ],
    [
        (CR, T2, "5", "Quentin Tarantino", "USA"),
        (CR, T2, "6", "Steven Spielberg", "USA"),
        (CR, T2, "7", "Christopher Nolan", "USA"),
    ],
    [],
]

CASTINGS = [
    [(S, T0, m, a) for m, a in
     [("1", "1"), ("1", "2"), ("1", "3"), ("1", "4"), ("2", "5"), ("2", "6"),
      ("2", "7"), ("3", "8"), ("3", "9"), ("4", "10"), ("4", "11"), ("4", "12")]],
    [
        (D, T1, "1", "1"),
        (D, T1, "1", "2"),
        (CR, T2, "5", "16"),
        (CR, T2, "6", "17"),
        (CR, T2, "6", "18"),
        (CR, T2, "6", "19"),
        (CR, T2, "7", "20"),
        (BU, T3, "7", "20"),
        (U, T3, "7", "19"),
        (CR, T3, "1", "1"),
    ],
    [(CR, T5, "7", "19")],
]


def _md5(value: str) -> str:
    import hashlib

    return hashlib.md5(value.encode()).hexdigest()


def _link_hkey(from_key: str, to_key: str) -> str:
    return _md5(f"{_md5(from_key)},{_md5(to_key)}")


@pytest.fixture(scope="module")
def vault(spark):
    config = VaultConfig(
        staging_prepared_database="golden_staging",
        raw_database="golden_raw",
        record_source="imdb",
    )
    v = RawVault(spark, config)
    spark.sql("DROP DATABASE IF EXISTS golden_staging CASCADE")
    spark.sql("DROP DATABASE IF EXISTS golden_raw CASCADE")
    v.initialize_database()

    person_attrs = [
        ColumnDefinition("NAME", T.StringType()),
        ColumnDefinition("COUNTRY", T.StringType()),
    ]
    v.create_hub("movies", [ColumnDefinition("PublicID", T.StringType(), False)])
    v.create_hub("actors", [ColumnDefinition("PublicID", T.StringType(), False)])
    v.create_hub("directors", [ColumnDefinition("PublicID", T.StringType(), False)])
    v.create_satellite(
        "movies",
        [
            ColumnDefinition("NAME", T.StringType()),
            ColumnDefinition("YEAR", T.IntegerType()),
            ColumnDefinition("DIRECTOR_ID", T.IntegerType()),
            ColumnDefinition("RATING", T.DoubleType()),
            ColumnDefinition("RANK", T.IntegerType()),
            ColumnDefinition("retired", T.IntegerType()),
        ],
    )
    v.create_satellite("actors", person_attrs)
    v.create_satellite("directors", person_attrs)
    v.create_link("movies_directors", [C.hkey_of("movies"), C.hkey_of("directors")])
    v.create_link("castings", [C.hkey_of("movies"), C.hkey_of("actors")])
    return v


def load_batch(spark, v: RawVault, i: int) -> None:
    def staged(rows, schema, hkeys):
        df = spark.createDataFrame(rows, schema)
        return rv.prepare_staging(
            df,
            load_date_column="LOAD_DATE",
            operation_column="OPERATION",
            record_source="imdb",
            hkey_columns=hkeys,
        )

    movies = staged(MOVIES[i], MOVIE_SCHEMA, ["PublicID"])
    actors = staged(ACTORS[i], PERSON_SCHEMA, ["PublicID"])
    directors = staged(DIRECTORS[i], PERSON_SCHEMA, ["PublicID"])
    castings = staged(CASTINGS[i], CASTING_SCHEMA, ["MOVIE_ID", "ACTOR_ID"])

    sat_movies = ["NAME", "YEAR", "DIRECTOR_ID", "RATING", "RANK", "retired"]
    v.load_hub(movies, "movies", ["PublicID"], satellites={"movies": sat_movies}, load_ts=L[i])
    v.load_hub(actors, "actors", ["PublicID"],
               satellites={"actors": ["NAME", "COUNTRY"]}, load_ts=L[i])
    v.load_hub(directors, "directors", ["PublicID"],
               satellites={"directors": ["NAME", "COUNTRY"]}, load_ts=L[i])
    v.load_link(movies, "movies_directors", from_name="movies", to_name="directors",
                fk_column="DIRECTOR_ID", load_ts=L[i])
    v.load_multilink(
        castings, "castings",
        [LinkedHubDefinition("movies", "MOVIE_ID"), LinkedHubDefinition("actors", "ACTOR_ID")],
        load_ts=L[i],
    )


def _t(v: RawVault, name: str):
    return v.spark.table(f"{v.config.raw_database}.{name}")


def latest_deleted(v: RawVault, eff_table: str, hkey: str) -> bool:
    rows = (
        _t(v, eff_table)
        .filter(F.col(C.hkey()) == hkey)
        .orderBy(F.col(C.load_date()).desc())
        .select(C.deleted())
        .limit(1)
        .collect()
    )
    assert rows, f"no effectivity rows for {hkey} in {eff_table}"
    return rows[0][0]


def latest_sat(v: RawVault, sat_table: str, hkey: str):
    rows = (
        _t(v, sat_table)
        .filter(F.col(C.hkey()) == hkey)
        .orderBy(F.col(C.load_date()).desc())
        .limit(1)
        .collect()
    )
    assert rows, f"no satellite rows for {hkey} in {sat_table}"
    return rows[0]


def test_batch0_initial_snapshot(spark, vault):
    load_batch(spark, vault, 0)

    # hubs exist exactly once per business key (cdc/test_datavault.py:508-560)
    assert _t(vault, "HUB__MOVIES").count() == 4
    assert _t(vault, "HUB__ACTORS").count() == 15
    assert _t(vault, "HUB__DIRECTORS").count() == 4
    assert _t(vault, "HUB__MOVIES").filter(F.col(C.hkey()) == _md5("1")).count() == 1

    # nothing deleted yet
    assert latest_deleted(vault, "SAT__EFFECTIVITY_MOVIES", _md5("1")) is False
    assert latest_deleted(vault, "SAT__EFFECTIVITY_ACTORS", _md5("1")) is False
    assert latest_deleted(vault, "SAT__EFFECTIVITY_DIRECTORS", _md5("1")) is False

    # castings link Shawshank⋈Tim Robbins exists once, open
    ck = _link_hkey("1", "1")  # multilink hkey = md5(concat of member hkeys)
    lnk = _t(vault, "LNK__CASTINGS").filter(
        (F.col(C.hkey_of("movies")) == _md5("1")) & (F.col(C.hkey_of("actors")) == _md5("1"))
    )
    assert lnk.count() == 1
    assert latest_deleted(vault, "SAT__EFFECTIVITY_CASTINGS", ck) is False

    # movies⋈directors link for Shawshank→Frank Darabont exists once, open
    mdk = _link_hkey("1", "1")
    lnk = _t(vault, "LNK__MOVIES_DIRECTORS").filter(F.col(C.hkey()) == mdk)
    assert lnk.count() == 1
    assert latest_deleted(vault, "SAT__EFFECTIVITY_MOVIES_DIRECTORS", mdk) is False

    # latest satellite values (cdc/test_datavault.py:635-676)
    m = latest_sat(vault, "SAT__MOVIES", _md5("1"))
    assert m["RATING"] == 9.3 and m["RANK"] == 64
    a = latest_sat(vault, "SAT__ACTORS", _md5("1"))
    assert a["COUNTRY"] == "USA"


def test_batch1_updates_and_deletes(spark, vault):
    load_batch(spark, vault, 1)

    # The Dark Knight: deleted at T2, re-created at T4 → alive, single hub row
    assert _t(vault, "HUB__MOVIES").filter(F.col(C.hkey()) == _md5("3")).count() == 1
    assert latest_deleted(vault, "SAT__EFFECTIVITY_MOVIES", _md5("3")) is False

    # Star Wars: deleted at T4 → dead (cdc/test_datavault.py:732-741)
    assert latest_deleted(vault, "SAT__EFFECTIVITY_MOVIES", _md5("4")) is True

    # casting (1,1): deleted at T1, re-created at T3 → alive;
    # casting (1,2): deleted at T1 → dead (cdc/test_datavault.py:743-786)
    assert latest_deleted(vault, "SAT__EFFECTIVITY_CASTINGS", _link_hkey("1", "1")) is False
    assert latest_deleted(vault, "SAT__EFFECTIVITY_CASTINGS", _link_hkey("1", "2")) is True

    # movies⋈directors (1→1): FK nulled at T3, restored at T4 → alive
    assert latest_deleted(vault, "SAT__EFFECTIVITY_MOVIES_DIRECTORS", _link_hkey("1", "1")) is False
    # movies⋈directors (6→6): FK nulled at T4 → dead (cdc:806-826)
    assert latest_deleted(vault, "SAT__EFFECTIVITY_MOVIES_DIRECTORS", _link_hkey("6", "6")) is True

    # Shawshank latest attributes after the T4 update (cdc:828-850)
    m = latest_sat(vault, "SAT__MOVIES", _md5("1"))
    assert m["RATING"] == 9.6 and m["RANK"] == 2

    # actor Robert Duvall deleted at T4
    assert latest_deleted(vault, "SAT__EFFECTIVITY_ACTORS", _md5("13")) is True


def test_batch2_fk_change(spark, vault):
    load_batch(spark, vault, 2)

    # Godfather's director changed 2→3 at T5: old link dead, new link alive
    old = _link_hkey("2", "2")
    new = _link_hkey("2", "3")
    links = _t(vault, "LNK__MOVIES_DIRECTORS")
    assert links.filter(F.col(C.hkey()) == old).count() == 1
    assert links.filter(F.col(C.hkey()) == new).count() == 1
    assert latest_deleted(vault, "SAT__EFFECTIVITY_MOVIES_DIRECTORS", old) is True
    assert latest_deleted(vault, "SAT__EFFECTIVITY_MOVIES_DIRECTORS", new) is False

    # Schindler's List: FK restored 6 at T5 → (6→6) alive again
    assert latest_deleted(vault, "SAT__EFFECTIVITY_MOVIES_DIRECTORS", _link_hkey("6", "6")) is False

    # Shawshank latest: 9.5 / rank 3 (cdc:938-954)
    m = latest_sat(vault, "SAT__MOVIES", _md5("1"))
    assert m["RATING"] == 9.5 and m["RANK"] == 3

    # final hub/link cardinalities: every entity exactly once
    assert _t(vault, "HUB__MOVIES").count() == 7
    assert _t(vault, "HUB__ACTORS").count() == 20
    assert _t(vault, "HUB__DIRECTORS").count() == 7
    # distinct (movie,director) pairs seen: (1..7→1..7 identity) + (2→3)
    assert links.count() == 8
    # 12 initial castings + 5 new at T2 + (7,19) at T3
    assert _t(vault, "LNK__CASTINGS").count() == 18
    # hub hkeys unique
    for t in ("HUB__MOVIES", "HUB__ACTORS", "HUB__DIRECTORS",
              "LNK__MOVIES_DIRECTORS", "LNK__CASTINGS"):
        df = _t(vault, t)
        assert df.count() == df.select(C.hkey()).distinct().count()


def test_idempotent_reload(spark, vault):
    before = {
        t: _t(vault, t).count()
        for t in ("HUB__MOVIES", "SAT__MOVIES", "SAT__EFFECTIVITY_MOVIES",
                  "LNK__MOVIES_DIRECTORS", "SAT__EFFECTIVITY_MOVIES_DIRECTORS",
                  "LNK__CASTINGS", "SAT__EFFECTIVITY_CASTINGS")
    }
    load_batch(spark, vault, 2)  # replay the last batch
    after = {t: _t(vault, t).count() for t in before}
    assert after == before, f"reload changed counts: {before} → {after}"


def test_pit_intervals_with_deletes(spark, vault):
    """PIT semantics the reference specs in its skipped test_pit_tables:
    a version's end date is the next version's load date, or the delete date
    inside its window; open intervals get the end-of-time sentinel."""
    sat = _t(vault, "SAT__MOVIES")
    eff = _t(vault, "SAT__EFFECTIVITY_MOVIES")
    pit = bv.pit_rows(sat, eff).cache()

    # Star Wars (PublicID 4): versions at T0 and T3, deleted at T4
    rows = {r[C.load_date()]: r[C.load_end_date()]
            for r in pit.filter(F.col(C.hkey()) == _md5("4")).collect()}
    assert rows[T0] == T3
    assert rows[T3] == T4  # closed by the delete, not left open

    # Shawshank (PublicID 1): last version at T5 still open
    rows = {r[C.load_date()]: r[C.load_end_date()]
            for r in pit.filter(F.col(C.hkey()) == _md5("1")).collect()}
    assert rows[T5] == END_OF_TIME
    assert rows[T0] == T3  # first version ends at the first update
    pit.unpersist()


def test_join_linked_hubs_movies_directors(spark, vault):
    """join_linked_hubs on the loaded golden vault (the reference specs this
    in its skipped test_business_vault, cdc/test_datavault.py:1155-1263):
    movies ⋈ LNK__MOVIES_DIRECTORS ⋈ directors with temporal zip."""
    from pyspark_playground_spark.operators.vault import BusinessVault

    bvc = BusinessVault(spark, vault.config, vault.conv)
    movies = bvc.read_data_from_hub("movies", ["NAME", "RATING", "RANK"],
                                    include_hkey=True)
    directors = bvc.read_data_from_hub("directors", ["NAME"], include_hkey=True) \
        .withColumnRenamed("NAME", "DIRECTOR_NAME").withColumnRenamed("PublicID", "DID")
    link = _t(vault, "LNK__MOVIES_DIRECTORS")
    from pyspark_playground_spark.operators import business_vault as bvk

    joined = bvk.join_linked_dataframes(
        movies, link, directors,
        from_hkey_column=C.hkey_of("movies"),
        to_hkey_column=C.hkey_of("directors"),
    )

    # Godfather's director changed 2→3 at T5: the latest open movie version
    # (rating 8.9) joins Christopher Nolan (director 3)
    godfather_latest = joined.filter(
        (F.col("PublicID") == "2") & (F.col("DID") == "3")
        & (F.col(C.load_end_date()) == END_OF_TIME)
    ).collect()
    assert len(godfather_latest) == 1
    assert godfather_latest[0]["RATING"] == 8.9
    assert godfather_latest[0]["DIRECTOR_NAME"] == "Christopher Nolan"

    # the link table keeps the historical (2→2) pair too; its joined rows
    # exist but none extend to the open interval of the latest version with
    # Coppola only via older movie versions
    coppola = joined.filter((F.col("PublicID") == "2") & (F.col("DID") == "2"))
    assert coppola.count() > 0

    # Shawshank (1) ⋈ Frank Darabont (1): latest version (T5, rating 9.5)
    shaw = joined.filter(
        (F.col("PublicID") == "1") & (F.col("DID") == "1")
        & (F.col(C.load_end_date()) == END_OF_TIME)
    ).collect()
    assert len(shaw) == 1 and shaw[0]["RATING"] == 9.5
