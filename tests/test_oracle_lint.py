"""The oracle result-type lint (scripts/check_oracle.py) is the last line
of defense before the driver gate: it must go red on every result shape
the driver's pandas canonicalizer can't hash — HUGEINT (renders as
float64, hash-splits vs Spark's int string) and non-scalar LIST/STRUCT/
MAP columns (``pandas.sort_values`` raises ``unhashable type: 'list'``,
the r5 driver-red class) — and stay green on scalar frames.

No SparkSession needed: the lint inspects DuckDB relation types and
pandas frames only.
"""

import sys
from pathlib import Path

import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "scripts"))

from check_oracle import lint_oracle_types  # noqa: E402


def _duck_types(sql):
    import duckdb

    rel = duckdb.connect().sql(sql)
    return list(zip(rel.columns, (str(t) for t in rel.types)))


def test_lint_flags_hugeint():
    types = _duck_types("SELECT sum(x) AS s FROM (VALUES (1), (2)) t(x)")
    assert any("HUGEINT" in t for _, t in types), "DuckDB sum(int) is HUGEINT"
    problems = lint_oracle_types("t", types)
    assert len(problems) == 1 and "BIGINT" in problems[0]


def test_lint_flags_list_struct_map_columns():
    for sql, kind in [
        ("SELECT list(x) AS c FROM (VALUES (1), (2)) t(x)", "list"),
        ("SELECT {'a': 1} AS c", "struct"),
        ("SELECT map(['k'], [1]) AS c", "map"),
    ]:
        problems = lint_oracle_types("t", _duck_types(sql))
        assert problems, f"{kind} column must be flagged"
        assert "non-scalar" in problems[0]


def test_lint_flags_spark_object_column_holding_lists():
    sp = pd.DataFrame({"c": [[1, 2], None, [3]]})
    problems = lint_oracle_types("t", [], spdf=sp, ddf=sp)
    assert problems and "array_join" in problems[0]


def test_lint_green_on_scalar_frames():
    types = _duck_types(
        "SELECT CAST(sum(x) AS BIGINT) AS s, 'a,b' AS joined, 1.5 AS f "
        "FROM (VALUES (1), (2)) t(x)"
    )
    sp = pd.DataFrame({"s": [3], "joined": ["a,b"], "f": [1.5]})
    assert lint_oracle_types("t", types, spdf=sp, ddf=sp) == []
