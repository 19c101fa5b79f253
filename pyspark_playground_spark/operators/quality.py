"""Vault integrity checks: the data-quality surface for operating a vault.

Beyond the reference (it has no quality checks), but directly implied by
its structure: every satellite/effectivity row must resolve to a hub or
link hkey, link members must resolve to their hubs, and key columns must be
unique. Each check is a single anti-join or aggregation — at 100 TB these
run as one shuffle each against bucketed tables (shuffle-free on the
bucketed side).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyspark_playground_spark.conventions import DataVaultConventions

CONV = DataVaultConventions()


@dataclass(frozen=True)
class CheckResult:
    check: str
    table: str
    violations: int

    @property
    def ok(self) -> bool:
        return self.violations == 0


def orphan_rows(
    child: DataFrame, parent: DataFrame, *, conv: DataVaultConventions = CONV
) -> DataFrame:
    """Child rows whose hkey does not exist in the parent (satellite → hub,
    effectivity → hub/link)."""
    hkey = conv.hkey()
    return child.join(parent.select(hkey), hkey, "left_anti")


def dangling_link_members(
    link: DataFrame,
    hubs: dict[str, DataFrame],
    *,
    conv: DataVaultConventions = CONV,
) -> DataFrame:
    """Link rows whose member hkey columns don't resolve to their hubs.

    ``hubs`` maps member column name → hub DataFrame. Null members (allowed:
    unresolved FKs) are not violations.
    """
    out = None
    for col, hub in hubs.items():
        bad = (
            link.filter(F.col(col).isNotNull())
            .join(
                hub.select(F.col(conv.hkey()).alias(col)), col, "left_anti"
            )
            .withColumn("__dangling_member", F.lit(col))
        )
        out = bad if out is None else out.unionByName(bad)
    return out


def duplicate_keys(df: DataFrame, keys: list[str]) -> DataFrame:
    """Key groups appearing more than once."""
    return (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
    )


def integrity_report(
    *,
    hubs: dict[str, DataFrame] | None = None,
    links: dict[str, tuple[DataFrame, dict[str, DataFrame]]] | None = None,
    satellites: dict[str, tuple[DataFrame, DataFrame]] | None = None,
    conv: DataVaultConventions = CONV,
) -> list[CheckResult]:
    """Run the standard vault checks and return one result per check.

    - ``hubs``: name → hub DF (checked: hkey uniqueness).
    - ``links``: name → (link DF, member column → hub DF) (checked: hkey
      uniqueness + dangling members).
    - ``satellites``: name → (satellite DF, parent hub/link DF) (checked:
      (hkey, load_date) uniqueness + orphans).
    """
    results: list[CheckResult] = []
    for name, hub in (hubs or {}).items():
        results.append(
            CheckResult("unique_hkey", name, duplicate_keys(hub, [conv.hkey()]).count())
        )
    for name, (link, members) in (links or {}).items():
        results.append(
            CheckResult("unique_hkey", name, duplicate_keys(link, [conv.hkey()]).count())
        )
        results.append(
            CheckResult(
                "dangling_members", name,
                dangling_link_members(link, members, conv=conv).count(),
            )
        )
    for name, (sat, parent) in (satellites or {}).items():
        results.append(
            CheckResult(
                "unique_version_key", name,
                duplicate_keys(sat, [conv.hkey(), conv.load_date()]).count(),
            )
        )
        results.append(
            CheckResult("orphans", name, orphan_rows(sat, parent, conv=conv).count())
        )
    return results


def robust_outliers(
    df: DataFrame,
    value_column: str,
    by: str | Sequence[str],
    *,
    threshold: float = 3.0,
    z_column: str = "robust_z",
    flag_column: str = "is_outlier",
) -> DataFrame:
    """Flag rows whose value is a robust outlier within its group.

    Uses the median/MAD robust z-score — ``(x - median) / MAD`` — instead
    of mean/stddev, so a corpus slice where 1% of documents are 1000×
    too long still gets a sane center and spread (mean/std would be
    dragged by exactly the rows being hunted). The standard filter for
    per-source length/quality screening of training corpora.

    Two grouped exact-percentile aggregations (median, then MAD) plus the
    join back — three shuffles on the group key, each with partial
    aggregation. Degenerate groups (MAD = 0, i.e. >=50% identical values)
    yield NULL ``robust_z`` and a false flag rather than dividing by zero.
    """
    groups = [by] if isinstance(by, str) else list(by)
    v = F.col(value_column)
    med = df.groupBy(*groups).agg(
        F.percentile(value_column, F.lit(0.5)).alias("__med")
    )
    with_med = df.join(med, groups)
    mad = with_med.groupBy(*groups).agg(
        F.percentile(F.abs(v - F.col("__med")), F.lit(0.5)).alias("__mad")
    )
    z = (v - F.col("__med")) / F.col("__mad")
    return (
        with_med.join(mad, groups)
        .withColumn(z_column, F.when(F.col("__mad") != 0, z))
        .withColumn(
            flag_column,
            F.when(F.col("__mad") != 0, F.abs(z) > threshold).otherwise(F.lit(False)),
        )
        .drop("__med", "__mad")
    )


def winsorize(
    df: DataFrame,
    value_column: str,
    group_column: str,
    *,
    lower: float = 0.05,
    upper: float = 0.95,
) -> DataFrame:
    """Per-group percentile clipping (winsorization): heavy-tail damping
    before statistics that outliers dominate — the softer sibling of
    ``robust_outliers`` (clip instead of drop).

    Bounds are EXACT interpolated percentiles (one shuffle on the group
    key; Spark's ``percentile`` is the same linear interpolation DuckDB's
    ``quantile_cont`` computes over exact integers, so bounds — and hence
    the clipped values — are engine-stable doubles). The bounds table has
    one row per group and joins back on the group key; no hint, AQE
    chooses broadcast when groups are dimension-sized.

    Adds ``<value>_clipped`` (double) alongside the original column.
    """
    bounds = df.groupBy(group_column).agg(
        F.percentile(value_column, F.lit(lower)).alias("__lo"),
        F.percentile(value_column, F.lit(upper)).alias("__hi"),
    )
    v = F.col(value_column).cast("double")
    return (
        df.join(bounds, group_column)
        .withColumn(
            f"{value_column}_clipped",
            F.least(F.greatest(v, F.col("__lo")), F.col("__hi")),
        )
        .drop("__lo", "__hi")
    )


def observed_write(
    df: DataFrame,
    writer,
    *,
    metrics: dict[str, "F.Column"],
    gates: dict[str, tuple[float, float]] | None = None,
) -> dict[str, float]:
    """Single-pass write with in-flight metrics + hard quality gates — the
    pipeline-observability pattern: ``df.observe`` attaches aggregate
    metrics to the SAME job that materializes the data, so counting nulls /
    rows / bad values costs **zero extra scans** (vs the naive
    count-then-write double read, which at 100 TB doubles the bill).

    ``writer`` is a callable that materializes the observed DataFrame
    (e.g. ``lambda d: d.write.mode(...).parquet(path)``). ``metrics`` maps
    metric name → aggregate Column (count/sum/avg/...). ``gates`` maps a
    metric name → inclusive ``(lo, hi)`` bounds checked AFTER the write;
    a violated gate raises ``ValueError`` listing every violation — the
    caller decides whether the written output is published (write to a
    staging path and swap it in only on pass).

    Returns the observed metrics dict.
    """
    from pyspark.sql import Observation

    obs = Observation("observed_write")
    writer(df.observe(obs, *[c.alias(n) for n, c in metrics.items()]))
    got = obs.get
    if gates:
        bad = [
            f"{name}={got[name]!r} outside [{lo}, {hi}]"
            for name, (lo, hi) in gates.items()
            if not (lo <= float(got[name]) <= hi)
        ]
        if bad:
            raise ValueError("quality gates failed: " + "; ".join(bad))
    return dict(got)


def table_diff(
    old: DataFrame,
    new: DataFrame,
    keys: Sequence[str],
    *,
    compare_columns: Sequence[str] | None = None,
) -> DataFrame:
    """Snapshot regression diff — the canary check before promoting a
    rebuilt table: one full-outer join on the key classifies every row as
    ``added`` (key only in new), ``removed`` (only in old), ``changed``
    (key in both, any compared column differs, null-safe) or
    ``unchanged``, and returns one count row per class. Run it between
    yesterday's output and today's rebuild; an unexpected ``removed`` or
    ``changed`` spike blocks the publish.

    ``compare_columns`` defaults to all shared non-key columns. One key
    shuffle (the full-outer join); counts are a map-side-combined
    aggregate. Pair with ``observed_write`` for the gate-then-swap flow.

    Duplicate keys do NOT fan out: each side is pre-aggregated per key to
    ``(row count, order-insensitive multiset fingerprint)`` before the
    join, so a key appearing twice identically on both sides is
    ``unchanged``, while any difference in multiplicity or content is
    ``changed``. The classification unit is therefore the KEY, not the
    row — ``n_rows`` counts distinct keys per class.
    """
    keys = list(keys)
    if compare_columns is None:
        shared = [c for c in old.columns if c in set(new.columns)]
        compare_columns = [c for c in shared if c not in keys]

    def _per_key(df: DataFrame, tag: str) -> DataFrame:
        # sum-of-hashes is an order-insensitive multiset fingerprint;
        # xxhash64 maps NULL payloads deterministically, so the compare
        # stays null-safe without a row-level eqNullSafe.
        return df.groupBy(
            *[F.col(k).alias(f"__k_{k}") for k in keys]
        ).agg(
            F.struct(
                F.count(F.lit(1)).alias("n"),
                # decimal accumulator: a bigint sum of 64-bit hashes
                # overflows under ANSI; decimal(20,0) sums widen to 30
                # digits — exact for any realistic row count
                F.sum(
                    F.xxhash64(
                        F.struct(*[F.col(c) for c in compare_columns])
                    ).cast("decimal(20,0)")
                ).alias("fp"),
            ).alias(f"__{tag}_v")
        )

    o = _per_key(old, "old").withColumn("__in_old", F.lit(True))
    n = _per_key(new, "new").withColumn("__in_new", F.lit(True))
    j = o.join(n, [f"__k_{k}" for k in keys], "full_outer")
    cls = (
        F.when(F.col("__in_old").isNull(), F.lit("added"))
        .when(F.col("__in_new").isNull(), F.lit("removed"))
        .when(
            F.col("__old_v").eqNullSafe(F.col("__new_v")), F.lit("unchanged")
        )
        .otherwise(F.lit("changed"))
    )
    return (
        j.select(cls.alias("diff_class"))
        .groupBy("diff_class")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )


def check_expectations(df: DataFrame, rules: list[dict]) -> DataFrame:
    """Declarative data unit tests (the Deequ/dbt-tests shape, public
    pattern): evaluate a list of rules against a frame and return one
    row per rule with exact violation counts — the contract check a
    table must pass before promotion, as DATA (joinable, storable,
    diffable run-to-run) rather than assertions in someone's notebook.

    Rule shapes (``type`` + parameters):

    - ``not_null``: {column} — NULLs are violations;
    - ``accepted_values``: {column, values} — non-NULL values outside
      the list are violations (NULL is ``not_null``'s job);
    - ``range``: {column, min?, max?} — non-NULL values outside the
      closed interval are violations;
    - ``regex_match``: {column, pattern} — non-NULL values not fully
      matching are violations (Spark ``rlike`` is unanchored — the
      pattern is wrapped ``^(...)$``);
    - ``unique``: {columns} — rows in excess of one per key are
      violations (a key seen k>1 times contributes k-1);
    - ``row_count_between``: {min?, max?} — violation count is the
      shortfall/overage of the total row count.

    Plan: ALL row-wise rules (not_null/accepted/range/regex) fold into
    ONE single-pass aggregate over the frame (conditional sums —
    map-side combined, zero extra scans per rule); each ``unique`` rule
    adds one groupBy on its key set; ``row_count_between`` reuses the
    single-pass total. Results union into a model-sized frame.

    Output: (rule_id, rule_type, target, n_rows, n_violations, passed)
    — ``rule_id`` is the 0-based position in ``rules``.
    """
    spark = df.sparkSession
    rowwise_aggs = [F.count(F.lit(1)).alias("__n")]
    rowwise_meta = []  # (rule_id, type, target, agg_alias)
    unique_rules = []
    count_rules = []
    for i, r in enumerate(rules):
        t = r["type"]
        alias = f"__v{i}"
        if t == "not_null":
            c = F.col(r["column"])
            rowwise_aggs.append(
                F.sum(F.when(c.isNull(), 1).otherwise(0)).alias(alias)
            )
            rowwise_meta.append((i, t, r["column"], alias))
        elif t == "accepted_values":
            c = F.col(r["column"])
            rowwise_aggs.append(
                F.sum(
                    F.when(
                        c.isNotNull() & ~c.isin(list(r["values"])), 1
                    ).otherwise(0)
                ).alias(alias)
            )
            rowwise_meta.append((i, t, r["column"], alias))
        elif t == "range":
            c = F.col(r["column"])
            cond = F.lit(False)
            if "min" in r:
                cond = cond | (c < F.lit(r["min"]))
            if "max" in r:
                cond = cond | (c > F.lit(r["max"]))
            rowwise_aggs.append(
                F.sum(F.when(c.isNotNull() & cond, 1).otherwise(0)).alias(
                    alias
                )
            )
            rowwise_meta.append((i, t, r["column"], alias))
        elif t == "regex_match":
            c = F.col(r["column"])
            rowwise_aggs.append(
                F.sum(
                    F.when(
                        c.isNotNull()
                        & ~c.rlike(f"^({r['pattern']})$"),
                        1,
                    ).otherwise(0)
                ).alias(alias)
            )
            rowwise_meta.append((i, t, r["column"], alias))
        elif t == "unique":
            unique_rules.append((i, list(r["columns"])))
        elif t == "row_count_between":
            count_rules.append((i, r.get("min"), r.get("max")))
        else:
            raise ValueError(f"rule {i}: unknown expectation type {t!r}")

    base = df.agg(*rowwise_aggs)
    # ONE scan for every row-wise + count rule: the one-row aggregate
    # explodes into rule rows (a union of per-rule selects would re-derive
    # the aggregate — and re-scan the source — once per rule)
    structs = []
    for i, t, target, alias in rowwise_meta:
        structs.append(
            F.struct(
                F.lit(i).cast("long").alias("rule_id"),
                F.lit(t).alias("rule_type"),
                F.lit(target).alias("target"),
                F.col("__n").cast("long").alias("n_rows"),
                F.coalesce(F.col(alias), F.lit(0))
                .cast("long")
                .alias("n_violations"),
            )
        )
    for i, lo, hi in count_rules:
        viol = F.lit(0).cast("long")
        if lo is not None:
            viol = viol + F.when(
                F.col("__n") < lo, F.lit(lo) - F.col("__n")
            ).otherwise(0)
        if hi is not None:
            viol = viol + F.when(
                F.col("__n") > hi, F.col("__n") - F.lit(hi)
            ).otherwise(0)
        structs.append(
            F.struct(
                F.lit(i).cast("long").alias("rule_id"),
                F.lit("row_count_between").alias("rule_type"),
                F.lit("").alias("target"),
                F.col("__n").cast("long").alias("n_rows"),
                viol.cast("long").alias("n_violations"),
            )
        )
    parts = []
    if structs:
        parts.append(
            base.select(F.explode(F.array(*structs)).alias("__r")).select(
                "__r.*"
            )
        )
    for i, cols in unique_rules:
        dup = (
            df.groupBy(*cols)
            .agg(F.count(F.lit(1)).alias("__c"))
            .agg(
                F.coalesce(F.sum("__c"), F.lit(0)).alias("__n"),
                F.coalesce(
                    F.sum(F.col("__c") - 1), F.lit(0)
                ).alias("__dups"),
            )
        )
        parts.append(
            dup.select(
                F.lit(i).cast("long").alias("rule_id"),
                F.lit("unique").alias("rule_type"),
                F.lit(",".join(cols)).alias("target"),
                F.col("__n").cast("long").alias("n_rows"),
                F.col("__dups").cast("long").alias("n_violations"),
            )
        )
    if not parts:
        raise ValueError("check_expectations: no rules given")
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    _ = spark  # session kept for API symmetry with siblings
    return out.withColumn("passed", F.col("n_violations") == 0)
