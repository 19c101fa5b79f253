"""``registry_queries``: registry entries, each built then executed.

One pass runs a fixed list of ``__spark_entry__.queries()`` entries over
generated TPC-H / documents / embeddings / events parquet.  Each operation
is one entry: the build call (which may run eager jobs — iterative
trainers, connected-components rounds, Newton steps) and then an
execution with the ``noop`` sink.  The untimed warm-up executes every
entry once and checks it against ``oracle_sql()`` in DuckDB wherever an
oracle exists; a mismatch marks every timed op of that entry failed.
"""

from __future__ import annotations

import math
import os
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor

import duckdb
import pandas as pd

import gen

SF = 0.002
#: driver threads of the warm-up, which starts the entries slowest first so
#: that their one-off plan compilations overlap.  One entry after another
#: the warm-up of 15 entries took 52 s and a run 85 s on 4 vCPUs, which puts
#: a round of 48 runs over its 3420 s budget.
WARM_THREADS = 4

#: the corpus pipeline and the iterative entries, driver-build-heavy
DRIVER_HEAVY = [
    "declarative_pipeline_documents",
    "entity_resolution_part",
    "ivf_pq_train_model_embeddings",
    "minhash_lsh_dedup_documents",
    "incremental_day2_minhash_documents",
    "cox_purchasers_events",
    "markov_attribution_events",
]
#: entries for the layer functions no other entry or workload reaches: the
#: perceptual-hash media dedup, IVF-PQ encode and precoded search, the
#: business-vault snapshot read and the curated mapping
LAYERS = [
    "incremental_ahash_documents",
    "ivf_pq_encode_corpus_embeddings",
    "ivf_pq_precoded_search_embeddings",
    "dv_snapshot_at_events",
    "dv_curated_customer",
]
#: scan / join / aggregate contrast entries, execution-bound
CONTRAST = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "dv_linked_customer_orders",
    "dv_read_hub_sat_pit_events",
]
#: slowest first: the warm-up starts the entries in this order
ENTRIES = DRIVER_HEAVY + LAYERS + CONTRAST
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def write_inputs(seed: int, sf: float, out: str) -> dict[str, int]:
    """Write every source table; returns row counts per table."""
    n = gen.counts(sf)
    tables = {
        **gen.tpch_tables(seed, sf),
        **gen.corpus_tables(seed, n["documents"], n["embeddings"]),
        "events": gen.events_table(seed, n["events"]),
    }
    gen.write_tables(tables, out)
    return {t: len(df) for t, df in tables.items()}


class _ReadSpy:
    """Records, per driver thread, the source tables ``spark.read.parquet`` opens."""

    def __init__(self) -> None:
        from pyspark.sql.readwriter import DataFrameReader

        self.cls, self.original = DataFrameReader, DataFrameReader.parquet
        self.seen: dict[int, set[str]] = {}

    def __enter__(self) -> "_ReadSpy":
        original, seen = self.original, self.seen

        def spy(reader, *paths, **kw):
            mine = seen.setdefault(threading.get_ident(), set())
            for p in paths:
                name = os.path.basename(str(p))
                if name.endswith(".parquet"):
                    mine.add(name[: -len(".parquet")])
            return original(reader, *paths, **kw)

        self.cls.parquet = spy
        return self

    def __exit__(self, *exc) -> None:
        self.cls.parquet = self.original

    def take(self) -> set[str]:
        return self.seen.pop(threading.get_ident(), set())


def make_inputs(args, work: str) -> tuple[str, dict[str, int]]:
    """Source parquet directory and row counts per table (no Spark)."""
    src = os.path.join(work, "src")
    return src, write_inputs(args.seed, args.sf or SF, src)


def setup(b, made: tuple[str, dict[str, int]]) -> dict:
    from pyspark_playground_spark import queries as Q

    src, rows = made
    registry, oracles = Q.queries(), Q.oracle_sql()
    con = duckdb.connect()
    con.execute(f"SET threads = {max(1, os.cpu_count() // 2)}")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}/{t}.parquet')")
    state = {"src": src, "registry": registry, "rows": {}, "bad": set()}

    t_start = time.perf_counter()

    def warm(name: str) -> None:
        """First execution of ``name``: compiles its plans, checks its oracle."""
        df = registry[name](b.spark, src)
        if name in oracles:
            want = con.cursor().sql(oracles[name]).df()
            why = oracle_mismatch(df.toPandas(), want)
            if why:
                b.fail(None, f"{name} disagrees with its oracle: {why}")
                state["bad"].add(name)
        else:
            df.write.format("noop").mode("overwrite").save()
        state["rows"][name] = sum(rows[t] for t in spy.take() if t in rows)
        print(f"warm-up {name} done at {time.perf_counter() - t_start:.1f}s",
              file=sys.stderr)

    with _ReadSpy() as spy, ThreadPoolExecutor(WARM_THREADS) as pool:
        list(pool.map(warm, ENTRIES))
    return state


def run_pass(b, state: dict) -> None:
    for name in ENTRIES:
        fn = state["registry"][name]

        def op(fn=fn):
            t0 = time.perf_counter()
            df = fn(b.spark, state["src"])
            t1 = time.perf_counter()
            build_jobs = b.tracer.jobs_so_far()
            df.write.format("noop").mode("overwrite").save()
            return {"build_s": t1 - t0, "execute_s": time.perf_counter() - t1,
                    "build_jobs": build_jobs}

        b.op(name, "query", op, rows=state["rows"][name])
        if name in state["bad"]:
            b.fail(b.ops[-1], f"{name} failed its oracle check in warm-up")


def final_checks(b, state: dict) -> None:
    b.notes["oracle_failures"] = sorted(state["bad"])


# ---------------------------------------------------------------------------
# oracle comparison
# ---------------------------------------------------------------------------

def _norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            s = df[c]
            if getattr(s.dt, "tz", None) is not None:
                s = s.dt.tz_convert("UTC").dt.tz_localize(None)
            df[c] = s.astype("datetime64[us]")
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)


def oracle_mismatch(got: pd.DataFrame, want: pd.DataFrame, rel: float = 1e-9) -> str:
    """Order-insensitive comparison of a Spark result with its DuckDB oracle.

    Exact on every column except floats, which agree to ``rel`` (``rel=0``
    makes them exact too).  Returns a reason, or '' when the frames agree.
    """
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"{len(got)} rows != {len(want)}"
    a, w = _norm(got), _norm(want)
    for c in a.columns:
        for i, (x, y) in enumerate(zip(a[c], w[c])):
            xn = x is None or (isinstance(x, float) and math.isnan(x)) or x is pd.NaT
            yn = y is None or (isinstance(y, float) and math.isnan(y)) or y is pd.NaT
            if xn or yn:
                if xn != yn:
                    return f"col {c} row {i}: {x!r} != {y!r}"
                continue
            if isinstance(x, float) or isinstance(y, float):
                if abs(float(x) - float(y)) > rel * max(1.0, abs(float(y))):
                    return f"col {c} row {i}: {x!r} != {y!r}"
            elif str(x) != str(y):
                return f"col {c} row {i}: {x!r} != {y!r}"
    return ""
