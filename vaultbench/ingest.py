"""``vault_ingest``: the paper's write path, CDC batches into a Data Vault.

A vault starts from empty databases with ``VaultConfig`` defaults and
loads, through ``DeclarativeVault.load_batch``, one bulk CDC batch and then
small increments (creates, updates, deletes) with one increment replayed
exactly.  The bulk batch and the first increment are loaded before timing:
they fill the vault and compile every load plan once.  The timed pass is
the rest: the second increment and the replay, small batches against a
full vault, then one read of the current view of every hub.

Checks (untimed, each failure marks the operation it belongs to):

- the replay appends zero rows to every vault table;
- every satellite hkey and every link member hkey exists in its hub, and
  every link effectivity hkey exists in its link;
- the current view (open-ended rows of the historized hub read) equals
  the final source state DuckDB computes from the generated CDC parquet.
"""

from __future__ import annotations

import glob
import os
import statistics
import time

import duckdb
import pandas as pd

import gen
from registry import oracle_mismatch

SF = 0.001
N_INCREMENTS = 2

MAPPING = """
hubs:
  - {name: HUB__CUSTOMER, source_table: customer, business_keys: [c_custkey]}
  - {name: HUB__ORDERS, source_table: orders, business_keys: [o_orderkey]}
  - {name: HUB__PART, source_table: part, business_keys: [p_partkey]}
  - {name: HUB__SUPPLIER, source_table: supplier, business_keys: [s_suppkey]}
links:
  - name: LNK__ORDERS_CUSTOMER
    source_table: orders
    to:
      - {source_column: o_custkey, source_foreign_key: {table: customer, column: c_custkey}}
  - name: LNK__LINEITEM
    source_table: lineitem
    to:
      - {source_column: l_orderkey, source_foreign_key: {table: orders, column: o_orderkey}}
      - {source_column: l_partkey, source_foreign_key: {table: part, column: p_partkey}}
      - {source_column: l_suppkey, source_foreign_key: {table: supplier, column: s_suppkey}}
satellites:
  - {name: SAT__CUSTOMER, hub: HUB__CUSTOMER, source_table: customer}
  - {name: SAT__ORDERS, hub: HUB__ORDERS, source_table: orders}
  - {name: SAT__PART, hub: HUB__PART, source_table: part}
  - {name: SAT__SUPPLIER, hub: HUB__SUPPLIER, source_table: supplier}
"""
ENTITIES = {t.upper(): (t, k) for t, k in gen.HUB_KEYS.items()}
#: link entity -> member hub entities
LINK_MEMBERS = {"ORDERS_CUSTOMER": ["ORDERS", "CUSTOMER"],
                "LINEITEM": ["ORDERS", "PART", "SUPPLIER"]}


def _type(dtype) -> str:
    s = str(dtype)
    if s.startswith("datetime"):
        return "timestamp"
    return {"int64": "bigint", "int32": "integer", "float64": "double"}.get(s, "text")


def source_schema(src: dict[str, pd.DataFrame]) -> dict:
    tables = []
    for t in ["customer", "orders", "part", "supplier", "lineitem"]:
        df = src[t]
        pk = [gen.HUB_KEYS[t]] if t in gen.HUB_KEYS else gen.LINEITEM_KEY
        tables.append({
            "name": t,
            "columns": [{"name": c, "type": _type(df[c].dtype)} for c in df.columns],
            "primaryKey": pk, "foreignKeys": [],
        })
    return {"name": "tpch", "tables": tables}


class Inputs:
    """A CDC plan written to parquet, one directory per batch."""

    def __init__(self, seed: int, sf: float, root: str) -> None:
        self.src = gen.tpch_tables(seed, sf)
        self.plan = gen.cdc_plan(seed, self.src, n_increments=N_INCREMENTS)
        self.root = root
        self.bytes = 0
        for bt in self.plan.batches():
            if bt.replay_of is None:
                for t, df in bt.tables.items():
                    self.bytes += gen.write_parquet(df, self.path(bt, t))

    def path(self, bt: gen.Batch, table: str) -> str:
        return os.path.join(self.root, bt.replay_of or bt.name, f"{table}.parquet")


class Vault:
    """One empty declarative vault in its own databases."""

    def __init__(self, b, inputs: Inputs, tag: str) -> None:
        from pyspark_playground_spark import (
            DeclarativeVault, SourceSchema, VaultConfig, VaultMapping,
        )

        self.b, self.inputs, self.tag = b, inputs, tag
        self.config = VaultConfig(
            staging_prepared_database=f"{tag}_staging",
            raw_database=f"{tag}_raw",
            curated_database=f"{tag}_curated",
        )
        self.dv = DeclarativeVault(
            b.spark, SourceSchema.from_dict(source_schema(inputs.src)),
            VaultMapping.from_yaml(MAPPING), self.config,
        )
        self.dv.create_tables()
        self.db_dir = os.path.join(b.work, "warehouse", f"{self.config.raw_database}.db")

    def read(self, bt: gen.Batch) -> dict:
        r = self.b.spark.read
        return {t: r.parquet(self.inputs.path(bt, t)) for t in bt.tables}

    def load(self, bt: gen.Batch) -> None:
        self.dv.load_batch(self.read(bt), load_ts=bt.load_ts)

    # ---- on-disk view for the checks ---------------------------------
    def table_files(self) -> dict[str, list[str]]:
        out = {}
        for d in sorted(glob.glob(os.path.join(self.db_dir, "*"))):
            out[os.path.basename(d).upper()] = glob.glob(
                os.path.join(d, "**", "*.parquet"), recursive=True
            )
        return out

    def row_counts(self) -> dict[str, int]:
        con = duckdb.connect()
        return {
            t: (con.execute("SELECT count(*) FROM read_parquet(?)", [fs]).fetchone()[0]
                if fs else 0)
            for t, fs in self.table_files().items()
        }

    def bytes_on_disk(self) -> int:
        return sum(os.path.getsize(f) for fs in self.table_files().values() for f in fs)


def run_ops(b, v: Vault, pass_no: int, batches: list[gen.Batch]) -> None:
    """Load ``batches`` as timed operations, checking that replays append nothing."""
    for bt in batches:
        name = f"p{pass_no}.{bt.name}"
        if bt.replay_of is None:
            b.op(name, "increment", lambda bt=bt: v.load(bt), rows=bt.rows())
            continue
        before = v.row_counts()
        b.op(name, "replay", lambda bt=bt: v.load(bt), rows=bt.rows())
        after = v.row_counts()
        grew = {t: after[t] - before.get(t, 0) for t in after if after[t] != before.get(t, 0)}
        if grew:
            b.fail(b.ops[-1], f"replay of {bt.replay_of} appended rows: {grew}")


def make_inputs(args, work: str) -> Inputs:
    """The CDC plan, written to parquet (no Spark)."""
    return Inputs(args.seed, args.sf or SF, os.path.join(work, "cdc"))


def fill(b, inputs: Inputs, tag: str) -> tuple[Vault, float]:
    """A fresh vault with the bulk batch and the first increment loaded."""
    v = Vault(b, inputs, tag)
    t0 = time.perf_counter()
    v.load(inputs.plan.bulk)
    bulk_s = time.perf_counter() - t0
    v.load(inputs.plan.increments[0])
    return v, bulk_s


def setup(b, inputs: Inputs) -> dict:
    v, bulk_s = fill(b, inputs, "p1")
    b.notes["bulk_load_cold_s"] = bulk_s
    want = {e: expected_current(inputs, t) for e, (t, _) in ENTITIES.items()}
    for entity, df in want.items():  # warm the read plans; the vault is not final yet
        current_view(b.spark, v, entity, list(df.columns))
    return {"inputs": inputs, "passes": 0, "filled": v, "vaults": [], "want": want}


def run_pass(b, state: dict) -> None:
    state["passes"] += 1
    v = state.pop("filled", None)
    if v is None:  # later passes fill their own vault, untimed and untraced
        traced, b.tracer.enabled = b.tracer.enabled, False
        try:
            v, _ = fill(b, state["inputs"], f"p{state['passes']}")
        finally:
            b.tracer.enabled = traced
    run_ops(b, v, state["passes"], state["inputs"].plan.increments[1:])
    read_current(b, v, state["passes"], state["want"])
    state["vaults"].append(v)


def read_current(b, v: Vault, pass_no: int, want: dict[str, pd.DataFrame]) -> None:
    """Read the current view of every hub as one timed operation; check each."""
    got = {}

    def read():
        for entity, expected in want.items():
            got[entity] = current_view(b.spark, v, entity, list(expected.columns))

    b.op(f"p{pass_no}.current", "read", read)
    for entity, df in got.items():
        why = oracle_mismatch(df, want[entity], rel=0.0)
        if why:
            b.fail(b.ops[-1], f"current view of {ENTITIES[entity][0]}: {why}")


def final_checks(b, state: dict) -> None:
    for v in state["vaults"]:
        last = b.ops[-1] if b.ops else None
        for why in orphan_problems(v.table_files(), v.dv.conv):
            b.fail(last, why)
    v = state["vaults"][-1]
    b.notes.update({
        "increment_p50_s": statistics.median(o.wall for o in b.ops if o.kind == "increment"),
        "storage_amplification": v.bytes_on_disk() / v.inputs.bytes,
        "cdc_rows_per_pass": sum(bt.rows() for bt in v.inputs.plan.batches()),
    })
    if b.args.trace:
        b.layer.update(insert_ratios(v))


def insert_ratios(v: Vault) -> dict[str, float]:
    """Rows appended / rows staged over every batch the vault loaded, per table kind."""
    conv = v.dv.conv
    staged: dict[str, int] = {}
    for bt in v.inputs.plan.batches():
        for t, df in bt.tables.items():
            staged[t] = staged.get(t, 0) + len(df)
    hubs = sum(staged.get(t, 0) for t in gen.HUB_KEYS)
    sources = {"hub": hubs, "satellite": hubs,
               "effectivity": hubs + staged["orders"] + staged["lineitem"],
               "link": staged["orders"], "multilink": staged["lineitem"]}
    eff = conv.sat_prefix + conv.effectivity_infix
    appended = dict.fromkeys(sources, 0)
    for t, n in v.row_counts().items():
        if t.startswith(eff):
            kind = "effectivity"
        elif t.startswith(conv.sat_prefix):
            kind = "satellite"
        elif t.startswith(conv.hub_prefix):
            kind = "hub"
        elif t == conv.link_name("LINEITEM"):
            kind = "multilink"
        elif t.startswith(conv.link_prefix):
            kind = "link"
        else:
            continue
        appended[kind] += n
    return {f"raw_vault.insert_ratio.{k}": appended[k] / sources[k] for k in sources}


# ---------------------------------------------------------------------------
# correctness
# ---------------------------------------------------------------------------

def orphan_problems(files: dict[str, list[str]], conv) -> list[str]:
    """Satellite, link member and link effectivity hkeys missing from their parent."""
    con = duckdb.connect()
    for t, fs in files.items():
        if fs:
            con.execute(f'CREATE VIEW "{t}" AS SELECT * FROM read_parquet({fs!r})')
    hk = conv.hkey()
    checks = []  # (child table, hkey column of the child, parent table)
    for ent in ENTITIES:
        for sat in (conv.sat_name(ent), conv.effectivity_sat_name(ent)):
            checks.append((sat, hk, conv.hub_name(ent)))
    for link, members in LINK_MEMBERS.items():
        checks += [(conv.link_name(link), conv.hkey_of(m), conv.hub_name(m)) for m in members]
        checks.append((conv.effectivity_sat_name(link), hk, conv.link_name(link)))
    problems = []
    for table, col, parent in checks:
        if not files.get(table):
            continue
        if not files.get(parent):
            problems.append(f"{table} has rows but {parent} is empty")
            continue
        n = con.execute(
            f'SELECT count(*) FROM "{table}" t WHERE NOT EXISTS '
            f'(SELECT 1 FROM "{parent}" p WHERE p."{hk}" = t."{col}")'
        ).fetchone()[0]
        if n:
            problems.append(f"{n} rows of {table}.{col} have no {parent} row")
    return problems


def expected_current(inputs: Inputs, table: str) -> pd.DataFrame:
    """Final source state of ``table`` from the generated batches (DuckDB)."""
    key = gen.HUB_KEYS[table]
    files = [inputs.path(bt, table) for bt in inputs.plan.batches()
             if bt.replay_of is None and table in bt.tables]
    return duckdb.connect().execute(
        f"SELECT * EXCLUDE (OPERATION, LOAD_DATE, __rn) FROM ("
        f" SELECT *, row_number() OVER (PARTITION BY {key} ORDER BY LOAD_DATE DESC) AS __rn"
        f" FROM read_parquet(?)) WHERE __rn = 1 AND OPERATION <> 'delete'",
        [files],
    ).df()


def current_view(spark, v: Vault, entity: str, cols: list[str]) -> pd.DataFrame:
    """Open-ended rows of the historized hub read: ``cols`` (key first) per key."""
    from pyspark.sql import functions as F

    from pyspark_playground_spark import BusinessVault
    from pyspark_playground_spark.conventions import END_OF_TIME

    conv = v.dv.conv
    key = ENTITIES[entity][1]
    attrs = [c for c in cols if c != key]
    view = BusinessVault(spark, v.config, conv).read_data_from_hub(entity, attrs)
    return (
        view.filter(F.col(conv.load_end_date()) == F.lit(END_OF_TIME))
        .select(key, *attrs).toPandas()
    )
