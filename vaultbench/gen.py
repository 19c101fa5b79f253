"""Seeded input generator for the vault benchmark.

Everything the program under test reads is made here from ``seed`` and a
scale factor: TPC-H-shaped source tables (the row counts per scale follow
the repository's synthetic test data), the documents / embeddings / events
tables the LLM-side operators read, and the CDC batch plan the vault
workloads load.  The same ``(seed, sf)`` gives byte-identical frames.

Row *counts* depend only on ``sf``; the seed picks values, which keys fall
into the bulk batch, which keys are updated or deleted in each increment,
and which increment is replayed.  Keeping counts fixed across seeds keeps
run-to-run spread down to the engine's own noise.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from datetime import datetime, timedelta

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
BRANDS = [f"Brand#{i}{j}" for i in range(1, 6) for j in range(1, 6)]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJ = ["cold", "warm", "blue", "red", "tiny", "huge", "smooth", "rough"]
NOUN = ["widget", "gadget", "bolt", "gear", "spring", "valve", "panel"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
VOCAB = (
    "the a data row column table query join group agg filter sort scan merge "
    "hash key value batch stream spark window part line order customer vector "
    "small big fast slow"
).split()
LANGS = ["en", "en", "en", "fr", "es", "de", "zh"]
EVENT_TYPES = ["click", "purchase", "error", "signup", "view"]

#: table → column order of the CDC envelope the vault stages
CDC_ENVELOPE = ["OPERATION", "LOAD_DATE"]
HUB_KEYS = {
    "customer": "c_custkey",
    "orders": "o_orderkey",
    "part": "p_partkey",
    "supplier": "s_suppkey",
}
LINEITEM_KEY = ["l_orderkey", "l_linenumber"]
T0 = datetime(2026, 3, 1)  # load date of the bulk CDC batch
ORDER_DAY0 = pd.Timestamp("1992-01-01")  # TPC-H order dates span 1992-1998


def counts(sf: float) -> dict[str, int]:
    """Row counts per table at scale factor ``sf`` (sf0.001 = 150 customers)."""
    return {
        "customer": max(20, int(150_000 * sf)),
        "supplier": max(5, int(10_000 * sf)),
        "part": max(20, int(200_000 * sf)),
        "orders": max(100, int(1_500_000 * sf)),
        "documents": max(200, int(50_000 * sf)),
        "embeddings": max(200, int(20_000 * sf)),
        "events": max(500, int(1_000_000 * sf)),
    }


def _ts(arr) -> pd.Series:
    return pd.Series(pd.to_datetime(arr)).astype("datetime64[us]")


def tpch_tables(seed: int, sf: float) -> dict[str, pd.DataFrame]:
    """region, nation, customer, supplier, part, orders, lineitem."""
    rng = np.random.default_rng([seed, 1])
    n = counts(sf)
    region = pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS,
    })
    nation = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    })
    nc = n["customer"]
    customer = pd.DataFrame({
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999, 9999, nc), 2),
        "c_mktsegment": rng.choice(SEGMENTS, nc),
    })
    ns = n["supplier"]
    supplier = pd.DataFrame({
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999, 9999, ns), 2),
    })
    npart = n["part"]
    part = pd.DataFrame({
        "p_partkey": np.arange(npart, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(ADJ, npart), rng.choice(NOUN, npart))],
        "p_brand": rng.choice(BRANDS, npart),
        "p_type": rng.choice(PTYPES, npart),
        "p_size": rng.integers(1, 51, npart).astype(np.int32),
        "p_retailprice": np.round(900 + rng.uniform(0, 1100, npart), 2),
    })
    no = n["orders"]
    odate = ORDER_DAY0 + pd.to_timedelta(rng.integers(0, 2400, no), unit="D")
    orders = pd.DataFrame({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no).astype(np.int64),
        "o_orderstatus": rng.choice(STATUSES, no),
        "o_totalprice": np.round(rng.uniform(1000, 400_000, no), 2),
        "o_orderdate": _ts(odate),
        "o_orderpriority": rng.choice(PRIORITIES, no),
    })
    lines_per = rng.integers(1, 8, no)
    lk = np.repeat(orders["o_orderkey"].to_numpy(), lines_per)
    ln = np.concatenate([np.arange(1, k + 1) for k in lines_per]).astype(np.int32)
    nl = len(lk)
    qty = rng.integers(1, 51, nl).astype(np.float64)
    ship = np.repeat(odate.to_numpy(), lines_per) + pd.to_timedelta(
        rng.integers(1, 122, nl), unit="D"
    ).to_numpy()
    lineitem = pd.DataFrame({
        "l_orderkey": lk,
        "l_partkey": rng.integers(0, npart, nl).astype(np.int64),
        "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
        "l_linenumber": ln,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2000, nl), 2),
        "l_discount": np.round(rng.integers(0, 11, nl) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, nl) / 100.0, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": _ts(ship),
    })
    return {
        "region": region, "nation": nation, "customer": customer,
        "supplier": supplier, "part": part, "orders": orders, "lineitem": lineitem,
    }


def _doc_text(rng, lo=10, hi=100) -> str:
    return " ".join(rng.choice(VOCAB, int(rng.integers(lo, hi))))


def corpus_tables(seed: int, n_docs: int, n_vecs: int) -> dict[str, pd.DataFrame]:
    """documents (with exact and near duplicates) and clustered embeddings."""
    rng = np.random.default_rng([seed, 2])
    texts: list[str] = []
    for i in range(n_docs):
        r = rng.random()
        if i > 10 and r < 0.08:  # near duplicate: one word swapped
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = str(rng.choice(VOCAB))
            texts.append(" ".join(words + ["dup"]))
        elif i > 10 and r < 0.10:  # exact duplicate
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(_doc_text(rng))
    documents = pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs),
        "source": [f"src{i % 20}" for i in range(n_docs)],
    })
    documents["n_chars"] = documents["text"].str.len().astype(np.int64)
    centers = rng.normal(0, 1, (10, 64))
    label = rng.integers(0, 10, n_vecs)
    vec = centers[label] + rng.normal(0, 0.6, (n_vecs, 64))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    embeddings = pd.DataFrame({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": list(vec.astype(np.float32)),
        "label": label.astype(np.int32),
    })
    return {"documents": documents, "embeddings": embeddings}


def events_table(seed: int, n: int) -> pd.DataFrame:
    rng = np.random.default_rng([seed, 3])
    users = max(15, n // 60)
    secs = np.sort(rng.integers(0, 30 * 86400, n))
    ts = pd.Timestamp("2024-01-01") + pd.to_timedelta(secs, unit="s") + pd.to_timedelta(
        rng.integers(0, 1_000_000, n), unit="us"
    )
    return pd.DataFrame({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": _ts(ts),
        "user_id": rng.integers(0, users, n).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, n),
        "value": np.round(rng.uniform(0, 500, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def write_parquet(df: pd.DataFrame, path: str) -> int:
    """Write one frame as a single parquet file; returns its size in bytes."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path)
    return os.path.getsize(path)


def write_tables(tables: dict[str, pd.DataFrame], out_dir: str) -> None:
    for name, df in tables.items():
        write_parquet(df, os.path.join(out_dir, f"{name}.parquet"))


# ---------------------------------------------------------------------------
# CDC plan
# ---------------------------------------------------------------------------

@dataclass
class Batch:
    """One CDC batch: per-table frames carrying OPERATION and LOAD_DATE."""

    name: str
    load_ts: datetime
    tables: dict[str, pd.DataFrame]
    replay_of: str | None = None

    def rows(self) -> int:
        return sum(len(df) for df in self.tables.values())


@dataclass
class CdcPlan:
    bulk: Batch
    increments: list[Batch] = field(default_factory=list)

    def batches(self) -> list[Batch]:
        return [self.bulk, *self.increments]


def _envelope(df: pd.DataFrame, op: str, ts: datetime) -> pd.DataFrame:
    out = df.reset_index(drop=True)
    out.insert(0, "LOAD_DATE", _ts([ts] * len(out)))
    out.insert(0, "OPERATION", op)
    return out


def cdc_plan(
    seed: int,
    src: dict[str, pd.DataFrame],
    *,
    n_increments: int,
    bulk_share: float = 0.7,
    creates: int = 20,
    updates: int = 20,
    deletes: int = 5,
) -> CdcPlan:
    """Split the TPC-H hub tables into one bulk batch and small increments.

    Parents arrive no later than their children: a new order's customer is
    either already loaded or created in the same increment, and a line's
    order, part and supplier likewise.  Deleted orders take their lines with
    them in the same batch and are never updated or re-created.  One
    increment chosen by the seed is followed by an exact replay of itself.
    """
    rng = np.random.default_rng([seed, 4])
    customer, orders = src["customer"], src["orders"]
    part, supplier, lineitem = src["part"], src["supplier"], src["lineitem"]

    def bulk_mask(n):
        m = np.zeros(n, dtype=bool)
        m[rng.choice(n, int(n * bulk_share), replace=False)] = True
        return m

    cust_in = set(customer.c_custkey[bulk_mask(len(customer))])
    part_in = set(part.p_partkey[bulk_mask(len(part))])
    supp_in = set(supplier.s_suppkey)  # suppliers are a dimension: all in bulk
    orders_ok = orders[orders.o_custkey.isin(cust_in)]
    orders_in = set(orders_ok.o_orderkey[bulk_mask(len(orders_ok))])
    li_ok = lineitem.l_orderkey.isin(orders_in) & lineitem.l_partkey.isin(part_in)
    bulk_li = lineitem[li_ok]
    # the bulk batch carries only lines whose parents are in it; lines held
    # back for an order already loaded arrive with the increment creating
    # their part
    bulk = Batch("bulk", T0, {
        "customer": _envelope(customer[customer.c_custkey.isin(cust_in)], "create", T0),
        "supplier": _envelope(supplier, "create", T0),
        "part": _envelope(part[part.p_partkey.isin(part_in)], "create", T0),
        "orders": _envelope(orders[orders.o_orderkey.isin(orders_in)], "create", T0),
        "lineitem": _envelope(bulk_li, "create", T0),
    })

    loaded_orders = set(orders_in)
    deleted: set[int] = set()
    pending_cust = [k for k in customer.c_custkey if k not in cust_in]
    rng.shuffle(pending_cust)
    pending_part = [k for k in part.p_partkey if k not in part_in]
    rng.shuffle(pending_part)
    replay_at = int(rng.integers(0, n_increments))
    incs: list[Batch] = []
    for i in range(n_increments):
        ts = T0 + timedelta(days=i + 1)
        new_c = [pending_cust.pop() for _ in range(min(creates // 4, len(pending_cust)))]
        new_p = [pending_part.pop() for _ in range(min(creates // 4, len(pending_part)))]
        cust_in |= set(new_c)
        part_in |= set(new_p)
        cand = orders[
            orders.o_custkey.isin(cust_in) & ~orders.o_orderkey.isin(loaded_orders)
        ].o_orderkey.to_numpy()
        new_o = set(rng.choice(cand, min(creates, len(cand)), replace=False).tolist())
        live = np.array(sorted(loaded_orders - deleted))
        touched = rng.choice(live, updates + deletes, replace=False)
        upd_o, del_o = set(touched[:updates].tolist()), set(touched[updates:].tolist())
        loaded_orders |= new_o
        deleted |= del_o
        o_new = orders[orders.o_orderkey.isin(new_o)]
        o_upd = orders[orders.o_orderkey.isin(upd_o)].copy()
        o_upd["o_orderstatus"] = rng.choice(STATUSES, len(o_upd))
        o_upd["o_totalprice"] = np.round(o_upd.o_totalprice * rng.uniform(0.5, 1.5, len(o_upd)), 2)
        o_del = orders[orders.o_orderkey.isin(del_o)]
        c_upd = customer[customer.c_custkey.isin(
            rng.choice(sorted(cust_in - set(new_c)), updates // 2, replace=False)
        )].copy()
        c_upd["c_acctbal"] = np.round(c_upd.c_acctbal + rng.uniform(-100, 100, len(c_upd)), 2)
        # lines: every line of a new order, plus lines of loaded orders
        # whose part only arrives now; the deleted orders' lines go too
        li_new = lineitem[
            (lineitem.l_orderkey.isin(new_o) & lineitem.l_partkey.isin(part_in))
            | (lineitem.l_orderkey.isin(loaded_orders - new_o - deleted)
               & lineitem.l_partkey.isin(new_p))
        ]
        li_del = lineitem[
            lineitem.l_orderkey.isin(del_o) & lineitem.l_partkey.isin(part_in - set(new_p))
        ]
        tables = {
            "customer": pd.concat([
                _envelope(customer[customer.c_custkey.isin(new_c)], "create", ts),
                _envelope(c_upd, "update", ts),
            ], ignore_index=True),
            "part": _envelope(part[part.p_partkey.isin(new_p)], "create", ts),
            "orders": pd.concat([
                _envelope(o_new, "create", ts),
                _envelope(o_upd, "update", ts),
                _envelope(o_del, "delete", ts),
            ], ignore_index=True),
            "lineitem": pd.concat([
                _envelope(li_new, "create", ts),
                _envelope(li_del, "delete", ts),
            ], ignore_index=True),
        }
        b = Batch(f"inc{i:02d}", ts, tables)
        incs.append(b)
        if i == replay_at:
            incs.append(Batch(f"inc{i:02d}r", ts, tables, replay_of=b.name))
    return CdcPlan(bulk, incs)


def final_state(plan: CdcPlan) -> dict[str, pd.DataFrame]:
    """Reference final source state per hub table, computed in pandas.

    Kept only for the generator's own tests; the benchmark's correctness
    check computes the same state independently in DuckDB.
    """
    out = {}
    for t, key in HUB_KEYS.items():
        frames = [b.tables[t] for b in plan.batches() if t in b.tables]
        df = pd.concat(frames, ignore_index=True).sort_values("LOAD_DATE", kind="stable")
        last = df.groupby(key).tail(1)
        out[t] = last[last.OPERATION != "delete"].drop(columns=CDC_ENVELOPE)
    return out
