"""The benchmark's own tests: generator determinism, check sensitivity, smoke.

Run from the repository root: ``python3 -m pytest vaultbench -q``.
The smoke tests start Spark and take a few minutes; deselect them with
``-k "not smoke"``.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import types

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import gen  # noqa: E402
import ingest  # noqa: E402
import registry  # noqa: E402
from pyspark_playground_spark.conventions import DataVaultConventions  # noqa: E402

SF = 0.001


def _plan(seed):
    src = gen.tpch_tables(seed, SF)
    return src, gen.cdc_plan(seed, src, n_increments=3)


# ---------------------------------------------------------------------------
# generator
# ---------------------------------------------------------------------------

def test_generator_is_deterministic_per_seed():
    (s1, p1), (s2, p2), (s3, p3) = _plan(5), _plan(5), _plan(6)
    for t in s1:
        pd.testing.assert_frame_equal(s1[t], s2[t])
    for a, b in zip(p1.batches(), p2.batches()):
        assert a.name == b.name and a.replay_of == b.replay_of
        for t in a.tables:
            pd.testing.assert_frame_equal(a.tables[t], b.tables[t])
    n = gen.counts(SF)
    pd.testing.assert_frame_equal(
        gen.corpus_tables(5, n["documents"], n["embeddings"])["documents"],
        gen.corpus_tables(5, n["documents"], n["embeddings"])["documents"],
    )
    pd.testing.assert_frame_equal(gen.events_table(5, 500), gen.events_table(5, 500))
    # another seed changes values and the bulk/increment split, not the counts
    assert {t: len(df) for t, df in s1.items() if t != "lineitem"} == {
        t: len(df) for t, df in s3.items() if t != "lineitem"}
    assert not s1["customer"].equals(s3["customer"])
    assert set(p1.bulk.tables["orders"].o_orderkey) != set(p3.bulk.tables["orders"].o_orderkey)


def test_parents_arrive_no_later_than_children():
    _, plan = _plan(7)
    seen: dict[str, set] = {t: set() for t in gen.HUB_KEYS}
    for bt in plan.batches():
        for t, key in gen.HUB_KEYS.items():
            if t in bt.tables:
                df = bt.tables[t]
                seen[t] |= set(df[df.OPERATION == "create"][key])
        orders = bt.tables["orders"]
        assert set(orders.o_custkey) <= seen["customer"]
        li = bt.tables["lineitem"]
        assert set(li.l_orderkey) <= seen["orders"]
        assert set(li.l_partkey) <= seen["part"]
        assert set(li.l_suppkey) <= seen["supplier"]


def test_replay_is_an_exact_copy_and_deletes_are_final():
    _, plan = _plan(8)
    by_name = {bt.name: bt for bt in plan.batches()}
    replays = [bt for bt in plan.increments if bt.replay_of]
    assert len(replays) == 1
    orig = by_name[replays[0].replay_of]
    for t in orig.tables:
        pd.testing.assert_frame_equal(orig.tables[t], replays[0].tables[t])
    deleted: set = set()
    for bt in plan.batches():
        o = bt.tables["orders"]
        assert not set(o.o_orderkey) & deleted or bt.replay_of
        deleted |= set(o[o.OPERATION == "delete"].o_orderkey)


# ---------------------------------------------------------------------------
# each check fails on a corrupted result
# ---------------------------------------------------------------------------

def test_current_view_check_matches_reference_and_catches_a_dropped_row(tmp_path):
    inputs = ingest.Inputs(9, SF, str(tmp_path))
    ref = gen.final_state(inputs.plan)
    for table, key in gen.HUB_KEYS.items():
        want = ingest.expected_current(inputs, table)
        assert registry.oracle_mismatch(ref[table].reset_index(drop=True), want, rel=0.0) == ""
    want = ingest.expected_current(inputs, "orders")
    assert registry.oracle_mismatch(want.iloc[1:], want, rel=0.0) != ""
    changed = want.copy()
    changed.loc[0, "o_orderstatus"] = "X"
    assert registry.oracle_mismatch(changed, want, rel=0.0) != ""
    nudged = want.copy()
    nudged.loc[0, "o_totalprice"] += 1e-6
    assert registry.oracle_mismatch(nudged, want, rel=0.0) != ""


def _write(d, table, df):
    os.makedirs(os.path.join(d, table.lower()), exist_ok=True)
    path = os.path.join(d, table.lower(), "part-0.parquet")
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path)
    return path


def test_orphan_check_catches_a_satellite_row_without_hub(tmp_path):
    conv = DataVaultConventions()
    hk = conv.hkey()
    hub = pd.DataFrame({hk: ["a", "b"]})
    files = {
        "HUB__CUSTOMER": [_write(tmp_path, "HUB__CUSTOMER", hub)],
        "SAT__CUSTOMER": [_write(tmp_path, "SAT__CUSTOMER", pd.DataFrame({hk: ["a", "b"]}))],
    }
    assert ingest.orphan_problems(files, conv) == []
    files["SAT__CUSTOMER"] = [_write(tmp_path, "SAT__CUSTOMER", pd.DataFrame({hk: ["a", "z"]}))]
    assert ingest.orphan_problems(files, conv)
    files["LNK__ORDERS_CUSTOMER"] = [_write(
        tmp_path, "LNK__ORDERS_CUSTOMER",
        pd.DataFrame({conv.hkey_of("ORDERS"): ["o"], conv.hkey_of("CUSTOMER"): ["a"]}),
    )]
    assert any("HUB__ORDERS" in p for p in ingest.orphan_problems(files, conv))


def test_orphan_check_catches_a_link_effectivity_row_without_link(tmp_path):
    conv = DataVaultConventions()
    hk = conv.hkey()
    link, eff = conv.link_name("ORDERS_CUSTOMER"), conv.effectivity_sat_name("ORDERS_CUSTOMER")
    files = {
        "HUB__ORDERS": [_write(tmp_path, "HUB__ORDERS", pd.DataFrame({hk: ["o"]}))],
        "HUB__CUSTOMER": [_write(tmp_path, "HUB__CUSTOMER", pd.DataFrame({hk: ["a"]}))],
        link: [_write(tmp_path, link, pd.DataFrame({
            hk: ["l"], conv.hkey_of("ORDERS"): ["o"], conv.hkey_of("CUSTOMER"): ["a"]}))],
        eff: [_write(tmp_path, eff, pd.DataFrame({hk: ["l"]}))],
    }
    assert ingest.orphan_problems(files, conv) == []
    files[eff] = [_write(tmp_path, eff, pd.DataFrame({hk: ["l", "zz"]}))]
    assert any(link in p for p in ingest.orphan_problems(files, conv))


class _FakeBench:
    def __init__(self):
        self.ops, self.failed = [], []

    def op(self, name, kind, fn, rows=0):
        fn()
        self.ops.append(types.SimpleNamespace(name=name, kind=kind, ok=True))

    def fail(self, op, why):
        self.failed.append(why)
        op.ok = False


class _FakeVault:
    def __init__(self, plan, grow_on_replay):
        self.grow, self.rows = grow_on_replay, 10

    def load(self, bt):
        if bt.replay_of is None or self.grow:
            self.rows += 1

    def row_counts(self):
        return {"HUB__ORDERS": self.rows}


@pytest.mark.parametrize("grows", [False, True])
def test_replay_check_fails_when_the_replay_appends(grows):
    _, plan = _plan(10)
    b = _FakeBench()
    ingest.run_ops(b, _FakeVault(plan, grows), 1, plan.increments)
    replay = [o for o in b.ops if o.kind == "replay"][0]
    assert replay.ok is (not grows)
    assert bool(b.failed) is grows


def test_oracle_comparison_catches_drops_and_changes():
    want = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.25, 2.0], "s": ["a", "b", None]})
    got = want.iloc[::-1].reset_index(drop=True)
    assert registry.oracle_mismatch(got, want) == ""
    assert registry.oracle_mismatch(got.iloc[1:], want) != ""
    moved = got.copy()
    moved.loc[0, "v"] += 1e-3
    assert registry.oracle_mismatch(moved, want) != ""
    assert registry.oracle_mismatch(got.rename(columns={"v": "w"}), want) != ""


# ---------------------------------------------------------------------------
# smoke: the whole command at sf0.001, traced, for each workload
# ---------------------------------------------------------------------------

def _reached(workload: str) -> list[str]:
    """Per-layer metrics NOTES.md maps to ``workload``; each must read non-zero."""
    from layers import BUSINESS_VAULT, INSERT_KINDS, LLM, RAW_VAULT

    if workload == "vault_ingest":
        return [
            "catalog.write_table.calls", "catalog.write_table.s", "catalog.files_written",
            "catalog.bytes_written", "catalog.files_per_table_max",
            "declarative.stage_batch.s", "declarative.load_batch.s",
            *(f"raw_vault.{f}.s" for f in RAW_VAULT),
            *(f"raw_vault.insert_ratio.{k}" for k in INSERT_KINDS),
            "vault.load_hub.s", "vault.load_link.s", "vault.load_multilink.s",
            "business_vault.read_data_from_hub.s", "spark.jobs",
        ]
    return [
        *(f"business_vault.{f}.s" for f in BUSINESS_VAULT if f != "read_data_from_hub"),
        "curated.map_to_curated.s", "pipeline.run_pipeline.build_s", "pipeline.execute_s",
        *(f"{f}.s" for f in LLM),
        *(f"queries.{e}.{k}" for e in registry.ENTRIES for k in ("build_s", "execute_s")),
        "spark.jobs", "spark.driver_build_share",
    ]


@pytest.mark.parametrize("workload", ["vault_ingest", "registry_queries"])
def test_smoke_traced_run(workload, tmp_path):
    from layers import PER_LAYER

    spans = tmp_path / "spans.jsonl"
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", "1", "--sf", str(SF),
         "--spans", str(spans)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 2
    assert set(res["metrics"]) == set(PER_LAYER)
    unreached = [k for k in _reached(workload) if not res["metrics"][k]["value"] > 0]
    assert not unreached, f"layers not measured on {workload}: {unreached}"
    lines = [json.loads(x) for x in spans.read_text().splitlines()]
    assert lines and {"id", "parent", "name", "start", "end"} <= set(lines[0])


def test_benchmark_json_names_what_the_runner_prints():
    import run
    from layers import PER_LAYER

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER
