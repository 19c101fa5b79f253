"""Per-layer metrics of a traced run, rolled up from spans and job groups.

Every name listed in ``PER_LAYER`` is reported on every workload; a layer
the workload does not reach reads 0.  Times are per pass (summed over the
traced passes, divided by their number) unless the name says otherwise;
``spark.*`` values are per operation.
"""

from __future__ import annotations

import glob
import os
import statistics

from registry import ENTRIES
from tracing import SPARK_KEYS

RAW_VAULT = ["prepare_staging", "hub_rows", "satellite_rows", "effectivity_rows",
             "link_rows", "multilink_rows", "resolve_member_hkeys"]
INSERT_KINDS = ["hub", "satellite", "effectivity", "link", "multilink"]
BUSINESS_VAULT = ["read_data_from_hub", "read_data_from_hub_sat_and_pit",
                  "join_linked_hubs", "read_snapshot_at", "zip_historized_dataframes"]
LLM = ["dedup.incremental_minhash_pairs", "multimodal.ahash_signatures",
       "multimodal.incremental_ahash_pairs", "similarity.ivf_pq_train",
       "similarity.ivf_pq_encode_corpus", "similarity.ivf_pq_search_precoded"]
SPARK_UNITS = {"jobs": "count", "stages": "count", "tasks": "count",
               "executor_run_s": "s", "shuffle_read_bytes": "bytes",
               "shuffle_write_bytes": "bytes", "spill_bytes": "bytes",
               "task_max_s": "s", "task_p50_s": "s", "failed_tasks": "count",
               "idle_s": "s"}

PER_LAYER: dict[str, str] = {
    "catalog.write_table.calls": "count",
    "catalog.write_table.s": "s",
    "catalog.files_written": "count",
    "catalog.bytes_written": "bytes",
    "catalog.files_per_table_max": "count",
    "declarative.stage_batch.s": "s",
    "declarative.load_batch.s": "s",
    **{f"raw_vault.{f}.s": "s" for f in RAW_VAULT},
    **{f"raw_vault.insert_ratio.{k}": "ratio" for k in INSERT_KINDS},
    "vault.load_hub.s": "s",
    "vault.load_link.s": "s",
    "vault.load_multilink.s": "s",
    **{f"business_vault.{f}.s": "s" for f in BUSINESS_VAULT},
    "curated.map_to_curated.s": "s",
    "pipeline.run_pipeline.build_s": "s",
    "pipeline.execute_s": "s",
    **{f"{f}.s": "s" for f in LLM},
    **{f"queries.{e}.{k}": u for e in ENTRIES
       for k, u in (("build_s", "s"), ("execute_s", "s"), ("build_jobs", "count"))},
    **{f"spark.{k}": u for k, u in SPARK_UNITS.items()},
    "spark.driver_build_share": "ratio",
    "trace.untraced_wall_s": "s",
    "trace.traced_wall_s": "s",
    "trace.overhead_s": "s",
}


def _op_of(spans, s) -> str | None:
    while s.parent is not None:
        s = spans[s.parent]
    return s.attrs.get("op")


def per_layer(b) -> dict:
    tr = b.tracer
    traced = b.pass_walls[1:]  # the first pass of a traced run is untraced
    n = max(1, len(traced))
    ops = [o for o in b.ops if o.spark]
    self_s = tr.self_times()
    totals = tr.totals()
    v: dict[str, float] = dict.fromkeys(PER_LAYER, 0.0)

    def per_pass(span_name: str) -> float:
        return self_s.get(span_name, 0.0) / n

    writes = [s for s in tr.spans if s.name == "catalog.write_table"]
    v["catalog.write_table.calls"] = len(writes) / n
    v["catalog.write_table.s"] = per_pass("catalog.write_table")
    v["catalog.files_written"] = sum(s.attrs.get("files", 0) for s in writes) / n
    v["catalog.bytes_written"] = sum(s.attrs.get("bytes", 0) for s in writes) / n
    v["catalog.files_per_table_max"] = max(
        [len(glob.glob(os.path.join(d, "**", "*.parquet"), recursive=True))
         for d in glob.glob(os.path.join(b.work, "warehouse", "*.db", "*"))] or [0]
    )
    for name in ("declarative.stage_batch", "declarative.load_batch", "vault.load_hub",
                 "vault.load_link", "vault.load_multilink", "curated.map_to_curated",
                 *(f"raw_vault.{f}" for f in RAW_VAULT),
                 *(f"business_vault.{f}" for f in BUSINESS_VAULT), *LLM):
        v[f"{name}.s"] = per_pass(name)
    v["pipeline.run_pipeline.build_s"] = totals.get("pipeline.run_pipeline", (0, 0.0))[1] / n
    pipe_ops = {_op_of(tr.spans, s) for s in tr.spans if s.name == "pipeline.run_pipeline"}
    v["pipeline.execute_s"] = sum(
        o.extra.get("execute_s", 0.0) for o in ops if o.name in pipe_ops) / n
    for k, ratio in b.layer.items():
        v[k] = ratio

    for e in ENTRIES:
        mine = [o.extra for o in ops if o.name == e and o.extra]
        for k in ("build_s", "execute_s", "build_jobs"):
            if mine:
                v[f"queries.{e}.{k}"] = statistics.median(x[k] for x in mine)

    if ops:
        for k in SPARK_KEYS:
            vals = [o.spark[k] for o in ops]
            if k == "task_max_s":
                v[f"spark.{k}"] = max(vals)
            elif k in ("failed_tasks", "shuffle_read_bytes", "shuffle_write_bytes",
                       "spill_bytes"):
                v[f"spark.{k}"] = sum(vals) / n
            else:
                v[f"spark.{k}"] = statistics.median(vals)
        shares = []
        for o in ops:
            if "build_s" in o.extra:
                tot = o.extra["build_s"] + o.extra["execute_s"]
                shares.append(o.extra["build_s"] / tot if tot else 0.0)
            else:
                shares.append(o.spark["idle_s"] / o.wall if o.wall else 0.0)
        v["spark.driver_build_share"] = statistics.median(shares)

    v["trace.untraced_wall_s"] = b.pass_walls[0]
    v["trace.traced_wall_s"] = statistics.median(traced) if traced else b.pass_walls[0]
    v["trace.overhead_s"] = v["trace.traced_wall_s"] - v["trace.untraced_wall_s"]
    return {k: {"value": x, "unit": PER_LAYER[k]} for k, x in v.items()}
