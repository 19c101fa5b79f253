"""Outside-in tracing for the vault benchmark.

Nothing here edits the package: the tracer swaps public functions of the
package's modules (and methods of its classes) for thin wrappers while it
is installed, and restores them on ``uninstall``.  Each wrapper records a
span (name, start, end, parent id) in memory.  Each benchmark operation
runs under its own Spark job group, and after the operation the tracer
reads the job and stage records of that group from the status store
(``sc._jsc.sc().statusStore()``, which works with the UI disabled).
"""

from __future__ import annotations

import functools
import importlib
import json
import os
import statistics
import time
from dataclasses import asdict, dataclass, field

#: (module, attribute path, layer name) of every wrapped public entry point
TRACED = [
    ("sources.catalog", "write_table", "catalog.write_table"),
    ("plans.declarative", "DeclarativeVault.stage_batch", "declarative.stage_batch"),
    ("plans.declarative", "DeclarativeVault.load_batch", "declarative.load_batch"),
    ("operators.raw_vault", "prepare_staging", "raw_vault.prepare_staging"),
    ("operators.raw_vault", "hub_rows", "raw_vault.hub_rows"),
    ("operators.raw_vault", "satellite_rows", "raw_vault.satellite_rows"),
    ("operators.raw_vault", "effectivity_rows", "raw_vault.effectivity_rows"),
    ("operators.raw_vault", "link_rows", "raw_vault.link_rows"),
    ("operators.raw_vault", "multilink_rows", "raw_vault.multilink_rows"),
    ("operators.raw_vault", "resolve_member_hkeys", "raw_vault.resolve_member_hkeys"),
    ("operators.vault", "RawVault.load_hub", "vault.load_hub"),
    ("operators.vault", "RawVault.load_link", "vault.load_link"),
    ("operators.vault", "RawVault.load_multilink", "vault.load_multilink"),
    ("operators.business_vault", "pit_rows", "business_vault.pit_rows"),
    ("operators.business_vault", "read_data_from_hub", "business_vault.read_data_from_hub"),
    ("operators.business_vault", "read_data_from_hub_sat_and_pit",
     "business_vault.read_data_from_hub_sat_and_pit"),
    ("operators.business_vault", "join_linked_dataframes", "business_vault.join_linked_hubs"),
    ("operators.business_vault", "read_snapshot_at", "business_vault.read_snapshot_at"),
    ("operators.business_vault", "zip_historized_dataframes",
     "business_vault.zip_historized_dataframes"),
    ("operators.curated", "map_to_curated", "curated.map_to_curated"),
    ("plans.pipeline", "run_pipeline", "pipeline.run_pipeline"),
    ("operators.dedup", "incremental_minhash_pairs", "dedup.incremental_minhash_pairs"),
    ("operators.multimodal", "ahash_signatures", "multimodal.ahash_signatures"),
    ("operators.multimodal", "incremental_ahash_pairs", "multimodal.incremental_ahash_pairs"),
    ("operators.similarity", "ivf_pq_train", "similarity.ivf_pq_train"),
    ("operators.similarity", "ivf_pq_encode_corpus", "similarity.ivf_pq_encode_corpus"),
    ("operators.similarity", "ivf_pq_search_precoded", "similarity.ivf_pq_search_precoded"),
]

PACKAGE = "pyspark_playground_spark"

#: status-store rollup keys reported per operation under ``spark.*``
SPARK_KEYS = [
    "jobs", "stages", "tasks", "executor_run_s", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes", "task_max_s", "task_p50_s",
    "failed_tasks", "idle_s",
]


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Span recorder plus per-operation Spark job-group rollup.

    While ``enabled`` is false no span is kept and no job group is set, so
    an untraced operation costs only the benchmark's own two clock reads.
    """

    def __init__(self, spark, enabled: bool, warehouse: str = "") -> None:
        self.spark = spark
        self.enabled = enabled
        self.warehouse = warehouse
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._saved: list[tuple[object, str, object]] = []
        self._ops = 0
        self._group: str | None = None

    # ---- wrapping -----------------------------------------------------
    def install(self) -> None:
        if not self.enabled:
            return
        for mod_name, path, layer in TRACED:
            owner = importlib.import_module(f"{PACKAGE}.{mod_name}")
            *parents, attr = path.split(".")
            for p in parents:
                owner = getattr(owner, p)
            original = owner.__dict__[attr]
            self._saved.append((owner, attr, original))
            setattr(owner, attr, self._wrap(original, layer))

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._saved):
            setattr(owner, attr, original)
        self._saved.clear()

    def _wrap(self, fn, layer: str):
        if layer == "catalog.write_table":
            return self._wrap_write(fn, layer)

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(layer):
                return fn(*args, **kwargs)
        return wrapper

    def _wrap_write(self, fn, layer: str):
        """``write_table(df, database, name, ...)``: also count the files
        and bytes the write adds under the table's directory."""

        @functools.wraps(fn)
        def wrapper(df, database, name, *args, **kwargs):
            with self.span(layer) as s:
                if s is None:
                    return fn(df, database, name, *args, **kwargs)
                d = os.path.join(self.warehouse, f"{database}.db", name.lower())
                before = _files(d)
                out = fn(df, database, name, *args, **kwargs)
                after = _files(d)
                new = set(after) - set(before)
                s.attrs["files"] = len(new)
                s.attrs["bytes"] = sum(after[f] for f in new)
                return out
        return wrapper

    # ---- spans --------------------------------------------------------
    def span(self, name: str, **attrs):
        return _SpanCtx(self, name, attrs)

    def _open(self, name: str, attrs: dict) -> Span:
        s = Span(len(self.spans), self._stack[-1] if self._stack else None, name,
                 time.perf_counter(), attrs=dict(attrs))
        self.spans.append(s)
        self._stack.append(s.id)
        return s

    def _close(self, s: Span) -> None:
        s.end = time.perf_counter()
        self._stack.pop()

    # ---- operations ---------------------------------------------------
    def op_begin(self, name: str) -> str | None:
        """Tag the Spark jobs of the next operation with their own group."""
        if not self.enabled:
            return None
        self._ops += 1
        self._group = f"op{self._ops}"
        self.spark.sparkContext.setJobGroup(self._group, name)
        return self._group

    def jobs_so_far(self) -> int:
        """Jobs the current operation has started so far (traced runs)."""
        if not self.enabled or self._group is None:
            return 0
        return len(self.spark.sparkContext.statusTracker().getJobIdsForGroup(self._group))

    def op_end(self, group: str | None, t0_epoch: float, t1_epoch: float) -> dict:
        """Status-store rollup of one operation's job group (traced runs)."""
        if group is None:
            return {}
        sc = self.spark.sparkContext
        sc.setLocalProperty("spark.jobGroup.id", None)
        self._group = None
        store = sc._jsc.sc().statusStore()
        out = dict.fromkeys(SPARK_KEYS, 0.0)
        intervals = []
        task_durs: list[float] = []
        stage_ids = set()
        for jid in sc.statusTracker().getJobIdsForGroup(group):
            job = store.job(jid)
            out["jobs"] += 1
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
            it = job.stageIds().iterator()
            while it.hasNext():
                stage_ids.add(int(it.next()))
        for sid in stage_ids:
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 - skipped stages have no attempt
                continue
            if st.numTasks() == 0 or str(st.status()) == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks()
            out["failed_tasks"] += st.numFailedTasks()
            out["executor_run_s"] += st.executorRunTime() / 1e3
            out["shuffle_read_bytes"] += st.shuffleReadBytes()
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            tasks = store.taskList(sid, st.attemptId(), 100_000).iterator()
            while tasks.hasNext():
                d = tasks.next().duration()
                if d.isDefined():
                    task_durs.append(d.get() / 1e3)
        if task_durs:
            out["task_max_s"] = max(task_durs)
            out["task_p50_s"] = statistics.median(task_durs)
        out["idle_s"] = max(0.0, (t1_epoch - t0_epoch) - _covered(intervals, t0_epoch, t1_epoch))
        return out

    # ---- reporting ----------------------------------------------------
    def self_times(self) -> dict[str, float]:
        """Per-name self time: span duration minus time covered by children."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            kids = [(c.start, c.end) for c in children.get(s.id, [])]
            own = (s.end - s.start) - _covered(kids, s.start, s.end)
            out[s.name] = out.get(s.name, 0.0) + own
        return out

    def totals(self) -> dict[str, tuple[int, float]]:
        """Per-name (calls, inclusive seconds)."""
        out: dict[str, tuple[int, float]] = {}
        for s in self.spans:
            n, t = out.get(s.name, (0, 0.0))
            out[s.name] = (n + 1, t + s.end - s.start)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, attrs: dict) -> None:
        self.tracer, self.name, self.attrs = tracer, name, attrs
        self.span: Span | None = None

    def __enter__(self) -> Span | None:
        if self.tracer.enabled:
            self.span = self.tracer._open(self.name, self.attrs)
        return self.span

    def __exit__(self, *exc) -> None:
        if self.span is not None:
            self.tracer._close(self.span)


def _files(d: str) -> dict[str, int]:
    out = {}
    for root, _, names in os.walk(d):
        for f in names:
            if f.endswith(".parquet"):
                p = os.path.join(root, f)
                out[p] = os.path.getsize(p)
    return out


def _covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
