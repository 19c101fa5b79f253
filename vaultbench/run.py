#!/usr/bin/env python3
"""Vault ELT benchmark: one command, two workloads, end to end and per layer.

Run from the repository root::

    python3 vaultbench/run.py --workload vault_ingest --seed 1 --seconds 10 --trace 0

``--trace 0`` times the workload and prints the end-to-end metrics;
``--trace 1`` times one untraced pass, then traced passes with the layer
wrappers and job-group rollup on, and prints the per-layer metrics (spans
go to ``--spans`` if given).  A line of run facts and ungated metrics comes
first; the last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``.

Spark runs ``local[nproc]`` in this one process; every operation is a
closed loop with one client (each starts when the previous one ends).
All scratch state (warehouse, Spark local dirs, temp files, generated
inputs) lives in a per-run directory under ``vaultbench/.work`` and is
removed at exit.  See ``vaultbench/NOTES.md`` for why each workload
exists and which layer it isolates.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from concurrent.futures import ThreadPoolExecutor  # noqa: E402
from dataclasses import dataclass, field  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("vault_ingest", "registry_queries")
#: the gated end-to-end metrics, printed on the result line
END_TO_END = {"setup_s": "s", "wall_s": "s", "op_geomean_s": "s", "rows_per_s": "1/s"}


@dataclass
class Op:
    """One timed operation of a pass."""

    name: str
    kind: str
    wall: float
    ok: bool
    rows: int = 0
    extra: dict = field(default_factory=dict)
    spark: dict = field(default_factory=dict)


class Bench:
    """Shared state of one run: session, tracer, scratch dir and op log."""

    def __init__(self, args, spark, work: str, tracer) -> None:
        self.args, self.spark, self.work, self.tracer = args, spark, work, tracer
        self.ops: list[Op] = []
        self.pass_walls: list[float] = []
        self.notes: dict = {}
        #: per-layer values a workload computes itself (traced runs)
        self.layer: dict[str, float] = {}

    def op(self, name: str, kind: str, fn, rows: int = 0) -> None:
        """Time ``fn()`` as one operation; an exception marks it failed.

        ``fn`` may return a dict of per-op fields (e.g. the build / execute
        split of a query).
        """
        group = self.tracer.op_begin(name)
        e0 = time.time()
        t0 = time.perf_counter()
        ok, extra = True, {}
        try:
            with self.tracer.span(f"op.{kind}", op=name):
                extra = fn() or {}
        except Exception:  # noqa: BLE001 - a failed op is counted, the run goes on
            ok = False
            traceback.print_exc(file=sys.stderr)
        wall = time.perf_counter() - t0
        rec = Op(name, kind, wall, ok, rows, extra)
        rec.spark = self.tracer.op_end(group, e0, e0 + wall)
        self.ops.append(rec)
        print(f"op {name} {kind} {wall:.3f}s{'' if ok else ' FAILED'}", file=sys.stderr)

    def fail(self, op: Op | None, why: str) -> None:
        """Mark ``op`` failed because its correctness check did not hold."""
        print(f"CHECK FAILED: {why}", file=sys.stderr)
        if op is not None:
            op.ok = False


def tail(values: list[float]) -> tuple[float, float, int]:
    """Highest percentile with at least ten samples beyond it.

    Returns ``(value, percentile, n)``; with ten or fewer samples no
    percentile qualifies and the maximum is reported as p100.
    """
    xs = sorted(values)
    n = len(xs)
    if n <= 10:
        return xs[-1], 100.0, n
    k = n - 11  # index with exactly ten samples above it
    return xs[k], 100.0 * (k + 1) / n, n


def heap_live_mb(spark) -> float:
    """Driver heap still in use after a full collection: what the engine
    retains once the workload is done."""
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    return jvm.java.lang.management.ManagementFactory.getMemoryMXBean() \
        .getHeapMemoryUsage().getUsed() / 2**20


def rss_peak_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def start_session(work: str):
    """Local session sized to this box, all scratch under ``work``."""
    from pyspark_playground_spark.session import get_spark

    cpus = _nproc()
    ram_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEMORY"] = f"{max(1, min(4, int(ram_gb // 4)))}g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    tmp = os.path.join(work, "tmp")
    spark = get_spark(
        app_name="vaultbench",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        warehouse_dir=os.path.join(work, "warehouse"),
        extra_conf={
            # no hsperfdata file under /tmp: the run writes only its checkout
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.sources.default": "parquet",
        },
    )
    return spark


def settle(spark, seconds: float = 1.0) -> None:
    """After the warm-up: collect garbage and let background JIT finish."""
    spark.sparkContext._jvm.java.lang.System.gc()
    time.sleep(seconds)


def stop_session(spark) -> None:
    """Stop Spark and wait for the driver JVM this process launched."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - a JVM that ignores shutdown is killed
            proc.kill()
            proc.wait()


def summarize(b: Bench, setup_s: float, heap_mb: float, trace: bool) -> dict:
    """Metrics of the result line; the ungated ones go to ``b.notes``."""
    walls = [o.wall for o in b.ops]
    t, pct, n = tail(walls)
    b.notes.update({"op_p50_s": statistics.median(walls), "op_tail_s": t,
                    "op_tail_pct": pct, "ops": n, "jvm_heap_live_mb": heap_mb,
                    "jvm_peak_rss_mb": rss_peak_mb(b.spark)})
    if trace:
        from layers import per_layer

        return per_layer(b)
    metrics = {
        "setup_s": setup_s,
        "wall_s": statistics.median(b.pass_walls),
        "op_geomean_s": statistics.geometric_mean(walls),
        # over the operations that take in rows: loads and queries, not reads
        "rows_per_s": sum(o.rows for o in b.ops) / sum(o.wall for o in b.ops if o.rows),
    }
    return {k: {"value": v, "unit": END_TO_END[k]} for k, v in metrics.items()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=None, help="override the workload scale")
    ap.add_argument("--spans", default=None, help="write trace spans (JSON lines) here")
    args = ap.parse_args(argv)

    sys.path[:0] = [ROOT, HERE]
    load_before = os.getloadavg()[0]
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    spark = None
    try:
        import ingest
        import registry
        from tracing import Tracer

        mod = {"vault_ingest": ingest, "registry_queries": registry}[args.workload]
        # inputs are generated while the JVM starts
        with ThreadPoolExecutor(1) as pool:
            made = pool.submit(mod.make_inputs, args, work)
            spark = start_session(work)
            made = made.result()
        print(f"session up at {time.perf_counter() - T_START:.1f}s", file=sys.stderr)
        tracer = Tracer(spark, enabled=False, warehouse=os.path.join(work, "warehouse"))
        b = Bench(args, spark, work, tracer)
        state = mod.setup(b, made)
        settle(spark)
        print(f"setup done at {time.perf_counter() - T_START:.1f}s", file=sys.stderr)
        setup_s = time.perf_counter() - T_START
        deadline = time.perf_counter() + args.seconds
        while True:
            t0 = time.perf_counter()
            n0 = len(b.ops)
            mod.run_pass(b, state)
            b.pass_walls.append(sum(o.wall for o in b.ops[n0:]))
            if args.trace and not tracer.enabled:
                # a traced run times one untraced pass first, so that the
                # tracing overhead is measured within the run
                tracer.enabled = True
                tracer.install()
                continue
            if deadline - time.perf_counter() < time.perf_counter() - t0:
                break
        tracer.uninstall()
        tracer.enabled = False
        heap_mb = heap_live_mb(spark)
        mod.final_checks(b, state)
        metrics = summarize(b, setup_s, heap_mb, bool(args.trace))
        if args.spans:
            tracer.dump(args.spans)
        failed = sum(not o.ok for o in b.ops)
        load_after = os.getloadavg()[0]
        print(json.dumps({
            "workload": args.workload, "seed": args.seed, "nproc": _nproc(),
            "loadavg_before": round(load_before, 2), "loadavg_after": round(load_after, 2),
            "dirty_box": load_before > 1.5, "passes": len(b.pass_walls),
            "failed_ops_frac": failed / len(b.ops), **b.notes,
        }))
        print(json.dumps({
            "correct": failed == 0, "attempted": len(b.ops), "failed": failed,
            "metrics": metrics,
        }))
        return 0
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run still uses it
            pass


if __name__ == "__main__":
    sys.exit(main())
