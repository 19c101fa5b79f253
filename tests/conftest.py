import os
import shutil
import tempfile

import pytest

from pyspark_playground_spark.session import get_spark

os.environ.setdefault("SPARK_GRAFT_CPUS", "4")

# test-session parallelism: the suite is one process with a session-scoped
# Spark; more local cores shorten every multi-partition stage without
# changing any plan semantics (shuffle partitions stay at 4 so shapes are
# unchanged). Override with SPARK_GRAFT_TEST_CORES.
TEST_CORES = os.environ.get("SPARK_GRAFT_TEST_CORES", "4")

_SHM_BASETEMP = pytest.StashKey[str]()


def pytest_configure(config):
    # tmpfs-backed tmp_path/tmpdir (r12 suite-wall fix): streaming tests
    # checkpoint and write parquet under pytest's tmp dirs; on disk every
    # micro-batch pays commit/rename/fsync latency, on tmpfs those are
    # no-ops. Data volumes are tiny (the suite's sources are hand-built
    # frames), so RAM usage is negligible.
    if config.option.basetemp is None and os.path.isdir("/dev/shm"):
        config.option.basetemp = config.stash[_SHM_BASETEMP] = tempfile.mkdtemp(
            prefix="pytest-tmp-", dir="/dev/shm"
        )


def pytest_unconfigure(config):
    # the tmpfs basetemp made above is this run's own: remove it, or every
    # run leaves one directory behind in /dev/shm
    if _SHM_BASETEMP in config.stash:
        shutil.rmtree(config.stash[_SHM_BASETEMP], ignore_errors=True)


@pytest.fixture(scope="session")
def spark():
    # tmpfs-backed warehouse: the suite performs hundreds of small catalog
    # writes whose cost is file commit/rename latency, not data volume —
    # /dev/shm removes the disk from that path (falls back to the default
    # tmp dir when absent)
    base = "/dev/shm" if os.path.isdir("/dev/shm") else None
    warehouse = tempfile.mkdtemp(prefix="spark-warehouse-", dir=base)
    local_dir = tempfile.mkdtemp(prefix="spark-local-", dir=base)
    # Suite-wall defaults (r12, VERDICT r11 item 1 — the driver's plain
    # pytest run must fit its verify budget). These change NO test
    # semantics, only fixed per-action latency:
    # - AQE off: per-stage re-optimization is pure overhead on 4-partition
    #   test frames (clean same-box A/B on test_profiling.py: 239 s with
    #   AQE, 179 s without). Production sessions (session.py defaults) and
    #   the bench keep AQE ON — the suite pins RESULT semantics, which
    #   AQE never changes.
    # - shuffle/scratch on tmpfs: the suite's shuffles are tiny; disk
    #   commit latency is the cost, not bandwidth.
    # SPARK_GRAFT_TEST_CONF (k=v[,k=v...]) overrides for experiments.
    extra = {
        "spark.sql.adaptive.enabled": "false",
        "spark.local.dir": local_dir,
    }
    extra.update(
        kv.split("=", 1)
        for kv in os.environ.get("SPARK_GRAFT_TEST_CONF", "").split(",")
        if "=" in kv
    )
    s = get_spark(
        app_name="pyspark_playground_spark-tests",
        master=f"local[{TEST_CORES}]",
        shuffle_partitions=int(os.environ.get("SPARK_GRAFT_TEST_SHUFFLE", "4")),
        warehouse_dir=warehouse,
        extra_conf=extra,
    )
    yield s
    s.stop()
    shutil.rmtree(warehouse, ignore_errors=True)
    shutil.rmtree(local_dir, ignore_errors=True)


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
