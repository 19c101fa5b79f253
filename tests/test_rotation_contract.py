"""Structural pin for the driver-rotation bookkeeping (VERDICT r9 item 2).

Round 9 shipped a silent drift: sed-style edits meant to add 7 entries to
``_NEW_THIS_ROUND`` applied as no-ops, which would have let brand-new
entries jump the certification queue ahead of the never-sampled backlog.
It was caught by a manual smoke; this module makes the contract
structural so either drift mode goes red in CI:

1. membership drift — a name in ``_DRIVER_CHECKED`` / ``_NEW_THIS_ROUND``
   that is not (or no longer) a registered query, or a name in both sets;
2. ordering drift — the exported ``queries()`` order not being exactly
   ``recheck → fresh (never sampled) → new-this-round → seen``.

No SparkSession needed: this inspects the registry dicts only.
"""

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pyspark_playground_spark import queries as q  # noqa: E402


def _sets():
    names = set(q.QUERIES)
    checked = set(q._DRIVER_CHECKED)
    new = set(q._NEW_THIS_ROUND)
    recheck = list(q._DRIVER_RECHECK)
    fresh = names - checked - new
    return names, checked, new, recheck, fresh


def test_bookkeeping_sets_are_registry_subsets():
    names, checked, new, recheck, _ = _sets()
    assert checked <= names, f"stale _DRIVER_CHECKED names: {sorted(checked - names)[:5]}"
    assert new <= names, f"stale _NEW_THIS_ROUND names: {sorted(new - names)[:5]}"
    assert set(recheck) <= names, "stale _DRIVER_RECHECK names"


def test_checked_and_new_partition_cleanly():
    names, checked, new, _, fresh = _sets()
    assert not (checked & new), (
        "an entry cannot be both driver-certified and new-this-round: "
        f"{sorted(checked & new)[:5]}"
    )
    # exact partition of the registry — nothing unaccounted, nothing double
    assert checked | new | fresh == names
    assert len(checked) + len(new) + len(fresh) == len(names)


def test_export_is_a_permutation_of_the_registry():
    exported = list(q.queries())
    assert len(exported) == len(set(exported)) == len(q.QUERIES)
    assert set(exported) == set(q.QUERIES)
    oracles = list(q.oracle_sql())
    assert set(oracles) <= set(exported)
    assert len(oracles) == len(set(oracles)) == len(q.ORACLES)


def test_export_order_recheck_fresh_new_seen():
    _, checked, new, recheck, fresh = _sets()
    exported = list(q.queries())

    def band(name):
        if name in recheck:
            return 0
        if name in new:
            return 2
        if name in checked:
            return 3
        return 1  # fresh / never sampled

    bands = [band(n) for n in exported]
    assert bands == sorted(bands), (
        "exported order must be recheck → fresh → new-this-round → seen; "
        "fresh (never-sampled) entries must precede new ones so the "
        "driver's head sample closes the certification backlog first"
    )
    # the head of the export IS the never-sampled backlog (plus rechecks)
    head = exported[: len(recheck) + len(fresh)]
    assert set(head) == set(recheck) | fresh
