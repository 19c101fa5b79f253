"""Raw-vault loaders: staging, hubs, links, satellites, effectivity, references.

Parity target: the reference's insert-only "v2" engine
(``pysparkvault/raw/RawVault.py:53-1075``). Semantics reproduced:

- Staging prep (RawVault.py:996-1043): rename CDC columns into the ``$__``
  dialect, stamp a record source, snapshot load-date override, compute HKEY.
- ``load_hub`` (RawVault.py:194-260): CREATE|UPDATE|SNAPSHOT rows →
  dedup on HKEY → anti-join vs existing hub on HKEY → append.
- ``load_satellite`` (RawVault.py:913-951): CREATE|UPDATE|SNAPSHOT rows,
  HDIFF over attributes, idempotent append keyed on (HKEY, LOAD_DATE).
- ``load_effectivity_satellite`` (RawVault.py:953-994): CREATE|DELETE|SNAPSHOT
  rows, DELETED := (op == DELETE), keyed on (HKEY, LOAD_DATE).
- ``load_link`` (RawVault.py:480-632): 2-ary FK link with delete detection —
  resolve target HKEYs, link HKEY = hash(member hkeys), anti-join append;
  effectivity rows for new links (deleted=False) and vanished links
  (deleted=True via the non-equi "same from-hkey, different/nulled to-hkey"
  join), run-length compressed with a lag window.
- ``load_multilink`` (RawVault.py:660-708): N-ary link from an association
  table.
- ``load_references`` / ``load_code_references`` (RawVault.py:710-911).

Load metadata: every kernel takes the staged frame exactly as
``prepare_staging`` returns it, whose ``$__LOAD_DATE`` is the CDC event time.

- Hub and link ``$__LOAD_DATE`` is the batch load time (``load_ts``, else
  ``current_timestamp()``), and their ``$__RECORD_SOURCE`` is the
  ``record_source`` argument (``"unknown"`` when it is None).
- Satellite and effectivity-satellite ``$__LOAD_DATE`` is the event time.

FK resolution: every link member turns its FK into the target hub's hkey
through ``_resolve_fk`` (reference RawVault.py:523-534, J15 660-708).

- With no mapping, the hkey is ``hash(fk)`` (the FK is the target's
  business key).
- With a ``(key, hkey)`` mapping (the staged target and/or the hub), one
  mapping row per string key is kept and left-joined on the string form
  of both keys.
- A null FK or an unmatched key gives a null hkey. ``link_rows`` forms no
  link from it; a multilink keeps the row, and its link hkey hashes the
  other members (``concat_ws`` skips nulls).
- No join hint: the mapping grows with the hub, so Spark's size
  statistics, and AQE at runtime, pick broadcast or shuffle.

Design differences from the reference (deliberate, Spark-first):

- Loaders are pure DataFrame→DataFrame kernels; the ``RawVault`` class is a
  thin catalog-table wrapper. Kernels are unit-testable and usable in
  ``foreachBatch`` streaming sinks unchanged.
- ``load_ts`` is an explicit parameter (default: current timestamp) so loads
  are reproducible/oracle-checkable.
- No fixed hash-partitioning before the anti-joins (reference X1: 5
  partitions on the anti-join keys): Spark and AQE choose the
  partitioning, and vault tables are unbucketed (see ``sources/catalog.py``).
"""

from __future__ import annotations

from collections.abc import Sequence
from datetime import datetime

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pyspark_playground_spark.conventions import (
    DataVaultConventions,
    LinkedHubDefinition,
    Operation,
)
from pyspark_playground_spark.functions.hashing import hash_diff, hash_key

CONV = DataVaultConventions()


# ---------------------------------------------------------------------------
# staging
# ---------------------------------------------------------------------------

def prepare_staging(
    df: DataFrame,
    *,
    load_date_column: str,
    operation_column: str | None,
    record_source: str,
    hkey_columns: Sequence[str] = (),
    snapshot_override_column: str | None = None,
    timestamp_pattern: str | None = None,
    conv: DataVaultConventions = CONV,
    hash_function: str = "md5",
) -> DataFrame:
    """Normalize a raw CDC batch into the staging-prepared shape.

    Reference: ``stage_table_df`` (RawVault.py:996-1043). Accepts operation
    codes as ints or the string dialect (features/steps/raw_vault.py:200-212).
    """
    out = df.withColumnRenamed(load_date_column, conv.load_date())
    if timestamp_pattern:
        out = out.withColumn(
            conv.load_date(), F.to_timestamp(F.col(conv.load_date()), timestamp_pattern)
        )
    else:
        out = out.withColumn(conv.load_date(), F.col(conv.load_date()).cast("timestamp"))

    if operation_column is not None:
        op = F.col(operation_column)
        if dict(df.dtypes).get(operation_column) == "string":
            mapping = F.create_map(
                *[x for k, v in Operation.NAMES.items() for x in (F.lit(k), F.lit(v))]
            )
            op = mapping[F.lower(op)]
        out = (
            out.withColumn(conv.operation(), op.cast("int"))
            .drop(operation_column)
            if operation_column != conv.operation()
            else out.withColumn(conv.operation(), op.cast("int"))
        )
    else:
        out = out.withColumn(conv.operation(), F.lit(Operation.SNAPSHOT))

    out = out.withColumn(conv.record_source(), F.lit(record_source))

    # snapshot loads may take their load date from a source column
    # (RawVault.py:1032-1038: applied when operation < DELETE, i.e. for
    # SNAPSHOT rows only — DELETE rows keep the CDC load date)
    if snapshot_override_column is not None:
        out = out.withColumn(
            conv.load_date(),
            F.when(
                F.col(conv.operation()) < F.lit(Operation.DELETE),
                F.col(snapshot_override_column).cast("timestamp"),
            ).otherwise(F.col(conv.load_date())),
        )

    if hkey_columns:
        out = out.withColumn(conv.hkey(), hash_key(list(hkey_columns), hash_function))
    return out


def _filter_ops(df: DataFrame, conv: DataVaultConventions, ops: Sequence[int]) -> DataFrame:
    if conv.operation() in df.columns:
        return df.filter(F.col(conv.operation()).isin(list(ops)))
    return df


def _anti(
    df: DataFrame, existing: DataFrame | None, keys: Sequence[str]
) -> DataFrame:
    """Idempotent-append core: keep rows whose key is not in ``existing``.

    Reference J1/J2 (RawVault.py:255,943-948): ``left_anti`` equi-join. This
    is the pure-Spark alternative to a Delta MERGE — insert-only tables never
    need row updates, so NOT EXISTS + append gives the same end state.
    """
    if existing is None:
        return df
    cond = [df[k].eqNullSafe(existing[k]) for k in keys]
    return df.join(existing, cond, "left_anti")


def _batch_meta(
    conv: DataVaultConventions, load_ts: datetime | None, record_source: str | None
) -> list[Column]:
    """Hub/link ``$__LOAD_DATE`` and ``$__RECORD_SOURCE`` as batch constants.

    Callers select them after the key-only dedup and the anti-join. Inside
    ``dropDuplicates`` they would become ``first(<literal>)`` aggregates;
    the string buffer of the record source forces ``SortAggregate`` (a full
    sort on both sides of the exchange) instead of ``HashAggregate``, and
    the exchange would ship both constants with every row.
    """
    ts = F.lit(load_ts).cast("timestamp") if load_ts else F.current_timestamp()
    return [
        ts.alias(conv.load_date()),
        F.lit(record_source or "unknown").alias(conv.record_source()),
    ]


def _resolve_fk(
    df: DataFrame,
    fk_column: str,
    hkey_column: str,
    mapping: DataFrame | None,
    hash_function: str,
) -> DataFrame:
    """Add ``hkey_column``: the hub hkey of ``fk_column`` by the module's FK rule.

    ``mapping``'s first two columns are ``(key, hkey)``.
    """
    if mapping is None:
        return df.withColumn(
            hkey_column,
            F.when(F.col(fk_column).isNotNull(), hash_key([fk_column], hash_function)),
        )
    key_col, map_hkey = mapping.columns[:2]
    mapping = mapping.select(
        F.col(key_col).cast("string").alias("__map_key"), F.col(map_hkey).alias(hkey_column)
    ).dropDuplicates(["__map_key"])
    return df.join(
        mapping, df[fk_column].cast("string") == mapping["__map_key"], "left"
    ).drop("__map_key")


# ---------------------------------------------------------------------------
# hubs
# ---------------------------------------------------------------------------

def hub_rows(
    staged: DataFrame,
    business_key_columns: Sequence[str],
    *,
    existing: DataFrame | None = None,
    load_ts: datetime | None = None,
    record_source: str | None = None,
    conv: DataVaultConventions = CONV,
    hash_function: str = "md5",
) -> DataFrame:
    """New hub rows: one per unseen business entity.

    Output schema: ``$__HKEY, $__LOAD_DATE, $__RECORD_SOURCE, *business_keys``
    (reference shape RawVault.py:64-83; loader RawVault.py:194-260).
    """
    df = _filter_ops(staged, conv, Operation.HUB_SAT_OPS)
    if conv.hkey() not in df.columns:
        df = df.withColumn(conv.hkey(), hash_key(list(business_key_columns), hash_function))
    df = df.select(conv.hkey(), *business_key_columns).dropDuplicates([conv.hkey()])
    df = _anti(df, existing, [conv.hkey()])
    return df.select(
        conv.hkey(), *_batch_meta(conv, load_ts, record_source), *business_key_columns
    )


# ---------------------------------------------------------------------------
# satellites
# ---------------------------------------------------------------------------

def satellite_rows(
    staged: DataFrame,
    attribute_columns: Sequence[str],
    *,
    existing: DataFrame | None = None,
    conv: DataVaultConventions = CONV,
    hash_function: str = "md5",
) -> DataFrame:
    """New satellite versions keyed on (HKEY, LOAD_DATE = CDC event time).

    Reference: ``load_satellite_from_prepared_stage_dataframe``
    (RawVault.py:913-951). Every CREATE|UPDATE|SNAPSHOT row becomes a
    version; no consecutive-HDIFF suppression (matches golden counts, e.g.
    SAT__MOVIES = 14 in features/raw-vault.feature).
    """
    df = _filter_ops(staged, conv, Operation.HUB_SAT_OPS)
    df = df.withColumn(conv.hdiff(), hash_diff(list(attribute_columns), hash_function))
    df = df.select(
        conv.hkey(), conv.hdiff(), conv.load_date(), *attribute_columns
    ).dropDuplicates([conv.hkey(), conv.load_date()])
    return _anti(df, existing, [conv.hkey(), conv.load_date()])


def effectivity_rows(
    staged: DataFrame,
    *,
    existing: DataFrame | None = None,
    conv: DataVaultConventions = CONV,
    hash_function: str = "md5",
) -> DataFrame:
    """New effectivity-satellite rows: the delete/undelete history of a hub.

    Reference: ``load_effectivity_satellite_from_prepared_stage_dataframe``
    (RawVault.py:953-994): ops CREATE|DELETE|SNAPSHOT,
    ``$__DELETED := (op == DELETE)``, keyed on (HKEY, LOAD_DATE).
    """
    df = _filter_ops(staged, conv, Operation.EFFECTIVITY_OPS)
    df = df.withColumn(
        conv.deleted(), (F.col(conv.operation()) == Operation.DELETE)
        if conv.operation() in df.columns
        else F.lit(False),
    )
    # one row per (HKEY, LOAD_DATE); if a batch carries both CREATE and
    # DELETE for the same key at the same event time, DELETE wins the tie
    # deterministically (max over booleans) — the reference's distinct()
    # keeps both rows, which a same-timestamp downstream sort cannot order
    df = (
        df.groupBy(conv.hkey(), conv.load_date())
        .agg(F.max(conv.deleted()).alias(conv.deleted()))
    )
    df = df.withColumn(conv.hdiff(), hash_diff([F.col(conv.deleted())], hash_function))
    df = df.select(conv.hkey(), conv.hdiff(), conv.deleted(), conv.load_date())
    return _anti(df, existing, [conv.hkey(), conv.load_date()])


# ---------------------------------------------------------------------------
# links
# ---------------------------------------------------------------------------

def compress_state_changes(
    df: DataFrame,
    *,
    key: str,
    order: str,
    state: str,
    conv: DataVaultConventions = CONV,
) -> DataFrame:
    """Run-length compression of a boolean state history.

    Keep only rows where ``state`` differs from the previous row of the same
    ``key`` (first row always kept). Reference W1 (RawVault.py:614-620):
    ``lag(deleted) over (partition by hkey order by load_date)``.
    """
    w = Window.partitionBy(key).orderBy(order)
    prev = F.lag(F.col(state), 1).over(w)
    return (
        df.withColumn("__prev_state", prev)
        .filter(F.col("__prev_state").isNull() | (F.col("__prev_state") != F.col(state)))
        .drop("__prev_state")
    )


def link_rows(
    staged_from: DataFrame,
    *,
    from_name: str,
    to_name: str,
    fk_column: str,
    to_resolution: DataFrame | None = None,
    existing_link: DataFrame | None = None,
    existing_effectivity: DataFrame | None = None,
    load_ts: datetime | None = None,
    record_source: str | None = None,
    conv: DataVaultConventions = CONV,
    hash_function: str = "md5",
    cache_registry: list[DataFrame] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """2-ary FK link load with delete detection.

    Reference: ``load_link`` (RawVault.py:480-632). Returns
    ``(new_link_rows, new_effectivity_rows)``.

    ``staged_from`` must carry ``$__HKEY`` (the from-hub hkey), the CDC
    columns, and ``fk_column``. The target hkey follows the module's FK
    rule, with ``to_resolution`` as the optional ``(key, hkey)`` mapping.

    Delete detection (RawVault.py:582-620): for every staged from-row, any
    *existing* link of the same from-hkey whose to-hkey differs from the
    currently staged to-hkey (or the staged FK is null) is marked deleted at
    the staged event time; new links are marked not-deleted; the combined
    state history is run-length compressed with a lag window.

    Deliberate deviation: new link rows stamp ``$__LOAD_DATE`` with the
    batch load time (``load_ts``/current_timestamp), consistent with hub
    loads — the reference carries the staged *event* date into LNK instead
    (its hubs use batch time), so link load dates differ from reference
    output for CDC feeds. Effectivity rows use the event time in both.

    ``cache_registry``: the internal resolve result is cached (it feeds the
    link, vanish, and effectivity branches). Pass a list to receive the
    cached DataFrame and ``unpersist()`` it after materializing both
    outputs — in a long-lived session (streaming foreachBatch per
    micro-batch) unreleased caches accumulate until storage eviction.
    """
    from_hkey = conv.hkey_of(from_name)
    to_hkey = conv.hkey_of(to_name)

    renamed = staged_from.withColumnRenamed(conv.hkey(), from_hkey)
    base = _filter_ops(renamed, conv, Operation.HUB_SAT_OPS)

    resolved = _resolve_fk(base, fk_column, to_hkey, to_resolution, hash_function)
    resolved = resolved.select(
        from_hkey, to_hkey, F.col(conv.load_date()).alias("__event_time")
    ).cache()
    if cache_registry is not None:
        cache_registry.append(resolved)

    # --- link rows (only fully resolved pairs form a link) -----------------
    pairs = (
        resolved.filter(F.col(to_hkey).isNotNull())
        .withColumn(conv.hkey(), hash_key([from_hkey, to_hkey], hash_function))
    )
    # distinct() rather than dropDuplicates([hkey]): the hkey was just
    # computed as hash(from, to), so one row per hkey is one row per
    # (hkey, from, to) tuple, and an all-grouping-keys aggregate has no
    # first() buffers, which keeps md5's string member keys on HashAggregate
    new_links = (
        pairs.select(conv.hkey(), F.col(from_hkey), F.col(to_hkey))
        .distinct()
    )
    new_links = _anti(new_links, existing_link, [conv.hkey()])
    new_links = new_links.select(
        conv.hkey(),
        F.col(from_hkey),
        F.col(to_hkey),
        *_batch_meta(conv, load_ts, record_source),
    )

    # --- effectivity: current state per staged row -------------------------
    current = pairs.select(
        F.col(conv.hkey()),
        F.col("__event_time").alias(conv.load_date()),
        F.lit(False).alias(conv.deleted()),
    )

    # vanished links: existing link with same from-hkey but different/ nulled
    # target (reference J13, RawVault.py:603-611)
    all_links = new_links.select(conv.hkey(), from_hkey, to_hkey)
    if existing_link is not None:
        all_links = existing_link.select(conv.hkey(), from_hkey, to_hkey).union(all_links)
    lk = all_links.alias("lk")
    st = resolved.alias("st")
    vanished = (
        st.join(
            lk,
            (F.col(f"st.{from_hkey}") == F.col(f"lk.{from_hkey}"))
            & (
                F.col(f"st.{to_hkey}").isNull()
                | (F.col(f"st.{to_hkey}") != F.col(f"lk.{to_hkey}"))
            ),
            "inner",
        )
        .select(
            F.col(f"lk.{conv.hkey()}").alias(conv.hkey()),
            F.col("st.__event_time").alias(conv.load_date()),
            F.lit(True).alias(conv.deleted()),
        )
    )

    # deleted from-rows close the entity's outgoing links at the delete time
    # (golden spec: features/raw-vault.feature "Simple delete in the CDC
    # batch" — link effectivity gains deleted=True at the source row's
    # DELETE event)
    deletes = (
        _filter_ops(renamed, conv, [Operation.DELETE])
        .select(from_hkey, F.col(conv.load_date()).alias("__event_time"))
        .alias("dl")
    )
    delete_vanished = (
        deletes.join(lk, F.col(f"dl.{from_hkey}") == F.col(f"lk.{from_hkey}"), "inner")
        .select(
            F.col(f"lk.{conv.hkey()}").alias(conv.hkey()),
            F.col("dl.__event_time").alias(conv.load_date()),
            F.lit(True).alias(conv.deleted()),
        )
    )

    history = current.unionByName(vanished).unionByName(delete_vanished)
    if existing_effectivity is not None:
        history = history.unionByName(
            existing_effectivity.select(conv.hkey(), conv.load_date(), conv.deleted())
        )
    history = history.dropDuplicates([conv.hkey(), conv.load_date(), conv.deleted()])
    history = compress_state_changes(
        history, key=conv.hkey(), order=conv.load_date(), state=conv.deleted(), conv=conv
    )
    # a link cannot be deleted before it first exists: vanish markers derived
    # from staged rows that predate the link's creation (e.g. an FK history
    # 1→2 emits "link(x,2) vanished" at the earlier FK-1 event) would start
    # the history with deleted=True — drop them (golden spec: transient link
    # in features/raw-vault.feature gets exactly [False@create, True@vanish])
    w_first = Window.partitionBy(conv.hkey()).orderBy(conv.load_date())
    history = (
        history.withColumn("__rn", F.row_number().over(w_first))
        .filter(~((F.col("__rn") == 1) & F.col(conv.deleted())))
        .drop("__rn")
    )
    history = history.withColumn(
        conv.hdiff(), hash_diff([F.col(conv.deleted())], hash_function)
    ).select(conv.hkey(), conv.hdiff(), conv.deleted(), conv.load_date())
    new_effectivity = _anti(
        history, existing_effectivity, [conv.hkey(), conv.load_date()]
    )
    return new_links, new_effectivity


def resolve_member_hkeys(
    df: DataFrame,
    members: Sequence[LinkedHubDefinition],
    *,
    conv: DataVaultConventions = CONV,
    hash_function: str = "md5",
    resolutions: dict[str, DataFrame] | None = None,
) -> tuple[DataFrame, list[str]]:
    """Attach one hub-hkey column per link member and the combined link HKEY.

    Each member FK follows the module's FK rule, with
    ``resolutions[member.name]`` as its optional ``(key, hkey)`` mapping.
    Returns ``(df, member_hkey_columns)``.
    """
    hkey_cols: list[str] = []
    for m in members:
        col_name = m.hkey_column or conv.hkey_of(m.name)
        hkey_cols.append(col_name)
        mapping = (resolutions or {}).get(m.name)
        df = _resolve_fk(df, m.foreign_key, col_name, mapping, hash_function)
    df = df.withColumn(conv.hkey(), hash_key(hkey_cols, hash_function))
    return df, hkey_cols


def multilink_rows(
    staged: DataFrame,
    members: Sequence[LinkedHubDefinition],
    *,
    existing_link: DataFrame | None = None,
    existing_effectivity: DataFrame | None = None,
    load_ts: datetime | None = None,
    record_source: str | None = None,
    conv: DataVaultConventions = CONV,
    hash_function: str = "md5",
    resolutions: dict[str, DataFrame] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """N-ary link from an association table (reference RawVault.py:660-708).

    Returns ``(new_link_rows, new_effectivity_rows)`` from one member
    resolution (``resolve_member_hkeys``); the link HKEY is the hash of all
    member hkeys in declaration order. CREATE|UPDATE|SNAPSHOT rows form
    links; the effectivity satellite records the association's
    CREATE|DELETE history (DELETE closes the link).
    """
    resolved, hkey_cols = resolve_member_hkeys(
        staged.drop(conv.hkey()), members, conv=conv, hash_function=hash_function,
        resolutions=resolutions,
    )
    # distinct() rather than dropDuplicates([hkey]): the hkey was just
    # computed as hash(member hkeys in order), so one row per hkey is one
    # row per tuple, and an all-grouping-keys aggregate has no first()
    # buffers, which keeps the md5 variant on HashAggregate
    links = (
        _filter_ops(resolved, conv, Operation.HUB_SAT_OPS)
        .select(conv.hkey(), *hkey_cols)
        .distinct()
    )
    links = _anti(links, existing_link, [conv.hkey()])
    new_links = links.select(
        conv.hkey(), *hkey_cols, *_batch_meta(conv, load_ts, record_source)
    )
    new_effectivity = effectivity_rows(
        resolved, existing=existing_effectivity, conv=conv, hash_function=hash_function,
    )
    return new_links, new_effectivity


# ---------------------------------------------------------------------------
# reference tables
# ---------------------------------------------------------------------------

def reference_rows(
    staged: DataFrame,
    id_column: str,
    attribute_columns: Sequence[str],
    *,
    existing: DataFrame | None = None,
    conv: DataVaultConventions = CONV,
    hash_function: str = "md5",
) -> DataFrame:
    """Slowly-changing reference table rows keyed on (id, LOAD_DATE).

    Reference: ``load_references`` (RawVault.py:710-790).
    """
    df = _filter_ops(staged, conv, Operation.HUB_SAT_OPS)
    df = df.withColumn(conv.hdiff(), hash_diff(list(attribute_columns), hash_function))
    df = df.select(
        conv.hdiff(), conv.load_date(), id_column, *attribute_columns
    ).dropDuplicates([id_column, conv.load_date()])
    return _anti(df, existing, [id_column, conv.load_date()])


def code_reference_rows(
    staged: DataFrame,
    group: str,
    id_column: str,
    attribute_columns: Sequence[str],
    *,
    existing: DataFrame | None = None,
    conv: DataVaultConventions = CONV,
    hash_function: str = "md5",
) -> DataFrame:
    """Many lookup tables sharing one storage table, discriminated by
    ``$__GROUP`` (reference: ``load_code_references``, RawVault.py:792-911).
    """
    df = _filter_ops(staged, conv, Operation.HUB_SAT_OPS)
    df = (
        df.withColumn(conv.group(), F.lit(group))
        .withColumn(conv.hdiff(), hash_diff(list(attribute_columns), hash_function))
        .select(conv.group(), conv.hdiff(), conv.load_date(), id_column, *attribute_columns)
        .dropDuplicates([conv.group(), id_column, conv.load_date()])
    )
    return _anti(df, existing, [conv.group(), id_column, conv.load_date()])
