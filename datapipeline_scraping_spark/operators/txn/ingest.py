"""External ingestion paths: CDF application and the one MERGE planner."""

from __future__ import annotations

from typing import Callable

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..merge import merge_into, merge_upsert
from .errors import ConcurrentWriteError
from .layout import _refuse_clustered
from .table import ManifestTable


def apply_diff(
    base: DataFrame, changes: DataFrame, keys: list[str]
) -> DataFrame:
    """Apply a :meth:`ManifestTable.diff` change feed to a keyed state:
    keys appearing as ``delete`` / ``update_preimage`` rows are removed
    (null-safe anti join, matching diff's null-safe key semantics) and
    ``insert`` / ``update_postimage`` rows union in. For any two
    versions, ``apply_diff(read(v_from), diff(v_from, v_to), keys)``
    equals ``read(v_to)`` exactly (the apply-soundness contract
    property-tested in tests/test_properties.py).

    This is the consumer half of the CDF loop (VERDICT r8 item 3): a
    derived table maintained with it advances version N -> head on
    O(churn) rows — one anti join shuffled on the keys plus a union —
    instead of a full O(table) rebuild. ``changes`` may carry derived
    columns recomputed from the post-images (e.g. a bucket id); its
    non-key columns must match ``base``'s."""
    gone = changes.filter(
        F.col("_change_type").isin("delete", "update_preimage")
    ).select(*keys)
    add = changes.filter(
        F.col("_change_type").isin("insert", "update_postimage")
    ).drop("_change_type")
    b = base.alias("b")
    g = gone.alias("g")
    cond = None
    for k in keys:
        eq = F.col(f"b.{k}").eqNullSafe(F.col(f"g.{k}"))
        cond = eq if cond is None else (cond & eq)
    kept = b.join(g, cond, "left_anti")
    return kept.unionByName(add.select(*base.columns))


def merge_commit(
    spark: SparkSession,
    tbl: ManifestTable,
    source: DataFrame,
    pk: str | list[str],
    *,
    clauses: Callable[[dict], dict | None] | None = None,
    schema_evolution: bool = False,
    unique_matches: str | None = None,
    retries: int = 2,
) -> int:
    """MERGE ``source`` into ``tbl`` and commit; returns the committed
    version. The one MERGE planner: :func:`merge_write` and SQL
    ``MERGE INTO`` (``sources/manifest_sql.py``) both call it.

    Each attempt reads the live snapshot, plans the merge over it and
    commits against that version; a concurrent commit re-runs the
    attempt (optimistic concurrency, Delta's rebase-and-retry) up to
    ``retries`` times before :class:`ConcurrentWriteError` propagates.
    ``clauses(entry)`` runs first in every attempt with the attempt's
    base log entry and returns :func:`merge_into`'s clause keywords,
    or None for no clause — whatever the caller derives from the live
    table (a ``SET *`` expansion) is re-derived there. A CLUSTERED base
    raises ``ValueError`` in every attempt: the copy-on-write commit
    would drop its bucket layout.

    The plan follows the clause shape. With no clause and no schema
    evolution the merge is the plain upsert :func:`merge_upsert` —
    ``source ∪ (target ▷ source.pk)``: the churn-sized source keys
    broadcast, so the target is scanned once and never shuffled or
    sorted. That plan reads the source twice, so a source that is not
    already cached is persisted for the call (and unpersisted after
    it, also when the commit fails), and the result is coalesced to at
    most the target's data-file count. Conditional or evolving merges
    run :func:`merge_into`'s full-outer join.

    Source-key uniqueness is the caller's contract (NULL pks never
    match). ``unique_matches`` names a statement that enforces ANSI
    instead: several source rows matching one target row raise
    ``ValueError``. The source's duplicated keys are looked up once,
    and the target is probed only when there are some."""
    keys = [pk] if isinstance(pk, str) else list(pk)
    own_cache = False
    has_dups = None  # does the source repeat a key?
    try:
        for attempt in range(retries + 1):
            base_ver = tbl.version() or 0
            entry = tbl._log_entry(base_ver) or {}
            # re-checked at every attempt's base, so a concurrent
            # commit_clustered between retries refuses too; the CAS
            # against that base makes it the entry the commit supersedes
            _refuse_clustered(
                tbl.root,
                entry,
                "a MERGE commits copy-on-write and would drop the layout. "
                "Use the keyed writers (UPDATE/DELETE route merge-on-read) "
                "or re-cluster with commit_clustered(merge result).",
            )
            kw = clauses(entry) if clauses else None
            upsert = kw is None and not schema_evolution
            # cache the twice-read source so its lineage runs once —
            # UDFs and non-deterministic keys are evaluated once per
            # row. A cache the caller made stays.
            if upsert and source.storageLevel == StorageLevel.NONE:
                source.persist()
                own_cache = True
            target = tbl.read(spark)
            if unique_matches:
                # a repeated NULL key is probed too and matches nothing
                # (dropna would also drop NaN, which does match NaN)
                dups = (
                    source.groupBy(*keys)
                    .count()
                    .filter(F.col("count") > 1)
                    .select(*keys)
                )
                if has_dups is None:
                    has_dups = not dups.isEmpty()
                if has_dups and not dups.join(
                    target.select(*keys), on=keys, how="left_semi"
                ).isEmpty():
                    raise ValueError(
                        f"{unique_matches}: multiple source rows match a "
                        f"single target row on {keys} — ANSI requires an "
                        f"error (duplicate source keys are only legal when "
                        f"they match no target row)"
                    )
            if upsert:
                # the union adds the source's partitions to the
                # target's: cap the output at the target's file count
                # so batches add no files
                n_files = max(1, len(target.inputFiles()))
                result = merge_upsert(target, source, keys).coalesce(n_files)
            else:
                result = merge_into(
                    target,
                    source,
                    keys,
                    schema_evolution=schema_evolution,
                    **(kw or {}),
                )
            try:
                return tbl.commit(result, expect_version=base_ver)
            except ConcurrentWriteError:
                if attempt == retries:
                    raise
    finally:
        if own_cache:
            source.unpersist()
    raise AssertionError("unreachable")


def merge_write(
    spark: SparkSession,
    target_path: str,
    source: DataFrame,
    pk: str,
    *,
    matched_delete: Column | None = None,
    matched_update: Column | None = None,
    writer: str = "manifest",
    schema_evolution: bool = False,
) -> None:
    """MERGE ``source`` into the manifest table at ``target_path``
    through :func:`merge_commit` (snapshot + atomic pointer swap,
    optimistic-concurrency retry — safe under concurrent writers on
    any atomic-rename filesystem). A legacy plain parquet dir at
    ``target_path`` is migrated in place on first use.

    ``matched_delete`` / ``matched_update`` are :func:`merge_into`'s
    conditions (NULL does not fire); with neither and no
    ``schema_evolution`` the merge is the broadcast anti-join upsert.
    ``writer`` has one value, ``"manifest"``."""
    if writer != "manifest":
        raise ValueError(
            f"unknown writer {writer!r}: 'manifest' is the only writer "
            f"(the 'delta', 'parquet' and 'auto' writers were removed)"
        )
    tbl = ManifestTable(target_path)
    tbl.adopt_plain()
    clauses = None
    if matched_delete is not None or matched_update is not None:
        kw = {"matched_delete": matched_delete, "matched_update": matched_update}
        clauses = lambda _entry: kw  # noqa: E731
    merge_commit(
        spark, tbl, source, pk, clauses=clauses, schema_evolution=schema_evolution
    )
