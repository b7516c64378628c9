"""Maintenance: bin-packing compaction, ZORDER clustering, stale-dir sweeps."""

from __future__ import annotations

import json
import os
import shutil
import time

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ...sources.skipping import data_files
from .errors import ConcurrentWriteError
from .layout import _bucket_id, _refuse_clustered, _write_bucketed
from .schema import _apply_map, _snap_read
from .staging import PARTS_DIR, _stage_add_files, _staging
from .stats import _index_bloom, _snapshot_files
from .table import ManifestTable
from .table_core import _carry, _cdf_marker


def compact_table(
    spark: SparkSession,
    root: str,
    *,
    target_file_bytes: int = 128 * 1024 * 1024,
    target_files: int | None = None,
    sort_by: list[str] | None = None,
    zorder_by: list[str] | None = None,
    min_gain_files: int = 2,
) -> dict:
    """Small-files compaction for a :class:`ManifestTable` — the table
    maintenance every long-lived incremental sink needs: streaming
    `foreachBatch` MERGE sinks and per-batch upserts (q70, q63, q106)
    accrete one small file per micro-batch, and at 100 TB a scan's task
    count (and the namenode/object-store listing cost) is driven by
    file count, not data size.

    Rewrites the CURRENT snapshot into ``ceil(bytes / target)`` evenly
    sized files — ``repartition(n)`` for an even rewrite, or
    ``repartitionByRange(n, *sort_by) + sortWithinPartitions`` when
    ``sort_by`` is given so min/max row-group pruning (data skipping)
    survives compaction — and commits through the same manifest CAS as
    any writer: concurrent upserts are serialized, readers never see a
    partial rewrite, and a compaction racing a writer loses cleanly
    with :class:`ConcurrentWriteError` (retry, don't overwrite).

    No-ops (returns ``compacted=False``) when the rewrite would save
    fewer than ``min_gain_files`` files, so a cron'd compactor is
    idempotent and cheap between real accretions. Reference anchor:
    maintenance the reference outsources to Postgres autovacuum
    (``src/storage.py:90-131``); same role as Delta OPTIMIZE /
    Iceberg rewrite_data_files.

    ``zorder_by`` (mutually exclusive with ``sort_by``) clusters the
    rewrite on the interleaved-bit :func:`zorder_key` over 2+ columns
    — Delta ``OPTIMIZE ZORDER BY``: each rewritten file covers a
    small hyper-rectangle of the listed dimensions, so commit-log
    min/max stats (``stats_by``, inherited) prune range reads on ANY
    of them, not just a lexicographic leader. A z-order request
    always rewrites (re-clustering is the point, not file count).

    ``target_files`` pins the output file count directly (overrides
    the bytes-derived count). Clustered layouts want this: skipping
    selectivity is a function of how finely the curve is cut — a
    z-order over k dims needs ≥ 2^k files before every dimension can
    prune — and a fixed cut keeps layout (hence pruning behavior)
    deterministic across table sizes."""
    if sort_by and zorder_by:
        raise ValueError("sort_by and zorder_by are mutually exclusive")
    mt = ManifestTable(root)
    # resolve the pointer ONCE: snapshot dir + version from the same
    # read, so the files measured, the data rewritten, and the CAS
    # expectation all refer to one snapshot
    snap, version, c_entry = mt._resolve_base(
        "compaction", f"no committed snapshot under {root}"
    )
    try:
        files_before, bytes_before = _snapshot_files(snap)
        n_target = target_files or max(
            1, -(-bytes_before // max(1, target_file_bytes))
        )
        # a clustered snapshot's exchange-free join property lives
        # in the bucket-id file names; a plain rewrite would
        # silently destroy it (VERDICT r10 item 5) — refuse with
        # the escape hatches spelled out
        _refuse_clustered(
            root,
            c_entry,
            "a plain rewrite would destroy the bucket-id file-name "
            "contract. Use compact_clustered() (per-bucket repack) or "
            "commit_clustered(read(...), ...) to re-cluster, or "
            "commit(read(...)) to deliberately drop the layout.",
        )
        dv = c_entry.get("dv")
        mor = dv or c_entry.get("mor_delta")
        if not zorder_by and not mor and files_before - n_target < min_gain_files:
            return {
                "compacted": False,
                "version": version,
                "files_before": files_before,
                "files_after": files_before,
                "bytes": bytes_before,
            }
        # read the RESOLVED snapshot dir, not mt.read(): the lazy scan
        # must not re-resolve the pointer at job time (a racing writer
        # could have advanced it; the version CAS below then catches
        # the conflict instead of silently compacting the wrong data)
        # logical view: apply any metadata-only renames; the rewrite
        # then writes files under the LOGICAL names, so the new commit
        # carries no column_map — compaction materializes renames the
        # same way it materializes deletion vectors
        df = _apply_map(_snap_read(spark, snap, c_entry), c_entry)
        if mor:
            # materialize the merge-on-read state (Delta OPTIMIZE
            # purges DVs the same way): the rewrite drops deleted rows
            # and folds the update delta in, and the new commit
            # carries neither sidecar. Live MoR state also forces the
            # rewrite above — purging it is the point.
            df = mt._apply_dv(spark, df, c_entry, snap)
        # a hive-partitioned table (layout inherited by the commit
        # below) must cluster tasks BY the partition columns: a plain
        # repartition(n) gives every task rows of every partition
        # value, so partitionBy fans each task out into every dir —
        # n_target * n_dirs files, worse than before compaction.
        # Range-partitioning on (partition cols + sort keys) keeps
        # each dir's rows in a contiguous task range: file count is
        # bounded by n_target + n_partition_values - 1 (a boundary
        # task may straddle two values), and row-group data skipping
        # on the sort keys still survives within each dir.
        part_cols = list(c_entry.get("partition_by") or [])
        if not sort_by and not zorder_by:
            # default the sorted rewrite to the table's DECLARED sort
            # order (set_sort_order) so maintenance converges to the
            # same layout appends write incrementally
            declared = list(
                (c_entry.get("meta") or {}).get("sort_order") or []
            )
            sort_by = declared or None
        if zorder_by:
            zdf = df.withColumn("__zorder", zorder_key(df, list(zorder_by)))
            zkeys = part_cols + ["__zorder"]
            rewritten = (
                zdf.repartitionByRange(n_target, *zkeys)
                .sortWithinPartitions(*zkeys)
                .drop("__zorder")
            )
        else:
            keys = part_cols + [
                c for c in (sort_by or []) if c not in part_cols
            ]
            if keys:
                rewritten = df.repartitionByRange(n_target, *keys)
                if sort_by:
                    rewritten = rewritten.sortWithinPartitions(*keys)
            else:
                rewritten = df.repartition(n_target)
        # cdf_mode="noop": compaction (incl. DV purge — the deletes
        # were already fed by delete_where) preserves logical content;
        # feed readers skip the version instead of paying a diff join.
        # commit() carries the table-property meta (declared sort
        # order, ...) forward, so compaction keeps set_sort_order
        new_ver = mt.commit(rewritten, expect_version=version, cdf_mode="noop")
    except FileNotFoundError as exc:
        # a racing writer committed and its GC dropped our snapshot
        # mid-rewrite: surface the documented retryable conflict, not
        # a raw filesystem error
        raise ConcurrentWriteError(
            f"{root}: snapshot {os.path.basename(snap)} vanished during "
            f"compaction (concurrent writer + gc) — retry"
        ) from exc
    # measure the snapshot THIS commit produced (recorded under the
    # commit lock), not a re-resolved pointer: a racing writer
    # committing in between would make the stats describe the wrong
    # snapshot, and a just-GC'd one would silently walk as 0 files
    committed = os.path.join(mt.root, mt.last_snapshot)
    if os.path.isdir(committed):
        files_after, _ = _snapshot_files(committed)
    else:  # GC'd by an immediately-following writer: n_target is exact
        files_after = n_target
    return {
        "compacted": True,
        "version": new_ver,
        "files_before": files_before,
        "files_after": files_after,
        "bytes": bytes_before,
    }



def compact_small_files(
    spark: SparkSession,
    root: str,
    *,
    min_file_bytes: int = 16 * 1024 * 1024,
    target_file_bytes: int = 128 * 1024 * 1024,
    min_gain_files: int = 2,
) -> dict:
    """Incremental bin-packing compaction: rewrite ONLY the files
    smaller than ``min_file_bytes``; every properly sized file is
    HARDLINKED into the new snapshot untouched. This is the 100 TB
    OPTIMIZE mode: :func:`compact_table` rewrites the whole snapshot —
    right for re-clustering (sort/z-order), ruinous as routine
    maintenance on a petabyte table where an epoch sink accreted a few
    thousand small files next to thousands of already-compacted large
    ones. Here the rewrite cost is O(small-file bytes) and the rest of
    the table moves zero bytes (inode links), exactly Delta OPTIMIZE's
    bin-packing which leaves files above minFileSize alone.

    Metadata is maintained incrementally too: kept files carry their
    commit-log [min, max] stats entries and bloom sidecar rows
    forward VERBATIM; only the newly written merged files are
    footer-statted and bloom-indexed. Merge-on-read sidecars (``_dv``
    deletion vector, ``_upd`` update delta) link forward unchanged —
    a content-preserving repack keeps them valid (keys survive, the
    anti-join and union semantics are file-layout-independent); use
    :func:`compact_table` to PURGE MoR state. The change feed records
    the version as a no-op (content preserved). Commits through the
    same CAS as every writer.

    Restricted to unpartitioned snapshots (a partitioned table's
    small-file problem is per-partition-dir; its full rewrite path
    handles layout). No-ops unless at least two small files exist and
    the repack saves ``min_gain_files`` files."""
    mt = ManifestTable(root)
    snap, version, entry = mt._resolve_base(
        "compaction", f"no committed snapshot under {root}"
    )
    if entry.get("partition_by"):
        raise ValueError(
            f"{root}: compact_small_files targets unpartitioned snapshots "
            f"(use compact_table for partitioned layouts)"
        )
    # bin-packing across bucket boundaries (or renaming merged files)
    # would break the bucket-id file-name contract that
    # read_clustered's exchange-free join depends on (VERDICT r10 item
    # 5) — refuse loudly instead of silently de-clustering
    _refuse_clustered(
        root,
        entry,
        "bin-packing would break the bucket-id file-name contract. Use "
        "compact_clustered() (per-bucket repack), or commit(read(...)) "
        "to deliberately drop the layout.",
    )
    if entry.get("specs"):
        # an EVOLVED snapshot mixes hive layouts across spec-<id>
        # subtrees; bin-packing files out of their spec dirs would
        # detach them from the dir-encoded partition values — refuse
        raise ValueError(
            f"{root}: the live snapshot is partition-EVOLVED (spec "
            f"history in the commit log) — bin-packing across spec "
            f"subtrees would detach files from their dir-encoded "
            f"partition values. Use compact_table() (full rewrite "
            f"migrates everything to the active spec)."
        )
    small: list[tuple[str, int]] = []  # (rel, size)
    keep: list[str] = []  # rel
    bytes_before = 0
    for fp in data_files(snap):
        try:
            sz = os.path.getsize(fp)
        except FileNotFoundError:
            raise ConcurrentWriteError(
                f"{root}: snapshot {os.path.basename(snap)} vanished "
                f"during compaction (concurrent writer + gc) — retry"
            ) from None
        bytes_before += sz
        rel = os.path.relpath(fp, snap)
        if sz < min_file_bytes:
            small.append((rel, sz))
        else:
            keep.append(rel)
    files_before = len(small) + len(keep)
    small_bytes = sum(sz for _, sz in small)
    n_new = max(1, -(-small_bytes // max(1, target_file_bytes)))
    if len(small) < 2 or len(small) - n_new < min_gain_files:
        return {
            "compacted": False,
            "version": version,
            "files_before": files_before,
            "files_after": files_before,
            "files_rewritten": 0,
            "bytes_rewritten": 0,
            "bytes": bytes_before,
        }

    with _staging(mt) as staged:
        # the rewrite: read ONLY the small files (physical schema —
        # raw files; renames/drops stay metadata via the carried
        # column_map/dropped entries) and repack them; big data files
        # and MoR sidecars hardlink forward (metadata-only carry)
        (
            spark.read.parquet(*[os.path.join(snap, rel) for rel, _ in small])
            .repartition(n_new)
            .write.mode("overwrite")
            .parquet(os.path.join(staged, PARTS_DIR))
        )
        added = _stage_add_files(
            staged, snap, entry, keep=keep, rename="repack"
        )
        _index_bloom(spark, entry, staged, added.bloom_rels)
    committed_ver = mt._publish(
        staged,
        _carry(
            entry,
            meta={"bin_pack": len(small)},
            file_stats=added.file_stats,
            cdf=_cdf_marker(entry, "noop"),
        ),
        base_version=version,
        keep_snapshots=2,
    )
    return {
        "compacted": True,
        "version": committed_ver,
        "files_before": files_before,
        "files_after": len(keep) + len(added.new_rels),
        "files_rewritten": len(small),
        "bytes_rewritten": small_bytes,
        "bytes": bytes_before,
    }



def compact_clustered(
    spark: SparkSession,
    root: str,
    *,
    keep_snapshots: int = 2,
) -> dict:
    """Per-bucket repack of a clustered snapshot (r11 — the OPTIMIZE
    mode for bucket layouts, completing ``append_clustered``'s cost
    model): every bucket that accreted multiple files is rewritten to
    ONE sorted file — restoring the one-file-per-bucket invariant that
    lets the catalog scan claim per-bucket SORT ordering, so
    downstream sort-merge joins go back to needing neither exchange
    NOR sort — while single-file buckets HARDLINK forward untouched
    (inode-preserved, zero bytes moved). Rewrite cost is
    O(multi-file-bucket bytes), never the table: the routine
    maintenance a 100 TB clustered fact table can afford between
    streaming appends, exactly Delta OPTIMIZE on a bucketed layout.

    The repack is ONE Spark job: the multi-file buckets' rows are
    re-routed through the same ``pmod(murmur3, n)`` the bucket ids
    came from, so each write task lands exactly its bucket's single
    sorted file and untouched buckets' (empty) tasks emit nothing.
    Commits through the same CAS as every writer; the bucket spec
    carries forward verbatim. No-ops when every bucket already holds
    at most one file (idempotent cron).

    Merge-on-read sidecars (r12 — the OPTIMIZE half of clustered DML):
    a live deletion vector / ``_upd`` delta is MATERIALIZED per bucket
    — buckets holding a DV-hidden pre-image (found by a key-column-
    pruned scan + file-name semi-join) or targeted by a post-image row
    join the repack set, the anti-join/union folds the sidecars into
    those buckets' rewritten files, and the new entry carries no MoR
    state (Delta's OPTIMIZE purging DVs). Untouched buckets still
    hardlink forward; the cost stays O(affected-bucket bytes)."""
    mt = ManifestTable(root)
    snap, version, entry = mt._resolve_base(
        "compaction", f"no committed snapshot under {root}"
    )
    bucket = entry.get("bucket")
    if not bucket:
        raise ValueError(
            f"{root}: not a clustered snapshot — use compact_small_files "
            f"/ compact_table"
        )
    groups: dict[int, list[str]] = {}
    for f in os.listdir(snap):
        if not f.endswith(".parquet"):
            continue
        bid = _bucket_id(f)
        if bid is None:  # pragma: no cover - commit paths preserve names
            raise RuntimeError(f"{root}: non-bucket file {f!r} in snapshot")
        groups.setdefault(bid, []).append(f)
    multi = {b: fs for b, fs in groups.items() if len(fs) > 1}
    files_before = sum(len(fs) for fs in groups.values())
    schema = T.StructType.fromJson(json.loads(entry["schema"]))
    # merge-on-read sidecars (r12): compaction MATERIALIZES them per
    # bucket — a bucket is repacked iff it accreted multiple files, or
    # holds a DV-hidden pre-image row, or is the target of an _upd
    # post-image; every other bucket hardlinks forward untouched. The
    # DV-hit scan reads only the key columns + file names (columnar
    # prune), the delta's target buckets come from the same
    # pmod(murmur3, n) the bucket ids were written with, and the
    # post-write name check below would catch any routing mismatch.
    dv = entry.get("dv")
    delta = entry.get("mor_delta")
    affected: set[int] = set(multi)
    dv_keys_df = None
    if dv:
        dv_keys_df = spark.read.parquet(os.path.join(snap, mt.DV_DIR))
        if int(dv.get("n_keys", 0)) and groups:
            base_keys = spark.read.schema(schema).parquet(
                *[
                    os.path.join(snap, f)
                    for fs in groups.values()
                    for f in fs
                ]
            ).select(
                *[F.col(c) for c in dv["key_cols"]],
                F.element_at(
                    F.split(F.input_file_name(), "/"), -1
                ).alias("__file"),
            )
            hit = (
                base_keys.join(
                    F.broadcast(dv_keys_df),
                    on=list(dv["key_cols"]),
                    how="left_semi",
                )
                .select("__file")
                .distinct()
                .collect()
            )
            affected |= {
                b
                for b in (_bucket_id(r["__file"]) for r in hit)
                if b is not None
            }
    upd_df = None
    if delta:
        upd_df = spark.read.parquet(os.path.join(snap, mt.UPD_DIR))
        tgt = (
            upd_df.select(
                F.pmod(
                    F.hash(F.col(bucket["col"])), F.lit(int(bucket["n"]))
                ).alias("__b")
            )
            .distinct()
            .collect()
        )
        affected |= {int(r["__b"]) for r in tgt}
    if not affected and not dv and not delta:
        return {
            "compacted": False,
            "version": version,
            "files_before": files_before,
            "files_after": files_before,
            "buckets_repacked": 0,
        }
    with _staging(mt) as staged:
        files = [f for b in sorted(affected) for f in groups.get(b, [])]
        if files:
            df = spark.read.schema(schema).parquet(
                *[os.path.join(snap, f) for f in files]
            )
            if dv_keys_df is not None:
                df = df.join(
                    F.broadcast(dv_keys_df),
                    on=list(dv["key_cols"]),
                    how="left_anti",
                )
        else:
            df = spark.createDataFrame([], schema)
        if upd_df is not None:
            df = df.unionByName(upd_df)
        _write_bucketed(
            spark, df, bucket["col"], int(bucket["n"]),
            bucket["sorted_by"], os.path.join(staged, PARTS_DIR),
        )
        # untouched buckets link forward; the rewrite folds the MoR
        # sidecars, so they do not
        kept = [f for b, fs in groups.items() if b not in affected for f in fs]
        added = _stage_add_files(
            staged, snap, entry, keep=kept, sidecars=False
        )
        for f in added.new_rels:
            if _bucket_id(f) not in affected:  # pragma: no cover
                raise RuntimeError(
                    f"{root}: repack routed rows outside the affected "
                    f"buckets ({f!r})"
                )
        _index_bloom(spark, entry, staged, added.bloom_rels)
    meta = {"bucket_repack": len(affected)}
    if dv or delta:
        meta["mor_folded"] = {
            "dv_keys": int((dv or {}).get("n_keys", 0)),
            "upd_rows": int((delta or {}).get("n_rows", 0)),
        }
    committed_ver = mt._publish(
        staged,
        # the sidecars are materialized by this commit: the new entry
        # carries NO dv/mor_delta
        _carry(
            entry,
            meta=meta,
            file_stats=added.file_stats,
            dv=None,
            mor_delta=None,
        ),
        base_version=version,
        keep_snapshots=keep_snapshots,
    )
    return {
        "compacted": True,
        "version": committed_ver,
        "files_before": files_before,
        "files_after": len(kept) + len(added.new_rels),
        "buckets_repacked": len(affected),
    }



def zorder_key(df: DataFrame, cols: list[str], *, bits: int = 16) -> Column:
    """Interleaved-bit (Morton) clustering key over numeric / date /
    timestamp columns — the multi-dimensional analogue of a sort key
    (Delta ``OPTIMIZE ZORDER BY``): rows close in the z-key are close
    in EVERY listed dimension, so range-clustering files by it gives
    per-file min/max stats that prune on ANY of the columns, where a
    lexicographic sort prunes only on its leading column.

    Each column is affinely quantized to ``bits`` levels between its
    global min and max (ONE tiny aggregate collects the 2×n driver
    scalars — the same metadata pass Delta's optimizer runs), then the
    bit planes are interleaved with pure JVM-side shift/mask
    expressions — no UDF, stays in whole-stage codegen. NULLs quantize
    to level 0 (cluster together at the low edge).

    ``bits`` is clamped so the interleaved key always fits a SIGNED
    long: ``len(cols) * bits <= 63`` (ADVICE r9 — with the old
    unclamped default, 4 columns put the top plane on bit 63, the sign
    bit, and 5+ columns wrapped the shift mod 64, silently corrupting
    the Morton order; row correctness was unaffected since file stats
    stay true, but clustering/pruning quality degraded)."""
    if not cols:
        raise ValueError("zorder_key requires at least one column")
    if len(cols) > 63:
        raise ValueError(
            f"zorder_key: {len(cols)} columns cannot interleave even "
            f"1 bit each inside a signed 64-bit key (max 63 columns)"
        )
    bits = min(bits, 63 // len(cols))
    dts = dict(df.dtypes)
    levels = (1 << bits) - 1

    def as_num(c: str) -> Column:
        col = F.col(c)
        dt = dts[c]
        if dt == "date":
            return F.datediff(col, F.to_date(F.lit("1970-01-01"))).cast(
                "double"
            )
        if dt.startswith("timestamp"):
            return F.unix_micros(col.cast("timestamp")).cast("double")
        return col.cast("double")

    aggs = []
    for i, c in enumerate(cols):
        aggs.append(F.min(as_num(c)).alias(f"mn{i}"))
        aggs.append(F.max(as_num(c)).alias(f"mx{i}"))
    b = df.agg(*aggs).collect()[0]  # 2n scalars: metadata-pass only

    n = len(cols)
    z: Column | None = None
    for i, c in enumerate(cols):
        mn, mx = b[f"mn{i}"], b[f"mx{i}"]
        if mn is None or mx is None or mx <= mn:
            q = F.lit(0).cast("long")
        else:
            scaled = (as_num(c) - F.lit(float(mn))) / F.lit(float(mx - mn))
            q = F.coalesce(
                F.floor(scaled * levels), F.lit(0)
            ).cast("long")
            q = F.greatest(F.lit(0), F.least(F.lit(levels), q))
        for j in range(bits):
            bit = F.shiftrightunsigned(q, j).bitwiseAND(F.lit(1))
            plane = F.shiftleft(bit, j * n + (n - 1 - i))
            z = plane if z is None else z + plane
    return z



def sweep_stale_dirs(base: str, ttl_sec: float = 6 * 3600.0) -> int:
    """Best-effort reaper for EPHEMERAL scratch roots (per-invocation
    uuid directories a crashed run left behind): remove direct
    children of ``base`` whose mtime is older than ``ttl_sec``.

    This is the txn layer's one TTL story applied to scratch space —
    the default matches :class:`ManifestTable`'s ``staging_ttl_sec``
    rationale: size it above the longest plausible run. A root's mtime
    refreshes whenever a direct child (e.g. a stage table dir) is
    created, so a live run is only at risk if MORE than ``ttl_sec``
    passes between its last stage boundary and its final read — which
    is why callers that own their root should also delete it eagerly
    once their result is materialized (then this sweep only ever sees
    crash leftovers). Returns the number of roots removed.

    The mtime check runs per-entry at rmtree time (not from a listing
    snapshot), so a root a concurrent invocation just created is never
    judged by stale metadata."""
    removed = 0
    try:
        entries = os.listdir(base)
    except FileNotFoundError:
        return 0
    for e in entries:
        p = os.path.join(base, e)
        try:
            if time.time() - os.path.getmtime(p) <= ttl_sec:
                continue
        except FileNotFoundError:
            continue  # a concurrent sweep got it first
        shutil.rmtree(p, ignore_errors=True)
        removed += 1
    return removed
