"""Snapshot reads: MoR composition, time travel, diffs, and file-skipping reads."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .errors import SnapshotExpiredError
from .layout import _entry_specs
from .schema import _apply_map, _diff_frames, _phys_schema, _snap_read
from ...sources.skipping import (
    _bloom_key,
    bloom_indexed,
    conjunct,
    kept_files,
)


def _range_conds(ranges: dict) -> list[tuple]:
    """``{col: (lo, hi)}`` inclusive bounds (None = unbounded) as the
    conjunction ``col >= lo AND col <= hi`` the pruning core reads."""
    conds = []
    for col, (lo, hi) in ranges.items():
        if lo is not None:
            conds.append(("cmp", col, ">=", lo))
        if hi is not None:
            conds.append(("cmp", col, "<=", hi))
    return conds


class _ReadMixin:
    """Snapshot reads: MoR composition, time travel, diffs, and the
    file-skipping probes (dirs, stats, buckets, blooms — one pruning
    core shared with the SQL datasource, ``sources/skipping.py``)."""

    #: DV key-count ceiling for FORCING a broadcast anti-join on the
    #: clustered read path (exchange-free joins depend on the anti-join
    #: being a post-scan filter); beyond it, AQE decides — a DV this
    #: large means compaction is overdue anyway.
    DV_BROADCAST_KEYS = 4_000_000


    def read(self, spark: SparkSession, version: int | None = None) -> DataFrame:
        """Read the current snapshot, or time-travel to a retained
        ``version``. The returned scan is PINNED to the resolved
        snapshot directory — a writer advancing the pointer mid-scan
        cannot redirect it, and the retention contract keeps the files
        alive for ``retention_sec`` after the commit. A merge-on-read
        deletion vector (:meth:`delete_where`) recorded for the
        resolved version is applied automatically."""
        path, entry = self._resolve(version)
        return self._apply_dv(
            spark, _apply_map(_snap_read(spark, path, entry), entry), entry, path
        )


    def _apply_dv(
        self,
        spark: SparkSession,
        df: DataFrame,
        entry: dict | None,
        snap_path: str,
        *,
        prefer_broadcast: bool = False,
    ) -> DataFrame:
        """Finish a raw data-file scan into the snapshot's VISIBLE
        state: apply the merge-on-read deletion vector (one left-anti
        equi-join on the declared key columns against the ``_dv/``
        sidecar), then union the merge-on-read update delta (the
        ``_upd/`` post-image rows — :meth:`update_where` — which are
        post-vector BY CONSTRUCTION and must never be anti-joined).
        Both sidecars live INSIDE the snapshot dir, underscore-
        prefixed so plain parquet listing never sees them as data;
        both are churn-sized, so AQE broadcasts the anti-join build
        side and the union adds no shuffle. ``prefer_broadcast``
        (the clustered read path) FORCES the broadcast for churn-sized
        vectors so the anti-join is provably a post-scan filter and
        the scan's HashPartitioning survives into joins."""
        dv = (entry or {}).get("dv")
        if dv:
            keys = spark.read.parquet(os.path.join(snap_path, self.DV_DIR))
            if prefer_broadcast and (
                dv.get("n_keys", 0) <= self.DV_BROADCAST_KEYS
            ):
                keys = F.broadcast(keys)
            df = df.join(keys, on=list(dv["key_cols"]), how="left_anti")
        if (entry or {}).get("mor_delta"):
            df = df.unionByName(
                _apply_map(
                    spark.read.parquet(
                        os.path.join(snap_path, self.UPD_DIR)
                    ),
                    entry,
                )
            )
        return df


    def diff(
        self,
        spark: SparkSession,
        v_from: int,
        v_to: int,
        keys: list[str],
    ) -> DataFrame:
        """Change-data-feed between two retained versions (Delta CDF
        shape): one full-outer join of the two pinned snapshots on
        ``keys`` producing ``_change_type`` rows — ``insert`` (key only
        in ``v_to``, post-image values), ``delete`` (key only in
        ``v_from``, pre-image values), and for value changes BOTH an
        ``update_preimage`` and an ``update_postimage`` row; unchanged
        keys emit nothing. Comparison is null-safe per column.

        Scale shape: one keyed shuffle join of two snapshots; the
        per-key change rows are built as an array and exploded in the
        same stage, so the join output is traversed once. This is the
        batch reconciliation primitive incremental consumers (q95/q106
        shape) use to catch up from version N to the head without
        re-reading the whole table."""
        return _diff_frames(
            self.read(spark, version=v_from),
            self.read(spark, version=v_to),
            keys,
        )


    def read_asof(self, spark: SparkSession, ts: float) -> DataFrame:
        """Time travel by timestamp: the newest version whose commit
        time is <= ``ts`` (Delta's ``timestampAsOf``). If that version
        was garbage-collected, this RAISES
        :class:`SnapshotExpiredError` — silently falling back to an
        older retained version would return state that was never
        current at ``ts``-adjacent times the caller asked about."""
        for e in self.history():  # newest-first
            if e.get("ts", float("inf")) <= ts:
                if not e["retained"]:
                    raise SnapshotExpiredError(
                        f"{self.root}: version {e['version']} is the "
                        f"as-of state for ts={ts} but aged past the "
                        f"retention contract and was garbage-collected"
                    )
                return self.read(spark, version=e["version"])
        raise FileNotFoundError(
            f"{self.root}: no commit at or before ts={ts}"
        )


    def _resolve(self, version: int | None) -> tuple[str, dict]:
        """(snapshot path, log entry) of ``version`` (default: head),
        resolved ONCE per read: the files pruned and the entry whose
        stats, blooms and sidecars prune them must belong to the same
        version even if a writer races this read."""
        if version is None:
            ptr = self._pointer()
            if ptr is None:
                raise FileNotFoundError(
                    f"no committed snapshot under {self.root}"
                )
            snap_name, version = ptr
            path = os.path.join(self.root, snap_name)
        else:
            path = self.snapshot_path(version)
            if path is None:
                raise FileNotFoundError(
                    f"no committed snapshot under {self.root}"
                )
        return path, self._log_entry(version) or {}


    def _kept(
        self, conds: list, version: int | None
    ) -> tuple[str, dict, list, int]:
        """(snap, entry, kept_files, total) for ONE conjunction of
        raw conditions over logical columns — the shared pruning core
        (:func:`..sources.skipping.kept_files`): hive dirs, per-file
        stats, bucket layout and bloom sidecar, the same tiers and
        literal coercion the SQL ``where`` option gets. A literal that
        does not fit its column's type raises ``ValueError``."""
        snap, entry = self._resolve(version)
        kept, total = kept_files(snap, entry, [conjunct(conds, entry)])
        return snap, entry, kept, total


    def pruned_files(
        self,
        col: str,
        lo=None,
        hi=None,
        version: int | None = None,
    ) -> tuple[list[str], int]:
        """File-level data skipping: the snapshot's data files (absolute
        paths) that may hold a ``col`` value in [``lo``, ``hi``]
        (either bound None = unbounded), plus the snapshot's TOTAL file
        count. A partition column prunes by directory value, a data
        column by the commit log's per-file stats (``stats_by``; files
        without a recorded stat are kept — skipping is an optimization,
        never a correctness filter). No data file is opened."""
        _snap, _entry, kept, total = self._kept(
            _range_conds({col: (lo, hi)}), version
        )
        return kept, total


    def read_range(
        self,
        spark: SparkSession,
        col: str,
        lo=None,
        hi=None,
        version: int | None = None,
    ) -> DataFrame:
        """Range-pruned read: scan ONLY the data files whose committed
        [min, max] for ``col`` overlaps [``lo``, ``hi``] — the
        file-level skip Delta does from its per-file stats, here from
        the commit log's ``stats_by`` records. The pruning is coarse
        (file granularity): the caller still applies its exact
        predicate on the returned frame; this method only guarantees
        no qualifying row is skipped.

        Partitioned snapshots compose BOTH prunings: a range over a
        partition column prunes by directory value, any other column
        by its file stats, and the surviving explicit file list
        reconstructs the partition columns via ``basePath``. At 100 TB
        this is the difference between listing+scanning O(table) files
        and O(window) files for the date-windowed reads every
        incremental consumer issues."""
        return self.read_where(spark, {col: (lo, hi)}, version=version)


    def read_where(
        self,
        spark: SparkSession,
        ranges: dict,
        version: int | None = None,
    ) -> DataFrame:
        """Multi-column file-skipping read: scan only files that may
        hold a row inside EVERY ``{col: (lo, hi)}`` range (conjunctive
        predicate). On a z-ordered snapshot (:func:`zorder_key` via
        ``compact_table(zorder_by=...)``) each listed dimension prunes
        independently — the point of multi-dimensional clustering.
        Partition columns prune by directory value; same coarse-pruning
        contract as :meth:`read_range`."""
        if not ranges:
            raise ValueError("read_where requires at least one column range")
        snap, entry, kept, _total = self._kept(_range_conds(ranges), version)
        return self._read_file_subset(spark, kept, entry, snap)


    def bloom_pruned_files(
        self, col: str, value, version: int | None = None
    ) -> tuple[list, int, bool]:
        """(kept_files, total_files, indexed): the data files that may
        hold ``col = value`` — the files :meth:`read_point` scans.
        ``indexed`` says whether a per-file bloom over ``col`` took
        part; without one (no ``bloom_by`` for this column/version, or
        a column type whose string form the sidecar cannot match)
        only the other tiers prune. Driver-side only — the sidecar is
        tiny metadata (~1.2 bytes/indexed key), so probing reads no
        data files and runs no cluster job. False positives are the
        caller's exact predicate's job; false negatives cannot happen
        — the build and probe share one hash."""
        snap, entry = self._resolve(version)
        indexed = bloom_indexed(snap, entry, col)
        if indexed:
            _bloom_key(value)  # TypeError on an unprobeable value type
        kept, total = kept_files(
            snap, entry, [conjunct([("cmp", col, "=", value)], entry)]
        )
        return kept, total, indexed


    def read_point(
        self,
        spark: SparkSession,
        col: str,
        value,
        version: int | None = None,
    ) -> DataFrame:
        """Point-lookup read: scan only the files whose bloom filter
        may contain ``value`` AND whose [min, max] stats cover it
        (each index prunes independently; either may be absent). The
        complement of :meth:`read_range`: min/max stats prune range
        predicates on clustered columns, the bloom prunes equality
        probes on high-cardinality columns where every file's range
        spans the domain — together they are Delta's data-skipping +
        bloom-index pair. Coarse-pruning contract as
        :meth:`read_range`: the caller still applies the exact
        ``col = value`` predicate; no qualifying row is skipped
        (merge-on-read sidecars union in even when every base file
        prunes away)."""
        snap, entry, kept, _total = self._kept(
            [("cmp", col, "=", value)], version
        )
        return self._read_file_subset(spark, kept, entry, snap)


    def _read_file_subset(
        self,
        spark: SparkSession,
        kept: list,
        entry: dict,
        snap: str,
    ) -> DataFrame:
        """Finish a file-skipping read over an explicit surviving-file
        set: declare the physical schema, scan only ``kept``, and run
        the merge-on-read finisher. When EVERY base file was pruned the
        ``_upd``/``_dv`` sidecars must still apply on an empty base —
        update_where can move rows into ranges no base file's stats
        cover (ADVICE r9) — so the 'no qualifying row is skipped'
        contract holds on the empty path too."""
        # the files carry PHYSICAL names: declare the schema in
        # physical terms (parquet matches by name), rename after
        phys_schema = _phys_schema(entry)
        if not kept:
            empty = spark.createDataFrame(
                [], phys_schema or _snap_read(spark, snap, entry).schema
            )
            return self._apply_dv(spark, _apply_map(empty, entry), entry, snap)
        reader = spark.read
        if phys_schema is not None:
            reader = reader.schema(phys_schema)
        specs = _entry_specs(entry)
        if specs:
            # EVOLVED snapshot: group the surviving files by their
            # spec subtree and scan each group with ITS basePath, so
            # each spec's dir-encoded partition columns reconstruct;
            # the union normalizes column order (hive scans put
            # partition columns last)
            by_spec: dict[str, list] = {}
            for fp in sorted(kept):
                rel = os.path.relpath(fp, snap)
                by_spec.setdefault(rel.split(os.sep, 1)[0], []).append(fp)
            frames = []
            for sd, files in sorted(by_spec.items()):
                fr = reader.option("basePath", os.path.join(snap, sd))
                fr = fr.parquet(*files)
                frames.append(
                    fr.select(*phys_schema.names)
                    if phys_schema is not None
                    else fr
                )
            out = frames[0]
            for fr in frames[1:]:
                out = out.unionByName(fr)
            return self._apply_dv(spark, _apply_map(out, entry), entry, snap)
        if entry.get("partition_by"):
            # explicit file lists drop hive partition columns unless
            # the reader knows the tree root they were derived from
            reader = reader.option("basePath", snap)
        return self._apply_dv(
            spark,
            _apply_map(reader.parquet(*sorted(kept)), entry),
            entry,
            snap,
        )
