"""The ManifestTable change feed as a REGISTERED Spark data source —
Delta's ``readChangeFeed`` surface re-expressed on the manifest
protocol (Spark 4 Python DataSource API):

    spark.dataSource.register(ManifestCDFDataSource)
    # batch: all changes in a version range
    spark.read.format("manifest_cdf").option("root", root)
         .option("starting_version", 2).load()
    # stream: follow the table's commits
    spark.readStream.format("manifest_cdf").option("root", root).load()

The feed itself is MATERIALIZED at commit time
(``ManifestTable.commit(cdf_keys=[...])`` writes each version's change
rows — ``_change_type`` + full row + ``_commit_version`` — into a
hidden ``_cdf/`` sidecar inside the snapshot; ``delete_where`` derives
its delete rows directly from the deletion vector's keys). This source
only LISTS and READS those churn-sized files:

- Offsets are table VERSIONS — ``latestOffset`` is one pointer-file
  read; a micro-batch covers versions ``(start, end]``; restart picks
  up exactly the committed-but-unread versions from the checkpoint.
- One ``InputPartition`` per change FILE, so a huge backfill batch
  fans out across executors and a trickle of small commits stays one
  task each. The read path never touches snapshot data files — cost
  tracks churn, not table size, which is the whole point at 100 TB.
- Version gaps are loud, not silent: a version committed without the
  feed enabled, or a RESTORE (whose entry carries a ``break`` marker),
  raises — a consumer must rebuild from a full scan rather than
  silently missing changes, exactly Delta's contract. Compaction
  commits are marked ``noop`` (logical content preserved) and skip.
- GC: change files live inside their version's snapshot dir, so the
  retention contract that protects time travel protects the feed; a
  consumer further behind than the retention window gets
  ``SnapshotExpiredError`` and must rebuild.

Composes with the exactly-once manifest epoch sink
(streaming/txn_sink.py): table -> change stream -> derived table, each
hop transactional — the reference's daily-incremental loop (SURVEY
§1.4) generalized to continuous materialized-view maintenance.

Reference anchor: the reference recomputes downstream state from full
re-scrapes (dags/scraping_etl.py:59-69 delta contract); this is the
multi-consumer, multi-version generalization of that delta feed.
"""

from __future__ import annotations

import glob
import json
import os

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import LongType, StringType, StructField, StructType

from .manifest_log import pointer_version, read_log_entry
from .skipping import data_files


def _change_files(
    root: str, v_from: int, v_to: int, type_filter: set | None = None
) -> list[tuple[str, int | None]]:
    """``(path, synth_version)`` pairs for versions in ``(v_from,
    v_to]``, validating feed continuity (raise on disabled / broken
    versions, skip noops). ``synth_version`` is None for a ``_cdf/``
    change file (markers are in the file); for an ``initial`` commit
    the pairs point at the snapshot's DATA files and carry the version
    so the reader synthesizes ``insert`` markers — the initial load's
    feed costs zero extra bytes at commit time.

    ``type_filter`` (r13, from pushed ``_change_type`` equality/IN
    filters): versions whose commit recorded a ``change_types`` set
    disjoint from the filter contribute NO files — a consumer asking
    only for inserts never lists a delete-only version's sidecar.
    Versions without the recorded set (pre-r13 commits) are kept;
    continuity is validated for every version either way."""
    out: list[tuple[str, int | None]] = []
    for v in range(v_from + 1, v_to + 1):
        entry = read_log_entry(root, v)
        if entry is None:
            raise ValueError(
                f"{root}: no commit log entry for version {v} — the "
                f"change feed cannot skip versions; rebuild the consumer"
            )
        cdf = entry.get("cdf")
        if cdf is None:
            raise ValueError(
                f"{root}: version {v} was committed without the change "
                f"feed (cdf_keys) — feed continuity is broken; rebuild "
                f"the consumer from a full scan"
            )
        if cdf.get("break"):
            raise ValueError(
                f"{root}: version {v} breaks feed continuity (RESTORE "
                f"or column rename — its changes are not materialized); "
                f"rebuild the consumer from a full scan"
            )
        if cdf.get("noop") or not cdf.get("n_changes"):
            continue  # compaction / empty commit: nothing to feed
        if type_filter is not None:
            known = cdf.get("change_types") or (
                ["insert"] if cdf.get("initial") else None
            )
            if known is not None and not set(known) & type_filter:
                continue  # no change in this version can match
        snap = os.path.join(root, entry["snapshot"])
        if cdf.get("initial"):
            files = [(f, v) for f in data_files(snap)]
        else:
            files = [
                (f, None)
                for f in sorted(
                    glob.glob(os.path.join(snap, "_cdf", "*.parquet"))
                )
            ]
        if not files:
            raise FileNotFoundError(
                f"{root}: version {v}'s change files were garbage-"
                f"collected (consumer fell behind retention) — rebuild"
            )
        out.extend(files)
    return out


_KNOWN_CHANGE_TYPES = frozenset(
    ("insert", "delete", "update_preimage", "update_postimage")
)


def _parse_change_types(options) -> set | None:
    """The ``change_types`` option (comma-separated) as a validated
    set, or None when absent. Unknown names refuse loudly — a typo'd
    consumer must not silently read every change type."""
    raw = options.get("change_types")
    pts = (
        {t.strip() for t in raw.split(",") if t.strip()} if raw else None
    )
    if pts is not None and not pts <= _KNOWN_CHANGE_TYPES:
        raise ValueError(
            f"change_types: unknown {sorted(pts - _KNOWN_CHANGE_TYPES)}; "
            f"valid: {sorted(_KNOWN_CHANGE_TYPES)}"
        )
    return pts


def _schema_for(root: str) -> StructType:
    """Declared feed schema: the LIVE table schema plus the change
    markers. Mid-stream widening evolution is served as-committed (the
    files carry the schema their version had); a consumer that needs
    the evolved view restarts — same guidance as Delta CDF."""
    ver = pointer_version(root)
    entry = read_log_entry(root, ver) or {}
    sj = entry.get("schema")
    if not sj:
        raise ValueError(
            f"{root}: no committed schema — commit with cdf_keys first"
        )
    base = StructType.fromJson(json.loads(sj))
    return StructType(
        [StructField("_change_type", StringType(), False)]
        + list(base.fields)
        + [StructField("_commit_version", LongType(), False)]
    )


def _arrow_schema(schema: StructType):
    from pyspark.sql.pandas.types import to_arrow_schema

    return to_arrow_schema(schema)


class _CDFReadMixin:
    """Shared executor-side read: one change FILE per partition,
    yielded as Arrow batches (zero row-at-a-time Python). Files whose
    column set or types predate a schema evolution are aligned by name
    and cast to the declared schema (widenings are lossless by the
    table's evolution contract)."""

    arrow_schema = None  # set by subclass __init__, pickled to workers
    type_points = None  # change_types option, set by subclass __init__

    def read(self, partition):
        import pyarrow as pa
        import pyarrow.parquet as pq

        if partition.value is None:  # all-pruned/all-noop placeholder
            return
        want = self.arrow_schema
        path, synth_version = partition.value
        tbl = pq.read_table(path)
        if synth_version is not None:
            # an `initial` commit's DATA file: the feed markers are
            # constants, never persisted (zero extra commit bytes)
            n = tbl.num_rows
            tbl = tbl.add_column(
                0,
                "_change_type",
                pa.array(["insert"] * n, type=pa.string()),
            ).append_column(
                "_commit_version",
                pa.array([synth_version] * n, type=pa.int64()),
            )
        if tbl.schema.names != want.names:
            n = tbl.num_rows
            arrays = [
                tbl.column(f.name)
                if f.name in tbl.schema.names
                else pa.nulls(n, type=f.type)  # column added later
                for f in want
            ]
            tbl = pa.Table.from_arrays(arrays, names=list(want.names))
        tbl = tbl.cast(want)
        if self.type_points is not None:
            # exact row filter for the change_types option: a version
            # can mix change types (commit diffs); version skipping is
            # only the coarse pass over the same option — shared by
            # the batch AND stream paths, so read -> readStream keeps
            # identical predicate semantics
            import pyarrow.compute as pc

            tbl = tbl.filter(
                pc.is_in(
                    tbl.column("_change_type"),
                    value_set=pa.array(sorted(self.type_points)),
                )
            )
        yield from tbl.to_batches(max_chunksize=1 << 16)


class ManifestCDFBatchReader(_CDFReadMixin, DataSourceReader):
    """Batch feed reader with planning-time version skipping (r13):
    the ``starting_version`` / ``ending_version`` options narrow the
    listed window (O(window) commit entries, not O(history)), and the
    ``change_types`` option (comma-separated, e.g. ``'insert'`` or
    ``'delete,update_preimage'``) skips versions whose recorded
    change-type set cannot match — an insert-only consumer never
    lists a delete-only version's sidecar — and filters the surviving
    rows exactly per task, so the option IS the predicate.

    Skipping is deliberately OPTION-driven, not ``pushFilters``-driven:
    Spark 4.1 keeps one mutable read-info slot per Python data source
    instance, so a reader whose partitions depend on pushed filters
    silently serves the LAST branch's partition list to every scan of
    a twice-referenced relation (see ManifestReader's docstring for
    the measured failure). Options live in the relation identity —
    every plan run of the same relation produces the same read-info,
    and differently-filtered feeds are different relations."""

    def __init__(self, options, schema):
        self.root = options["root"]
        self.v_from = int(options.get("starting_version", 1)) - 1
        self.v_to = int(options.get("ending_version", 0)) or pointer_version(
            self.root
        )
        self.arrow_schema = _arrow_schema(schema)
        self.type_points = _parse_change_types(options)

    def partitions(self):
        files = _change_files(
            self.root, self.v_from, self.v_to, self.type_points
        )
        # an all-pruned window still needs >=1 partition (API contract)
        return [InputPartition(f) for f in files] or [InputPartition(None)]


class ManifestCDFStreamReader(_CDFReadMixin, DataSourceStreamReader):
    """Version-offset stream over the commit log. ``latestOffset`` is
    one tiny pointer read (driver-side); each micro-batch's partitions
    are the change files of the versions it covers. Offset state lives
    in the checkpoint — a replayed epoch lists the same versions,
    whose change files are immutable, so the batch replays bit-
    identically and the manifest epoch sink's exactly-once guard
    composes (same contract as the scrape stream source)."""

    def __init__(self, options, schema):
        self.root = options["root"]
        self.start = int(options.get("starting_version", 1)) - 1
        self.arrow_schema = _arrow_schema(schema)
        # r13: the change_types predicate applies on the STREAM path
        # too (same option semantics as the batch reader — version
        # skipping + exact row filter in the shared mixin); offsets
        # still advance over skipped versions, and replays are
        # deterministic because the filter lives in the options
        self.type_points = _parse_change_types(options)

    def initialOffset(self):
        return {"version": self.start}

    def latestOffset(self):
        return {"version": max(self.start, pointer_version(self.root))}

    def partitions(self, start, end):
        files = _change_files(
            self.root,
            int(start["version"]),
            int(end["version"]),
            self.type_points,
        )
        # an all-noop range still needs >=1 partition: Spark requires
        # a non-empty plan per batch, so feed one empty file-less task
        return [InputPartition(f) for f in files] or [InputPartition(None)]

    def read(self, partition):
        if partition.value is None:  # all-noop batch placeholder
            return
        yield from super().read(partition)

    def commit(self, end):
        pass


class ManifestCDFDataSource(DataSource):
    """``format("manifest_cdf")`` — see module docstring. Options:
    ``root`` (required, the ManifestTable root), ``starting_version``
    (default 1, inclusive), ``ending_version`` (batch only, default =
    current head), ``change_types`` (batch AND stream, comma-separated
    subset of insert/delete/update_preimage/update_postimage — exact
    row predicate + planning-time version skipping via the commit
    log's recorded change-type sets)."""

    @classmethod
    def name(cls) -> str:
        return "manifest_cdf"

    def schema(self) -> StructType:
        return _schema_for(self.options["root"])

    def reader(self, schema):
        return ManifestCDFBatchReader(self.options, schema)

    def streamReader(self, schema):
        return ManifestCDFStreamReader(self.options, schema)


def register(spark) -> None:
    """Idempotent registration of the ``manifest_cdf`` format."""
    spark.dataSource.register(ManifestCDFDataSource)
