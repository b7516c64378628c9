"""The ManifestTable as a REGISTERED Spark data source — the
transaction layer readable from PURE SQL (Spark 4 Python DataSource
API), including time travel:

    spark.dataSource.register(ManifestDataSource)
    spark.read.format("manifest").option("root", root).load()
    spark.sql(\"\"\"
      CREATE TEMPORARY VIEW ledger
      USING manifest OPTIONS (root '...', version '3')
    \"\"\")

This is Delta's ``spark.read.format("delta").option("versionAsOf")``
surface re-expressed on the manifest protocol. The reader implements
the FULL merge-on-read visibility composition per task, in Arrow:

- one ``InputPartition`` per data file (a 100 TB snapshot fans out
  file-granular, like any parquet scan);
- hive partition values parsed from the file's directory path and
  attached as constant columns (data files under ``col=value`` dirs
  don't carry the column);
- the deletion vector applied as a per-task Arrow anti-join (the
  ``_dv/`` sidecar is churn-sized by contract — one small file every
  task can afford to load);
- the ``_upd/`` update delta served by its own partitions (post-DV by
  construction);
- metadata-only renames applied by name (``column_map``).

Parity with :meth:`ManifestTable.read` is pinned in
``tests/test_manifest_source.py`` for every sidecar combination —
same rows, same logical schema, through the SQL surface.

Options: ``root`` (required), ``version`` (int, optional — default
head), ``asof`` (float unix ts, optional — Delta ``timestampAsOf``;
mutually exclusive with ``version``). Any other option raises
``ValueError``: a relation that silently ignored an option such as a
row filter would return the whole table. Version resolution happens
ONCE at reader construction, so a racing writer cannot redirect the
scan mid-query (same pin the DataFrame API gives), and a GC'd version
raises the documented errors instead of silently reading older state.

A ``USING manifest`` relation scans every file of its version under
any plain ``WHERE``: Spark 4.1 shares one read-info slot per Python
data source, so ``pushFilters``-dependent partitions would be unsound
(see ``test_spark_shared_readinfo_canary``). Pruned SQL reads go
through :func:`.manifest_sql.predicate_view`, a native parquet scan.

The source is read-only: ``df.write.format("manifest")`` and a plain
``spark.sql`` INSERT into a ``USING manifest`` relation raise
:class:`ManifestReadOnlyError` before any task runs. SQL appends go
through :func:`.manifest_sql.sql` on a ``register_table`` name, which
commits with :meth:`ManifestTable.append`.
"""

from __future__ import annotations

import glob
import json
import os

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition
from pyspark.sql.types import StructType

from .manifest_log import resolve_version
from .skipping import data_files, partition_values

#: every option the source accepts
_OPTIONS = frozenset({"root", "version", "asof"})


class ManifestReadOnlyError(ValueError):
    """A write through the ``manifest`` data source
    (``df.write.format("manifest")``, a plain ``spark.sql`` INSERT into
    a ``USING manifest`` relation). Appends go through
    :func:`.manifest_sql.sql` on a ``register_table`` name or
    :meth:`ManifestTable.append`."""


# One deletion-vector parse per Python worker per snapshot (guide
# §4.5, r17): ManifestReader.read() runs once PER TASK, and before
# this memo every task of an MoR scan re-read and re-concatenated the
# whole ``_dv/`` sidecar — N data files × M DV files parses. The memo
# lives at module level so a reused Python worker
# (spark.python.worker.reuse, default on) keeps it across tasks; the
# PID guard drops it in forked children. Keyed on every DV file's
# path AND a digest of its bytes: snapshot dirs are immutable by the
# commit contract, but a PATH can be reused across table rebuilds in
# one process (tests do this), and a same-size rewrite inside one
# coarse mtime tick leaves (mtime, size) unchanged — only the content
# tells the vectors apart. DVs are churn-sized by contract, so
# reading their bytes per task is cheap next to the parquet decode
# it saves; the cache keeps a handful and clears wholesale rather
# than growing without bound.
_DV_MEMO: dict = {"pid": None, "tables": {}}
_DV_MEMO_MAX = 8


def _dv_table(dv_files):
    import hashlib

    import pyarrow as pa
    import pyarrow.parquet as pq

    pid = os.getpid()
    if _DV_MEMO["pid"] != pid:
        _DV_MEMO["pid"] = pid
        _DV_MEMO["tables"] = {}
    blobs = []
    for f in dv_files:
        with open(f, "rb") as fh:
            blobs.append(fh.read())
    key = tuple(
        (f, hashlib.blake2b(b, digest_size=16).digest())
        for f, b in zip(dv_files, blobs)
    )
    tables = _DV_MEMO["tables"]
    got = tables.get(key)
    if got is None:
        got = pa.concat_tables(
            [pq.read_table(pa.BufferReader(b)) for b in blobs]
        )
        if len(tables) >= _DV_MEMO_MAX:
            tables.clear()
        tables[key] = got
    return got


class ManifestReader(DataSourceReader):
    """Per-task MoR read: parquet file -> rename map -> attach hive
    partition constants -> DV anti-join -> declared-schema cast. The
    ``_upd/`` delta files skip the anti-join (post-DV rows)."""

    def __init__(self, options, schema: StructType):
        from pyspark.sql.pandas.types import to_arrow_schema

        root, ver, entry = resolve_version(options)
        self.snap = os.path.join(root, entry["snapshot"])
        self.cmap = dict(entry.get("column_map") or {})  # logical->physical
        self.dropped = list(entry.get("dropped") or [])  # physical names
        self.dv_keys = list((entry.get("dv") or {}).get("key_cols") or [])
        self.dv_files = (
            sorted(glob.glob(os.path.join(self.snap, "_dv", "*.parquet")))
            if entry.get("dv")
            else []
        )
        self.arrow_schema = to_arrow_schema(schema)

    def partitions(self):
        parts = [
            InputPartition((f, partition_values(f, self.snap), True))
            for f in data_files(self.snap)
        ]
        # the _upd delta carries rows updated out of the base files
        parts.extend(
            InputPartition((f, {}, False))
            for f in sorted(
                glob.glob(os.path.join(self.snap, "_upd", "*.parquet"))
            )
        )
        if not parts:
            # an empty snapshot: one zero-row task keeps the contract
            # (the API requires at least one partition)
            parts.append(InputPartition((None, {}, False)))
        return parts

    def read(self, partition):
        import pyarrow as pa
        import pyarrow.parquet as pq

        path, part_vals, apply_dv = partition.value
        want = self.arrow_schema
        if path is None:  # empty-snapshot placeholder: zero rows
            return
        tbl = pq.read_table(path)
        # dropped physical columns go FIRST (metadata-only DROP): a
        # later rename may reuse a dropped name as its logical target,
        # and the stale physical column must be gone before the rename
        # lands or the two names collide (mirrors txn._apply_map)
        if self.dropped:
            keep = [c for c in tbl.schema.names if c not in self.dropped]
            tbl = tbl.select(keep)
        # physical -> logical renames (metadata-only rename commits)
        if self.cmap:
            phys_to_logi = {p: l for l, p in self.cmap.items()}
            tbl = tbl.rename_columns(
                [phys_to_logi.get(c, c) for c in tbl.schema.names]
            )
        # hive partition constants (dir names carry the values)
        for col, raw in part_vals.items():
            if col in tbl.schema.names:
                continue
            typ = want.field(col).type
            arr = pa.array([raw] * tbl.num_rows, type=pa.string()).cast(typ)
            tbl = tbl.append_column(col, arr)
        # deletion vector: per-task Arrow anti-join on the key columns
        # (the DV table itself is parsed once per worker per snapshot
        # and memoized — see _dv_table)
        if apply_dv and self.dv_files and all(
            k in tbl.schema.names for k in self.dv_keys
        ):
            tbl = tbl.join(
                _dv_table(tuple(self.dv_files)),
                keys=self.dv_keys,
                join_type="left anti",
            )
        # align + cast to the declared logical schema (null-fill
        # columns added by later schema evolution)
        if tbl.schema.names != want.names:
            arrays = [
                tbl.column(f.name)
                if f.name in tbl.schema.names
                else pa.nulls(tbl.num_rows, type=f.type)
                for f in want
            ]
            tbl = pa.Table.from_arrays(arrays, names=list(want.names))
        tbl = tbl.cast(want)
        yield from tbl.to_batches(max_chunksize=1 << 16)


class ManifestDataSource(DataSource):
    """``format("manifest")`` — see module docstring."""

    def __init__(self, options):
        unknown = sorted(set(options) - _OPTIONS)
        if unknown:
            raise ValueError(
                f"manifest: unknown option(s) {unknown} — the source "
                f"takes {sorted(_OPTIONS)}; for a pruned read of a "
                f"predicate use manifest_sql.predicate_view"
            )
        super().__init__(options)

    @classmethod
    def name(cls) -> str:
        return "manifest"

    def schema(self) -> StructType:
        _root, _ver, entry = resolve_version(self.options)
        sj = entry.get("schema")
        if not sj:
            raise ValueError(f"{self.options['root']}: no committed schema")
        return StructType.fromJson(json.loads(sj))

    def reader(self, schema):
        return ManifestReader(self.options, schema)

    def writer(self, schema, overwrite: bool):
        raise ManifestReadOnlyError(
            f"{self.options.get('root')}: the manifest data source is "
            f"read-only — append through "
            f"manifest_sql.sql(spark, 'INSERT INTO <name> ...') on a "
            f"register_table name, or ManifestTable.append"
        )


def register(spark) -> None:
    """Idempotent registration of the ``manifest`` format. Within one
    session a re-register only warns, but a SIBLING session
    (``spark.newSession()``) shares the context-wide registry and
    raises DATA_SOURCE_ALREADY_EXISTS — swallow exactly that."""
    try:
        spark.dataSource.register(ManifestDataSource)
    except Exception as exc:  # pragma: no cover - version-dependent
        if "DATA_SOURCE_ALREADY_EXISTS" not in str(exc):
            raise
