"""Snapshot directory layout: sidecar names, spec dirs, bucketed writes, hardlink trees."""

from __future__ import annotations

from ...functions.bucket_hash import file_bucket_id as _bucket_id  # noqa: F401
from ...sources.skipping import BLOOM_DIR  # noqa: F401

import os
import re
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


#: hidden sidecar dir names INSIDE a snapshot (underscore-prefixed so
#: Hadoop/Spark parquet listing treats them as hidden) — canonical
#: here because the stats/bloom builders run on STAGED dirs before any
#: ManifestTable exists; the class re-exposes them as attributes.
#: BLOOM_DIR is owned by the pruning core that probes the sidecar.
DV_DIR = "_dv"
CDF_DIR = "_cdf"
UPD_DIR = "_upd"



def _location_matches(spark: SparkSession, name: str, snap: str) -> bool:
    """True iff catalog table ``name``'s LOCATION resolves to ``snap``
    (stale-entry guard for clustered-snapshot adoption)."""
    try:
        rows = spark.sql(f"DESCRIBE TABLE EXTENDED {name}").collect()
        loc = next(
            (r["data_type"] for r in rows if r["col_name"] == "Location"),
            None,
        )
        if loc is None:
            return False
        return os.path.realpath(re.sub(r"^file:", "", loc)) == os.path.realpath(
            snap
        )
    except Exception:
        return False



def _write_bucketed(
    spark: SparkSession,
    df: DataFrame,
    bucket_col: str,
    n_buckets: int,
    sort_col: str,
    dest: str,
) -> None:
    """Write ``df`` hash-bucketed into ``dest`` via Spark's own
    bucketed writer, staged through a throwaway EXTERNAL catalog entry
    (dropping it is metadata-only; the files stay). The frame is
    pre-``repartition(n, col)`` so each write task holds exactly one
    bucket's rows — ``repartition``'s hash partitioner and the bucket
    id function are the same ``pmod(murmur3, n)``, so the output is
    at most ONE file per bucket, which is what lets the catalog scan
    claim per-bucket SORT ordering (Spark drops the sorted property
    whenever a bucket spans multiple files)."""
    stg_db = "dps_manifest_staging"
    stg_tbl = f"{stg_db}.stg_{uuid.uuid4().hex[:12]}"
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {stg_db}")
    try:
        (
            df.repartition(n_buckets, F.col(bucket_col))
            .write.bucketBy(n_buckets, bucket_col)
            .sortBy(sort_col)
            .format("parquet")
            .mode("overwrite")
            .option("path", dest)
            .saveAsTable(stg_tbl)
        )
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {stg_tbl}")



def _link(src: str, dst: str) -> None:
    """Hardlink ``src`` at ``dst``, copying where the filesystem refuses
    links — the one way a snapshot file moves forward: zero data bytes
    move, and GC stays safe because removing either directory only
    drops inode refcounts."""
    try:
        os.link(src, dst)
    except OSError:
        shutil.copy2(src, dst)


def _link_tree(src: str, dst: str, *, skip_top: tuple[str, ...] = ()) -> None:
    """:func:`_link` ``src``'s tree under ``dst`` — the metadata-only
    snapshot duplication RESTORE and merge-on-read DELETE share.
    ``skip_top`` names top-level entries of ``src`` to leave out."""
    for d, dirs, files in os.walk(src):
        rel = os.path.relpath(d, src)
        if rel == ".":
            dirs[:] = [x for x in dirs if x not in skip_top]
            files = [x for x in files if x not in skip_top]
        dst_dir = dst if rel == "." else os.path.join(dst, rel)
        os.makedirs(dst_dir, exist_ok=True)
        for f in files:
            _link(os.path.join(d, f), os.path.join(dst_dir, f))



def _refuse_clustered(root: str, entry: dict | None, hint: str) -> None:
    """Shared loud refusal for operations that would silently break a
    CLUSTERED snapshot's bucket contract (metadata-only column changes
    do not propagate through the bucketed catalog scan; flat external
    parts break the bucket-id file names). ``hint`` names the escape
    hatch."""
    if (entry or {}).get("bucket"):
        raise ValueError(
            f"{root}: the live snapshot is CLUSTERED (commit_clustered "
            f"bucket layout) — {hint}"
        )



def _spec_dirname(spec_id) -> str:
    """Directory name a partition spec's files live under inside an
    EVOLVED snapshot (``spec-<id>/``). Deliberately NOT ``spec=<id>``:
    a key=value segment would make Spark's partition discovery claim
    ``spec`` as a partition column, and a naive ``spark.read.parquet``
    over a mixed-spec snapshot must fail loudly
    (CONFLICTING_DIRECTORY_STRUCTURES) instead of inventing columns —
    evolved snapshots are only readable through the spec-aware paths."""
    return f"spec-{int(spec_id)}"



def _entry_specs(entry: dict | None) -> "list[dict] | None":
    """The commit entry's partition-spec history (``specs``: one
    ``{"id", "partition_by"}`` per spec, Iceberg's partition-spec
    list) — or None for never-evolved tables, whose data files live
    directly under the snapshot root."""
    sp = (entry or {}).get("specs")
    return [dict(s) for s in sp] if sp else None



def _current_spec(specs: "list[dict]") -> dict:
    """The ACTIVE spec (highest id) — new appends write under it."""
    return max(specs, key=lambda s: int(s["id"]))



def _spec_partition_cols(entry: dict | None) -> set:
    """Every column that is a partition column under ANY spec of the
    entry (current layout included) — the set whose members cannot be
    renamed/dropped metadata-only, because some snapshot files encode
    them as physical ``col=value`` directory names."""
    cols = set((entry or {}).get("partition_by") or [])
    for s in _entry_specs(entry) or []:
        cols.update(s.get("partition_by") or [])
    return cols


# ---------------------------------------------------------------------------
# atomic multi-table transaction groups
# ---------------------------------------------------------------------------

GROUP_INTENT = "_txn-group.json"
