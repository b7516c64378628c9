"""The add-file staging step: every writer that lands new data files next
to a hardlinked base (``append``, ``append_files_local``,
``append_clustered``, ``compact_small_files``, ``compact_clustered``)
stages its snapshot here before :meth:`_CoreMixin._publish` commits it."""

from __future__ import annotations

import os
import shutil
import uuid
from contextlib import contextmanager
from typing import Iterator, NamedTuple

from ...sources.skipping import BLOOM_DIR, data_files
from .layout import (
    DV_DIR,
    UPD_DIR,
    _current_spec,
    _entry_specs,
    _link,
    _link_tree,
    _spec_dirname,
)
from .stats import collect_file_stats

#: hidden subdir of a staging dir where the writer's Spark or pyarrow
#: output lands; data listings skip it and adoption empties it
PARTS_DIR = ".parts"


@contextmanager
def _staging(mt, staged: str | None = None) -> Iterator[str]:
    """A ``snap-staging-*`` dir for one writer (a fresh one unless
    ``staged`` is given), removed if the block raises. All temp output
    of an add-file writer lives inside it, so one rule covers cleanup:
    rmtree on failure, GC past the staging TTL after a crash."""
    if staged is None:
        staged = mt._staging_path()
        os.makedirs(staged)
    try:
        yield staged
    except BaseException:
        shutil.rmtree(staged, ignore_errors=True)
        raise


class _Added(NamedTuple):
    new_rels: list[str]  # adopted parts, snapshot-relative
    file_stats: dict | None  # the new entry's per-file stats
    bloom_rels: list[str]  # files the caller's bloom build must index


def _stage_add_files(
    staged: str,
    snap: str,
    entry: dict,
    *,
    parts: str | None = None,
    keep: list[str] | None = None,
    sidecars: bool = True,
    rename: str | None = None,
) -> _Added:
    """Fill ``staged`` with the base snapshot ``snap`` plus the new parts.

    Hardlinks the kept base data files ``keep`` (snapshot-relative;
    all of them by default) and, unless the writer folds them
    (``sidecars=False``), the ``_dv``/``_upd`` sidecars. Adopts every
    parquet part under ``parts`` (default: ``staged``'s
    :data:`PARTS_DIR`; removed afterwards), hive subdirs kept, into the
    active partition spec's subtree — renamed ``<rename>-<run>-<name>``
    so no name can collide with a linked base file, or keeping the
    name when ``rename`` is None (bucket ids live in it). Kept files
    carry their stats and bloom rows verbatim; new files are
    footer-statted here and bloom-indexed by the caller."""
    import pyarrow.parquet as pq

    if keep is None:
        keep = [os.path.relpath(f, snap) for f in data_files(snap)]
    for rel in keep:
        dst = os.path.join(staged, rel)
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        _link(os.path.join(snap, rel), dst)
    for side in (DV_DIR, UPD_DIR) if sidecars else ():
        if os.path.isdir(os.path.join(snap, side)):
            _link_tree(os.path.join(snap, side), os.path.join(staged, side))
    specs = _entry_specs(entry)
    sub = _spec_dirname(_current_spec(specs)["id"]) if specs else ""
    parts = parts or os.path.join(staged, PARTS_DIR)
    new_rels = _adopt(parts, staged, sub, rename)
    kept = set(keep)
    file_stats = None
    stats_cols = list(entry.get("stats_cols") or [])
    if entry.get("file_stats") is not None or stats_cols:
        file_stats = {
            rel: st
            for rel, st in (entry.get("file_stats") or {}).items()
            if rel in kept
        }
        if stats_cols:
            file_stats.update(
                collect_file_stats(staged, stats_cols, only=set(new_rels))
            )
    bloom_rels: list[str] = []
    if entry.get("bloom"):
        try:
            old = pq.read_table(os.path.join(snap, BLOOM_DIR))
        except OSError:
            # no readable base sidecar: index every file, so the log's
            # bloom property never overstates coverage
            bloom_rels = keep + new_rels
        else:
            bloom_rels = new_rels
            rows = old.filter(
                [f in kept for f in old.column("file").to_pylist()]
            )
            if rows.num_rows:
                bdir = os.path.join(staged, BLOOM_DIR)
                os.makedirs(bdir, exist_ok=True)
                name = f"carried-{uuid.uuid4().hex[:8]}.parquet"
                pq.write_table(rows, os.path.join(bdir, name))
    return _Added(new_rels, file_stats, bloom_rels)


def _adopt(src: str, staged: str, sub: str, rename: str | None) -> list[str]:
    """Move ``src``'s parquet parts into ``staged/sub``; see
    :func:`_stage_add_files`. Returns the new snapshot-relative paths."""
    new_rels: list[str] = []
    run = uuid.uuid4().hex[:8]
    for d, _dirs, fs in os.walk(src):
        rel_dir = os.path.relpath(d, src)
        rel_dir = sub if rel_dir == "." else os.path.join(sub, rel_dir)
        for f in sorted(fs):
            if not f.endswith(".parquet"):
                continue
            name = f if rename is None else f"{rename}-{run}-{f}"
            rel = os.path.join(rel_dir, name)
            dst = os.path.join(staged, rel)
            if os.path.exists(dst):  # pragma: no cover - names are unique
                raise RuntimeError(f"part file collision on {rel!r}")
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            os.rename(os.path.join(d, f), dst)
            new_rels.append(rel)
    shutil.rmtree(src, ignore_errors=True)
    return new_rels
