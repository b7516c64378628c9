"""Manifest-pointer commit protocol tests (operators/txn.py::ManifestTable)
— atomicity, optimistic concurrency, crash recovery, legacy migration.

The reference gets multi-writer atomicity for free from Postgres
``ON CONFLICT`` (``src/storage.py:41-53``); ManifestTable is the
engine's plain-filesystem equivalent (snapshot dirs + one atomic
pointer replace), so these tests play the role of the DB's own
transaction guarantees."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from datapipeline_scraping_spark.operators.txn import (
    ConcurrentWriteError,
    ManifestTable,
    SnapshotExpiredError,
    merge_write,
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "pk long, v string")


def test_glob_syntax_roots_are_refused_at_construction(spark, tmp_path):
    """Hadoop's path glob reads ``\\``, ``[ ]`` and ``{ }`` as syntax
    that does not match itself: a table there would commit and then
    fail every Spark read, so ``ManifestTable`` refuses the root with
    a ``ValueError`` subclass before anything is written. ``*`` and
    ``?`` match themselves, and those roots commit and read back."""
    from datapipeline_scraping_spark.operators.txn import UnreadableRootError

    assert issubclass(UnreadableRootError, ValueError)
    for name in ("t[1]", "t{a,b}", "tb\\z", "t]", "t}"):
        with pytest.raises(UnreadableRootError):
            ManifestTable(str(tmp_path / name))
        assert not os.path.exists(tmp_path / name)
    for name in ("t*x", "t?y"):
        tbl = ManifestTable(str(tmp_path / name))
        tbl.commit(_df(spark, [(1, "a")]))
        assert [tuple(r) for r in tbl.read(spark).collect()] == [(1, "a")]


def test_commit_read_roundtrip_and_versioning(spark, tmp_path):
    tbl = ManifestTable(str(tmp_path / "t"))
    assert not tbl.exists() and tbl.version() is None
    assert tbl.commit(_df(spark, [(1, "a")])) == 1
    assert tbl.commit(_df(spark, [(1, "a"), (2, "b")])) == 2
    assert tbl.version() == 2
    got = {r["pk"]: r["v"] for r in tbl.read(spark).collect()}
    assert got == {1: "a", 2: "b"}


def test_expect_version_conflict_raises_and_cleans_snapshot(spark, tmp_path):
    tbl = ManifestTable(str(tmp_path / "t"))
    tbl.commit(_df(spark, [(1, "a")]))
    tbl.commit(_df(spark, [(1, "b")]))  # someone else advanced to v2
    with pytest.raises(ConcurrentWriteError):
        tbl.commit(_df(spark, [(1, "stale")]), expect_version=1)
    # loser's snapshot is not left behind; live data untouched
    assert {r["v"] for r in tbl.read(spark).collect()} == {"b"}
    snaps = [e for e in os.listdir(tbl.root) if e.startswith("snap-")]
    assert all(not s.startswith("snap-staging-") for s in snaps)


def test_init_is_idempotent_bootstrap(spark, tmp_path):
    tbl = ManifestTable(str(tmp_path / "t"))
    assert tbl.init(_df(spark, [(1, "seed")])) == 1
    # second init must NOT overwrite the (possibly merged-into) table
    tbl.commit(_df(spark, [(1, "seed"), (2, "new")]))
    assert tbl.init(_df(spark, [(9, "other-seed")])) == 2
    got = {r["pk"] for r in tbl.read(spark).collect()}
    assert got == {1, 2}


def test_no_absent_window_old_snapshot_survives_until_commit(spark, tmp_path):
    """The pointer always resolves: before, during (staging dir is
    invisible), and after a commit — unlike the two-rename swap, there
    is no state where the table path has no committed data."""
    tbl = ManifestTable(str(tmp_path / "t"))
    tbl.commit(_df(spark, [(1, "a")]))
    p1 = tbl.snapshot_path()
    assert p1 and os.path.isdir(p1)
    # a stranded staging dir (crash mid-snapshot-write) never affects
    # reads; age it past the STAGING TTL (hours-scale, distinct from
    # the lock TTL) so GC may reclaim it (a fresh staging dir could be
    # a live concurrent writer's and must survive —
    # test_gc_spares_fresh_staging_dirs)
    import time as _time

    stranded = os.path.join(tbl.root, "snap-staging-deadbeef")
    os.makedirs(stranded)
    old = _time.time() - 2 * tbl.staging_ttl_sec - 60
    os.utime(stranded, (old, old))
    assert {r["v"] for r in tbl.read(spark).collect()} == {"a"}
    tbl.commit(_df(spark, [(1, "b")]))
    assert {r["v"] for r in tbl.read(spark).collect()} == {"b"}
    # GC removed the (old) stranded staging dir
    assert not os.path.exists(stranded)


def test_stale_lock_is_broken(spark, tmp_path):
    tbl = ManifestTable(str(tmp_path / "t"), stale_lock_sec=0.0)
    lock = os.path.join(str(tmp_path / "t"), "COMMIT_LOCK")
    os.makedirs(tbl.root)
    with open(lock, "w") as fh:
        fh.write("99999 0\n")  # dead writer's lock
    tbl.commit(_df(spark, [(1, "a")]))  # must break the lock, not hang
    assert tbl.version() == 1 and not os.path.exists(lock)


def test_fresh_lock_times_out(spark, tmp_path):
    tbl = ManifestTable(str(tmp_path / "t"), stale_lock_sec=3600.0)
    os.makedirs(tbl.root)
    with open(os.path.join(tbl.root, "COMMIT_LOCK"), "w") as fh:
        fh.write("1 now\n")
    with pytest.raises(TimeoutError):
        tbl._acquire_lock(timeout=0.2)


@pytest.mark.slow  # r17 tiering: measured 10s; full (evidence) tier only
def test_gc_retention(spark, tmp_path):
    # retention_sec=0 opts back into pure count-based GC (scratch-table
    # mode); the default 24 h retention contract is tested separately
    tbl = ManifestTable(str(tmp_path / "t"), retention_sec=0.0)
    for i in range(5):
        tbl.commit(_df(spark, [(i, "x")]), keep_snapshots=2)
    snaps = [
        e for e in os.listdir(tbl.root)
        if e.startswith("snap-") and not e.startswith("snap-staging-")
    ]
    assert len(snaps) == 2  # current + one back
    assert tbl.version() == 5


def test_adopt_plain_migrates_legacy_layout(spark, tmp_path):
    path = str(tmp_path / "t")
    _df(spark, [(1, "legacy"), (2, "rows")]).write.parquet(path)
    tbl = ManifestTable(path)
    assert tbl.adopt_plain() is True
    assert tbl.version() == 1
    got = {r["pk"]: r["v"] for r in tbl.read(spark).collect()}
    assert got == {1: "legacy", 2: "rows"}
    assert tbl.adopt_plain() is False  # idempotent


def test_merge_write_manifest_end_to_end_with_migration(spark, tmp_path):
    """merge_write(writer='manifest') on a legacy plain dir: migrate,
    merge, commit — and a second merge sees the first's result."""
    path = str(tmp_path / "t")
    _df(spark, [(1, "a"), (2, "b"), (3, "gone")]).write.parquet(path)
    merge_write(
        spark,
        path,
        _df(spark, [(2, "B"), (3, "gone"), (4, "D")]),
        "pk",
        matched_delete=F.col("s.v") == "gone",
        writer="manifest",
    )
    tbl = ManifestTable(path)
    got = {r["pk"]: r["v"] for r in tbl.read(spark).collect()}
    assert got == {1: "a", 2: "B", 4: "D"}
    merge_write(spark, path, _df(spark, [(5, "E")]), "pk", writer="manifest")
    got = {r["pk"]: r["v"] for r in tbl.read(spark).collect()}
    assert got == {1: "a", 2: "B", 4: "D", 5: "E"}
    assert tbl.version() == 3  # adopt(1) + two merges


def test_concurrent_unconditional_commits_serialize(spark, tmp_path):
    """N threads committing unconditionally: every commit lands (N
    distinct versions), the final pointer is a complete snapshot, and
    no staging debris survives — the pointer CAS serializes writers."""
    import threading

    tbl = ManifestTable(str(tmp_path / "t"))
    tbl.commit(_df(spark, [(0, "seed")]))
    errs: list[Exception] = []

    def writer(i: int) -> None:
        try:
            tbl.commit(_df(spark, [(i, f"w{i}")]), keep_snapshots=10)
        except Exception as exc:  # pragma: no cover
            errs.append(exc)

    threads = [threading.Thread(target=writer, args=(i,)) for i in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert errs == []
    assert tbl.version() == 5  # seed + 4 writers, all serialized
    assert tbl.read(spark).count() == 1  # last writer's snapshot, intact


def test_compact_table_reduces_files_preserves_rows(spark, tmp_path):
    from datapipeline_scraping_spark.operators.txn import compact_table

    tbl = ManifestTable(str(tmp_path / "t"))
    # simulate micro-batch accretion: 40 tiny files
    df = spark.range(2000).select(
        F.col("id"), (F.col("id") % 7).alias("grp")
    ).repartition(40)
    v1 = tbl.commit(df)
    stats = compact_table(
        spark, str(tmp_path / "t"), target_file_bytes=1 << 30
    )
    assert stats["compacted"] is True
    assert stats["files_before"] == 40
    assert stats["files_after"] == 1
    assert stats["version"] == v1 + 1
    out = tbl.read(spark)
    assert out.count() == 2000
    assert out.agg(F.sum("id")).collect()[0][0] == sum(range(2000))


def test_compact_table_noop_when_already_compact(spark, tmp_path):
    from datapipeline_scraping_spark.operators.txn import compact_table

    tbl = ManifestTable(str(tmp_path / "t"))
    tbl.commit(spark.range(100).repartition(1))
    stats = compact_table(spark, str(tmp_path / "t"), target_file_bytes=1 << 30)
    assert stats["compacted"] is False
    assert stats["version"] == tbl.version()


def test_compact_table_sorted_rewrite_clusters_ranges(spark, tmp_path):
    """sort_by rewrite must produce range-disjoint files so min/max
    row-group pruning survives compaction."""
    from datapipeline_scraping_spark.operators.txn import compact_table

    import pyarrow.parquet as pq

    tbl = ManifestTable(str(tmp_path / "t"))
    tbl.commit(spark.range(10000).select(F.col("id")).repartition(30))
    # force a 2-file sorted rewrite: target = just over half the bytes
    snap_bytes = sum(
        os.path.getsize(os.path.join(r, f))
        for r, _d, fs in os.walk(tbl.snapshot_path())
        for f in fs if f.endswith(".parquet")
    )
    stats = compact_table(
        spark, str(tmp_path / "t"),
        target_file_bytes=max(1, snap_bytes // 2), sort_by=["id"],
    )
    assert stats["compacted"] is True and stats["files_after"] >= 2
    ranges = []
    snap = tbl.snapshot_path()
    for f in sorted(os.listdir(snap)):
        if f.endswith(".parquet"):
            md = pq.read_metadata(os.path.join(snap, f))
            mins, maxs = [], []
            for rg in range(md.num_row_groups):
                col = md.row_group(rg).column(0)
                mins.append(col.statistics.min)
                maxs.append(col.statistics.max)
            ranges.append((min(mins), max(maxs)))
    ranges.sort()
    for (a_lo, a_hi), (b_lo, b_hi) in zip(ranges, ranges[1:]):
        assert a_hi < b_lo, f"file ranges overlap: {ranges}"


def test_compact_table_loses_race_cleanly(spark, tmp_path):
    """A writer committing between the compactor's read and its commit
    must win; the compactor gets ConcurrentWriteError, not data loss."""
    from datapipeline_scraping_spark.operators.txn import (
        ManifestTable as MT,
        compact_table,
    )
    # patch the symbol where compact_table RESOLVES it: since the r14
    # package split, compact.py binds _snapshot_files from .stats at
    # import, so the injection seam is the compact module's global
    from datapipeline_scraping_spark.operators.txn import compact as compact_mod

    root = str(tmp_path / "t")
    tbl = MT(root)
    tbl.commit(spark.range(500).repartition(10))

    orig_files = compact_mod._snapshot_files

    def racing_files(path):
        stats = orig_files(path)
        # another writer lands AFTER the compactor resolved its view
        MT(root).commit(spark.range(600).repartition(10))
        return stats

    try:
        compact_mod._snapshot_files = racing_files
        with pytest.raises(ConcurrentWriteError):
            compact_table(spark, root, target_file_bytes=1 << 30)
    finally:
        compact_mod._snapshot_files = orig_files
    assert tbl.read(spark).count() == 600  # the racing writer's data won


def test_gc_spares_fresh_staging_dirs(spark, tmp_path):
    """A CONCURRENT writer's in-flight staging dir (fresh mtime) must
    survive another writer's post-commit GC; only dirs older than the
    hours-scale STAGING TTL (not the millisecond-scale lock TTL —
    ADVICE r6) are reclaimed. A dir older than the lock TTL but
    younger than the staging TTL is a live slow writer and survives."""
    import time as _time

    root = str(tmp_path / "t")
    tbl = ManifestTable(root, stale_lock_sec=60.0, staging_ttl_sec=3600.0)
    tbl.commit(spark.range(10))
    fresh = os.path.join(root, "snap-staging-fresh0000")
    slow = os.path.join(root, "snap-staging-slow00000")  # live, slow write
    stale = os.path.join(root, "snap-staging-stale0000")
    os.makedirs(fresh)
    os.makedirs(slow)
    os.makedirs(stale)
    mid = _time.time() - 600  # > lock TTL, < staging TTL
    os.utime(slow, (mid, mid))
    old = _time.time() - 7200
    os.utime(stale, (old, old))
    tbl.commit(spark.range(20))  # triggers _gc
    assert os.path.isdir(fresh), "fresh in-flight staging dir was GC'd"
    assert os.path.isdir(slow), "live slow writer's staging dir was GC'd"
    assert not os.path.isdir(stale), "crashed-writer staging dir kept"
    os.rmdir(fresh)
    os.rmdir(slow)


def test_adopt_plain_holds_commit_lock(spark, tmp_path):
    """The legacy-dir migration renames SHARED files, so it must run
    under COMMIT_LOCK — assert the lock exists while the first rename
    happens (a second first-writer then serializes behind it)."""
    import datapipeline_scraping_spark.operators.txn as txn_mod

    root = str(tmp_path / "t")
    spark.range(50).repartition(2).write.parquet(root)
    # strip the manifest-less marker files into a plain legacy layout
    tbl = ManifestTable(root)
    saw_lock = []
    orig_rename = os.rename

    def spying_rename(src, dst):
        saw_lock.append(
            os.path.exists(os.path.join(root, ManifestTable.LOCK))
        )
        return orig_rename(src, dst)

    txn_mod.os.rename = spying_rename
    try:
        assert tbl.adopt_plain() is True
    finally:
        txn_mod.os.rename = orig_rename
    assert saw_lock and all(saw_lock), "rename ran without COMMIT_LOCK"
    assert tbl.read(spark).count() == 50
    assert tbl.adopt_plain() is False  # idempotent second caller


def test_compact_table_vanished_snapshot_is_retryable(spark, tmp_path):
    """If a racing writer's GC drops the snapshot the compactor
    resolved, the compactor must raise the retryable
    ConcurrentWriteError, not silently no-op on an empty walk."""
    import shutil as _shutil

    from datapipeline_scraping_spark.operators.txn import compact_table

    root = str(tmp_path / "t")
    tbl = ManifestTable(root)
    tbl.commit(spark.range(100).repartition(5))
    _shutil.rmtree(tbl.snapshot_path())
    with pytest.raises(ConcurrentWriteError):
        compact_table(spark, root, target_file_bytes=1 << 30)


def test_stolen_fresh_lock_is_restored(tmp_path):
    """ADVICE r6 (txn.py:124): if the apparently-dead holder releases
    and a NEW writer acquires between the waiter's stat and its rename,
    the waiter must hand the stolen fresh lock back (os.link restore)
    instead of entering the critical section alongside the new writer."""
    import time as _time

    root = str(tmp_path / "t")
    os.makedirs(root)
    tbl = ManifestTable(root, stale_lock_sec=100.0)
    lock = os.path.join(root, ManifestTable.LOCK)
    # dead writer's stale lock, as the waiter first observes it
    with open(lock, "w") as fh:
        fh.write("999 dead\n")
    old = _time.time() - 500
    os.utime(lock, (old, old))

    import datapipeline_scraping_spark.operators.txn as txn_mod

    orig_rename = txn_mod.os.rename
    swapped = []

    def racing_rename(src, dst):
        # between the waiter's getmtime and its rename, the dead holder
        # "releases" and a NEW writer acquires: replace the stale lock
        # with a FRESH one before letting the rename proceed
        if src == lock and not swapped:
            swapped.append(True)
            os.unlink(lock)
            with open(lock, "w") as fh:
                fh.write("777 alive\n")
        return orig_rename(src, dst)

    txn_mod.os.rename = racing_rename
    try:
        with pytest.raises(TimeoutError):
            # the waiter must NOT acquire: the fresh lock is restored
            # and it then times out contending on it
            tbl._acquire_lock(timeout=0.3)
    finally:
        txn_mod.os.rename = orig_rename
    # the new writer's lock survived the attempted steal
    assert os.path.exists(lock)
    with open(lock) as fh:
        assert fh.read().startswith("777")
    # no stale-* debris left behind
    assert not [e for e in os.listdir(root) if ".stale-" in e]


def test_gc_reclaims_leaked_stale_lock_files(spark, tmp_path):
    """A waiter crashing between its stale-lock rename and unlink leaks
    COMMIT_LOCK.stale-* files; _gc must reclaim old ones (ADVICE r6)."""
    import time as _time

    root = str(tmp_path / "t")
    tbl = ManifestTable(root, stale_lock_sec=60.0)
    tbl.commit(_df(spark, [(1, "a")]))
    leaked = os.path.join(root, f"{ManifestTable.LOCK}.stale-deadbeef")
    with open(leaked, "w") as fh:
        fh.write("1 crashed\n")
    old = _time.time() - 600
    os.utime(leaked, (old, old))
    fresh_leak = os.path.join(root, f"{ManifestTable.LOCK}.stale-0a0a0a0a")
    with open(fresh_leak, "w") as fh:
        fh.write("2 racing\n")
    tbl.commit(_df(spark, [(1, "b")]))  # triggers _gc
    assert not os.path.exists(leaked), "old leaked stale-lock file kept"
    assert os.path.exists(fresh_leak), "in-flight stale-* file reclaimed"
    os.unlink(fresh_leak)


def test_compact_table_stats_measure_committed_snapshot(spark, tmp_path):
    """ADVICE r6 (txn.py:503): files_after must describe the snapshot
    the compaction itself committed — via last_snapshot recorded under
    the commit lock — not a re-resolved pointer a racing writer may
    have advanced."""
    from datapipeline_scraping_spark.operators.txn import compact_table

    root = str(tmp_path / "t")
    tbl = ManifestTable(root)
    tbl.commit(spark.range(1000).repartition(8))
    stats = compact_table(spark, root, target_file_bytes=1 << 30)
    assert stats["compacted"] is True
    assert stats["files_after"] == 1
    # the measured dir is the one compact committed
    mt = ManifestTable(root)
    assert mt.read(spark).count() == 1000


# full (evidence) tier only: 11-29 s per writer on a 4-core host
@pytest.mark.slow
@pytest.mark.parametrize("writer", ["commit", "append", "delete_where"])
def test_commit_crash_at_every_filesystem_step_never_tears_table(
    spark, tmp_path, writer
):
    """Crash-point sweep: kill the commit at EVERY filesystem mutation
    it performs (rename, pointer replace, lock unlink, ...) and assert
    the invariant the protocol sells: after any crash, the pointer
    still resolves to a COMPLETE committed snapshot — either the old
    one (crash before the pointer swap) or the new one (after) — and a
    subsequent writer recovers and commits normally. Swept over a
    full-snapshot commit, an add-file commit and a metadata-only
    merge-on-read DML commit: all three share one commit tail."""
    import time as _time

    import datapipeline_scraping_spark.operators.txn as txn_mod

    root = str(tmp_path / "t")
    tbl = ManifestTable(root, stale_lock_sec=0.5)
    tbl.commit(_df(spark, [(1, "base"), (3, "keep")]))

    def rows():
        return {(r["pk"], r["v"]) for r in tbl.read(spark).collect()}

    def run(step):
        new = _df(spark, [(2, f"attempt{step}")])
        if writer == "commit":
            tbl.commit(new)
        elif writer == "append":
            tbl.append(new)
        else:
            tbl.delete_where(spark, "pk = 1", ["pk"])

    def committed(pre, step):
        """The rows the writer's commit leaves visible."""
        new = {(2, f"attempt{step}")}
        if writer == "commit":
            return new
        if writer == "append":
            return pre | new
        return {r for r in pre if r[0] != 1}

    mutators = ("rename", "replace", "unlink")
    originals = {m: getattr(txn_mod.os, m) for m in mutators}

    def crash_after(n_calls):
        state = {"n": 0}

        def wrap(orig):
            def inner(*a, **kw):
                state["n"] += 1
                if state["n"] > n_calls:
                    raise OSError("injected crash")
                return orig(*a, **kw)
            return inner

        for m in mutators:
            setattr(txn_mod.os, m, wrap(originals[m]))
        return state

    step = 0
    while True:
        pre = rows()
        post = committed(pre, step)
        crash_after(step)
        try:
            run(step)
            crashed = False
        except OSError:
            crashed = True
        finally:
            for m in mutators:
                setattr(txn_mod.os, m, originals[m])
        # invariant: the table ALWAYS resolves to a complete snapshot —
        # the last successful commit's, or (crash after the pointer
        # swap) the new one; never a partial mix
        path = tbl.snapshot_path()
        assert path is not None and os.path.isdir(path), (
            f"pointer dangles after crash at fs-step {step}"
        )
        assert rows() in (pre, post), (
            f"torn state {rows()} after crash at fs-step {step}"
        )
        # recovery: the next (uninjected) writer must succeed even if
        # the crash stranded the lock (stale TTL breaks it)
        _time.sleep(0.6)
        recovered = {(1, f"recovery{step}"), (3, "keep")}
        tbl.commit(_df(spark, sorted(recovered)))
        assert rows() == recovered
        if not crashed:
            break  # the whole commit ran without hitting the injection
        step += 1
    assert step >= 2, "sweep never exercised multiple crash points"


# ---------------------------------------------------------------------------
# round 8: time travel, retention contract, partitioned snapshots,
# schema evolution (VERDICT r7 items 2/3/5)
# ---------------------------------------------------------------------------

def test_time_travel_read_and_history(spark, tmp_path):
    tbl = ManifestTable(str(tmp_path / "t"))
    tbl.commit(_df(spark, [(1, "v1")]))
    tbl.commit(_df(spark, [(1, "v2"), (2, "v2")]))
    tbl.commit(_df(spark, [(3, "v3")]))
    assert tbl.version() == 3
    assert {r["v"] for r in tbl.read(spark).collect()} == {"v3"}
    assert {r["v"] for r in tbl.read(spark, version=2).collect()} == {"v2"}
    assert tbl.read(spark, version=1).count() == 1
    hist = tbl.history()
    assert [e["version"] for e in hist] == [3, 2, 1]
    assert all(e["retained"] for e in hist)
    # timestamp travel: as-of v2's commit time resolves v2
    assert {
        r["v"] for r in tbl.read_asof(spark, hist[1]["ts"]).collect()
    } == {"v2"}
    with pytest.raises(FileNotFoundError):
        tbl.read(spark, version=99)


def test_pinned_read_survives_gc_past_keep(spark, tmp_path):
    """The VERDICT r7 item-2 contract: a reader pins version N, keep=1
    commits advance past it, and the pinned read still succeeds —
    retention (not snapshot count) governs deletion."""
    tbl = ManifestTable(str(tmp_path / "t"))  # default 24 h retention
    tbl.commit(_df(spark, [(1, "pinned")]), keep_snapshots=1)
    pinned = tbl.read(spark, version=1)  # resolved + pinned, not yet scanned
    for i in range(3):
        tbl.commit(_df(spark, [(i, f"later{i}")]), keep_snapshots=1)
    assert tbl.version() == 4
    # the lazy scan runs NOW, after 3 keep=1 commits advanced the table
    assert {r["v"] for r in pinned.collect()} == {"pinned"}
    assert {r["v"] for r in tbl.read(spark, version=1).collect()} == {"pinned"}


def test_expired_snapshot_raises_distinct_error(spark, tmp_path):
    from datapipeline_scraping_spark.operators.txn import SnapshotExpiredError

    tbl = ManifestTable(str(tmp_path / "t"), retention_sec=0.0)
    tbl.commit(_df(spark, [(1, "v1")]))
    tbl.commit(_df(spark, [(1, "v2")]), keep_snapshots=1)
    tbl.commit(_df(spark, [(1, "v3")]), keep_snapshots=1)
    # v1's snapshot dir was GC'd but its log entry may record history;
    # the error must say "expired", not "no such version"
    with pytest.raises((SnapshotExpiredError, FileNotFoundError)):
        tbl.read(spark, version=1)
    with pytest.raises(FileNotFoundError):
        tbl.read(spark, version=42)


def test_partitioned_commit_prunes_and_inherits(spark, tmp_path):
    tbl = ManifestTable(str(tmp_path / "t"))
    df = spark.createDataFrame(
        [(i, f"d{i % 3}", f"p{i}") for i in range(30)], "pk long, day string, v string"
    )
    tbl.commit(df, partition_by=["day"])
    snap = tbl.snapshot_path()
    assert any(e.startswith("day=") for e in os.listdir(snap)), (
        "snapshot not hive-partitioned"
    )
    got = tbl.read(spark).filter(F.col("day") == "d1")
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "day" in plan.split("PartitionFilters")[1][:200]
    assert got.count() == 10
    # partitioning is a table property: the next commit inherits it
    tbl.commit(df.filter("pk < 15"))
    assert any(e.startswith("day=") for e in os.listdir(tbl.snapshot_path()))
    assert tbl.history()[0]["partition_by"] == ["day"]
    # and [] unpartitions deliberately
    tbl.commit(df, partition_by=[])
    assert not any(
        e.startswith("day=") for e in os.listdir(tbl.snapshot_path())
    )


def test_commit_schema_evolution_add_widen_nullfill(spark, tmp_path):
    tbl = ManifestTable(str(tmp_path / "t"))
    tbl.commit(spark.createDataFrame([(1, 10)], "pk long, n int"))
    # add a column + widen int -> long: both evolve in place
    tbl.commit(spark.createDataFrame([(2, 20, "x")], "pk long, n long, extra string"))
    got = tbl.read(spark)
    assert dict(got.dtypes) == {"pk": "bigint", "n": "bigint", "extra": "string"}
    # a later commit MISSING a committed column null-fills it (no silent drop)
    tbl.commit(spark.createDataFrame([(3, 30)], "pk long, n long"))
    got = tbl.read(spark)
    assert dict(got.dtypes)["extra"] == "string"
    assert got.filter("extra is null").count() == 1


def test_commit_schema_narrowing_rejected(spark, tmp_path):
    from datapipeline_scraping_spark.operators.txn import SchemaEvolutionError

    tbl = ManifestTable(str(tmp_path / "t"))
    tbl.commit(spark.createDataFrame([(1, 10)], "pk long, n long"))
    with pytest.raises(SchemaEvolutionError):
        tbl.commit(spark.createDataFrame([(2, "oops")], "pk long, n string"))
    # schema_mode="replace" is the deliberate escape hatch
    tbl.commit(
        spark.createDataFrame([(2, "meant it")], "pk long, n string"),
        schema_mode="replace",
    )
    assert dict(tbl.read(spark).dtypes)["n"] == "string"


def test_evolve_schema_unit():
    from pyspark.sql import types as T

    from datapipeline_scraping_spark.operators.txn import (
        SchemaEvolutionError,
        evolve_schema,
    )

    old = T.StructType(
        [T.StructField("a", T.IntegerType()), T.StructField("b", T.StringType())]
    )
    new = T.StructType(
        [T.StructField("a", T.LongType()), T.StructField("c", T.DoubleType())]
    )
    out = evolve_schema(old, new)
    assert [f.name for f in out.fields] == ["a", "b", "c"]
    assert out["a"].dataType == T.LongType()
    # incoming NARROWER side keeps the committed (wider) type
    back = evolve_schema(out, old)
    assert back["a"].dataType == T.LongType()
    with pytest.raises(SchemaEvolutionError):
        evolve_schema(
            T.StructType([T.StructField("a", T.DoubleType())]),
            T.StructType([T.StructField("a", T.StringType())]),
        )


def test_merge_write_schema_evolution(spark, tmp_path):
    path = str(tmp_path / "ledger")
    ManifestTable(path).commit(
        spark.createDataFrame([(1, "a"), (2, "b")], "pk long, v string")
    )
    wider = spark.createDataFrame(
        [(2, "b2", 99), (3, "c", 100)], "pk long, v string, score int"
    )
    merge_write(spark, path, wider, "pk", writer="manifest", schema_evolution=True)
    got = {r["pk"]: (r["v"], r["score"]) for r in ManifestTable(path).read(spark).collect()}
    assert got == {1: ("a", None), 2: ("b2", 99), 3: ("c", 100)}
    # matched rows keep target values for columns the source lacks
    narrower = spark.createDataFrame([(3, "c2")], "pk long, v string")
    merge_write(
        spark, path, narrower, "pk", writer="manifest", schema_evolution=True
    )
    got = {r["pk"]: (r["v"], r["score"]) for r in ManifestTable(path).read(spark).collect()}
    assert got[3] == ("c2", 100), "updateAll nulled a column the source lacks"
    assert got[2] == ("b2", 99)


def test_diff_change_data_feed(spark, tmp_path):
    """diff() emits insert/delete/update_pre+postimage rows and nothing
    for unchanged keys; NULL key values diff as matched rows (presence
    markers, not key-null checks); schema evolution between the
    versions diffs as value changes with null pre-images."""
    tbl = ManifestTable(str(tmp_path / "t"))
    df1 = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c"), (None, "nullkey")],
        "k long, v string",
    )
    tbl.commit(df1)
    df2 = spark.createDataFrame(
        [(1, "a", 10), (2, "B", 20), (4, "d", 40), (None, "nullkey", None)],
        "k long, v string, extra long",
    )
    tbl.commit(df2)
    rows = {
        (r["_change_type"], r["k"], r["v"], r["extra"])
        for r in tbl.diff(spark, 1, 2, ["k"]).collect()
    }
    assert ("insert", 4, "d", 40) in rows
    assert ("delete", 3, "c", None) in rows
    assert ("update_preimage", 2, "b", None) in rows
    assert ("update_postimage", 2, "B", 20) in rows
    # k=1 changed only via the ADDED column (null -> 10)
    assert ("update_preimage", 1, "a", None) in rows
    assert ("update_postimage", 1, "a", 10) in rows
    # NULL key: value unchanged, extra stays null -> no change rows
    assert not any(r[1] is None for r in rows)


def test_unpointed_intent_is_not_readable_history(spark, tmp_path):
    """A crash between the log write and the pointer swap leaves an
    unpointed intent entry + a fully-written snapshot dir. That version
    never committed: time travel must refuse it, history must omit it,
    and the retried commit overwrites it cleanly."""
    tbl = ManifestTable(str(tmp_path / "t"))
    tbl.commit(_df(spark, [(1, "v1")]))
    # hand-forge the crash state: snapshot dir + log entry for v2,
    # pointer still at v1 (exactly what a crash after _write_log and
    # before the pointer swap leaves behind)
    snap = "snap-000002-deadbeef"
    _df(spark, [(2, "UNCOMMITTED")]).write.parquet(
        os.path.join(tbl.root, snap)
    )
    tbl._write_log(2, snap, [], "")
    assert tbl.version() == 1
    with pytest.raises(FileNotFoundError):
        tbl.read(spark, version=2)
    assert [e["version"] for e in tbl.history()] == [1]
    # the retry (same version number) commits over the intent
    tbl.commit(_df(spark, [(2, "v2")]))
    assert tbl.version() == 2
    assert {r["v"] for r in tbl.read(spark, version=2).collect()} == {"v2"}
    assert [e["version"] for e in tbl.history()] == [2, 1]


def test_compact_partitioned_table_bounds_files(spark, tmp_path):
    """Compacting a hive-partitioned table must cluster tasks by the
    partition columns: file count after compaction is bounded by
    ~(n_target + n_partition_values), never n_target * n_dirs, and the
    layout survives (commit inherits partition_by from the log)."""
    import glob

    from datapipeline_scraping_spark.operators.txn import compact_table

    tbl = ManifestTable(str(tmp_path / "t"))
    df = spark.range(20000).selectExpr("id", "id % 5 as d", "id * 3 as x")
    tbl.commit(df.repartition(8), partition_by=["d"])
    snap = tbl.snapshot_path()
    before = len(glob.glob(f"{snap}/*/part-*"))
    assert before >= 20  # 8 tasks x 5 dirs accreted small files
    r = compact_table(spark, str(tmp_path / "t"), target_file_bytes=10**9)
    assert r["compacted"] and r["files_after"] <= 5 + 1
    snap = tbl.snapshot_path()
    # layout preserved: still hive-partitioned by d, no flat files
    assert len(glob.glob(f"{snap}/d=*/part-*")) == r["files_after"]
    assert not glob.glob(f"{snap}/part-*")
    assert tbl.read(spark).count() == 20000
    # sort_by on top of partitioning: still bounded, still partitioned
    tbl.commit(df.repartition(8))  # re-accrete small files (inherits d)
    r2 = compact_table(
        spark, str(tmp_path / "t"), target_file_bytes=10**9, sort_by=["x"]
    )
    assert r2["compacted"] and r2["files_after"] <= 5 + 1
    assert tbl.read(spark).count() == 20000


@pytest.mark.slow  # r17 tiering: measured 22s; full (evidence) tier only
def test_concurrent_commits_keep_history_and_time_travel_consistent(
    spark, tmp_path
):
    """Stress the r8 surface under write concurrency: 4 unconditional
    writers x 3 commits race while the main thread reads history and
    random retained versions. Invariants: final version == total
    commits, history is strictly decreasing with no intent rows, every
    retained version resolves and reads cleanly, and each version's
    annotated writer tag matches the data that version holds."""
    import random
    import threading

    tbl = ManifestTable(str(tmp_path / "t"))
    tbl.commit(_df(spark, [(0, "seed")]))
    errors = []

    def writer(i):
        try:
            mt = ManifestTable(str(tmp_path / "t"))
            for j in range(3):
                df = _df(spark, [(i * 10 + j, f"w{i}c{j}")])
                ver = mt.commit(df, keep_snapshots=2)
                mt.annotate(ver, writer=f"w{i}c{j}")
        except Exception as exc:  # pragma: no cover
            errors.append(exc)

    threads = [threading.Thread(target=writer, args=(i,)) for i in range(4)]
    for t in threads:
        t.start()
    # reader races the writers: history + random time travel must never
    # see torn or intent state
    for _ in range(20):
        hist = tbl.history()
        vers = [e["version"] for e in hist]
        assert vers == sorted(vers, reverse=True)
        live = tbl.version() or 0
        assert all(v <= live for v in vers)
        retained = [e for e in hist if e["retained"]]
        if retained:
            e = random.choice(retained)
            try:
                rows = tbl.read(spark, version=e["version"]).collect()
                assert len(rows) == 1
            except (FileNotFoundError, SnapshotExpiredError):
                pass  # GC'd between history() and read(): allowed race
    for t in threads:
        t.join()
    assert not errors
    assert tbl.version() == 13  # 1 seed + 4*3
    hist = tbl.history()
    assert [e["version"] for e in hist] == list(range(13, 0, -1))
    # every annotated retained version's data matches its tag
    for e in hist:
        if not e["retained"] or e["version"] == 1:
            continue
        tag = tbl.commit_meta(e["version"]).get("writer")
        rows = tbl.read(spark, version=e["version"]).collect()
        assert len(rows) == 1 and rows[0]["v"] == tag, (e, rows, tag)


def _backdate_log(tbl, version, by_sec):
    """Shift a commit-log entry's ts into the past (simulates a
    snapshot that has existed for `by_sec` without sleeping)."""
    import json

    p = tbl._log_path(version)
    with open(p) as fh:
        e = json.load(fh)
    e["ts"] = float(e["ts"]) - by_sec
    with open(p, "w") as fh:
        json.dump(e, fh)


def test_retention_anchored_at_supersession_not_commit(spark, tmp_path):
    """VERDICT r8 item 1: a snapshot that was LIVE longer than
    retention_sec (slow-cadence ledger: weekly commits, 24 h
    retention) must still protect a reader that pinned it just before
    the superseding commit — age is measured from supersession, not
    from the snapshot's own commit."""
    tbl = ManifestTable(str(tmp_path / "t"), retention_sec=60.0)
    tbl.commit(_df(spark, [(1, "old-but-live")]))
    _backdate_log(tbl, 1, 3600.0)  # v1 committed "an hour ago"
    pinned = tbl.read(spark, version=1)  # reader pins v1 pre-supersession
    # the next commit supersedes v1 and runs GC with keep=1: under
    # commit-anchored retention v1 (age 3600 > 60) would be deleted now
    tbl.commit(_df(spark, [(2, "new")]), keep_snapshots=1)
    assert {r["v"] for r in pinned.collect()} == {"old-but-live"}
    assert {r["v"] for r in tbl.read(spark, version=1).collect()} == {
        "old-but-live"
    }


def test_superseded_snapshot_collected_after_retention(spark, tmp_path):
    """The other side of the supersession anchor: once a snapshot has
    been non-current for longer than retention_sec (and is beyond the
    keep count), GC does drop it."""
    tbl = ManifestTable(str(tmp_path / "t"), retention_sec=60.0)
    tbl.commit(_df(spark, [(1, "v1")]))
    tbl.commit(_df(spark, [(2, "v2")]))
    # v1 was superseded by v2 "an hour ago"; v2 is still current
    _backdate_log(tbl, 1, 7200.0)
    _backdate_log(tbl, 2, 3600.0)
    tbl.commit(_df(spark, [(3, "v3")]), keep_snapshots=1)
    with pytest.raises((SnapshotExpiredError, FileNotFoundError)):
        tbl.read(spark, version=1)
    # v2 was superseded only NOW (by v3): retained despite keep=1
    assert {r["v"] for r in tbl.read(spark, version=2).collect()} == {"v2"}


def test_gc_keep_count_ignores_unpointed_intents(spark, tmp_path):
    """ADVICE r8: a crashed writer's unpointed intent snapshot (version
    beyond the live pointer) must not occupy a keep_snapshots slot and
    evict a genuinely committed snapshot, and must not itself be
    reclaimed while fresh (a concurrent writer inside its commit lock
    briefly looks identical)."""
    tbl = ManifestTable(str(tmp_path / "t"), retention_sec=0.0)
    for i in range(1, 4):
        tbl.commit(_df(spark, [(i, f"v{i}")]), keep_snapshots=2)
    intent = os.path.join(tbl.root, "snap-000099-deadbeef")
    os.makedirs(intent)
    tbl.commit(_df(spark, [(4, "v4")]), keep_snapshots=2)
    # committed keep-count window = v3 + v4, unaffected by the intent
    assert {r["v"] for r in tbl.read(spark, version=3).collect()} == {"v3"}
    assert {r["v"] for r in tbl.read(spark, version=4).collect()} == {"v4"}
    assert os.path.isdir(intent), "fresh intent must survive GC"


def test_concurrent_evolve_commit_revalidates_in_lock(spark, tmp_path):
    """ADVICE r8 (medium): two unconditional evolve-mode writers race;
    the slower one resolved its schema union against the old live
    version, so without in-lock re-validation it would silently drop
    the faster writer's appended column. The fix restages against the
    new base: BOTH new columns land."""
    root = str(tmp_path / "t")
    ManifestTable(root).commit(
        spark.createDataFrame([(1, "a")], "pk long, a string")
    )

    class Racy(ManifestTable):
        raced = False

        def _acquire_lock(self, timeout=30.0):
            if not Racy.raced:
                Racy.raced = True
                # the faster writer commits column x while we are
                # between our pre-lock schema resolution and the lock
                ManifestTable(self.root).commit(
                    spark.createDataFrame(
                        [(2, "a2", "x2")], "pk long, a string, x string"
                    )
                )
            super()._acquire_lock(timeout)

    tbl = Racy(root)
    tbl.commit(
        spark.createDataFrame([(3, "a3", "y3")], "pk long, a string, y string")
    )
    # unconditional commits are last-writer-wins on CONTENT (documented);
    # the race is about SCHEMA: without in-lock re-validation the final
    # table schema would silently lose the faster writer's column x.
    got = ManifestTable(root).read(spark)
    assert set(got.columns) == {"pk", "a", "x", "y"}, got.columns
    assert dict(got.dtypes)["x"] == "string"
    rows = got.collect()
    assert len(rows) == 1 and rows[0]["y"] == "y3" and rows[0]["x"] is None


def test_concurrent_layout_change_reinherited_in_lock(spark, tmp_path):
    """Partition-layout half of the same race: the faster writer
    repartitions the table; the slower writer's inherit-mode commit
    must pick up the NEW layout instead of silently reverting it."""
    root = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, f"d{i % 2}", "v") for i in range(4)],
        "pk long, day string, v string",
    )
    ManifestTable(root).commit(df)  # v1: unpartitioned

    class Racy(ManifestTable):
        raced = False

        def _acquire_lock(self, timeout=30.0):
            if not Racy.raced:
                Racy.raced = True
                ManifestTable(self.root).commit(df, partition_by=["day"])
            super()._acquire_lock(timeout)

    tbl = Racy(root)
    tbl.commit(df)  # partition_by=None: inherit
    final = ManifestTable(root)
    assert final.history()[0]["partition_by"] == ["day"]
    assert any(
        e.startswith("day=") for e in os.listdir(final.snapshot_path())
    )


def test_annotate_concurrent_updates_all_land(spark, tmp_path):
    """ADVICE r8: annotate's read-modify-write runs under the commit
    lock, so concurrent annotates on the same version cannot lose
    updates."""
    from concurrent.futures import ThreadPoolExecutor

    tbl = ManifestTable(str(tmp_path / "t"))
    ver = tbl.commit(_df(spark, [(1, "a")]))
    with ThreadPoolExecutor(8) as ex:
        results = list(
            ex.map(lambda i: tbl.annotate(ver, **{f"k{i}": i}), range(8))
        )
    assert all(results)
    meta = tbl.commit_meta(ver)
    assert {f"k{i}" for i in range(8)} <= set(meta)


def test_file_stats_skipping_and_compaction_inheritance(spark, tmp_path):
    """VERDICT r8 item 6: a stats_by commit records per-file [min,max]
    in the log; pruned_files skips non-overlapping files; read_range
    equals the full filtered read; and compaction inherits stats_by
    like a table property, re-recording stats for its rewritten
    files."""
    from datapipeline_scraping_spark.operators.txn import compact_table

    tbl = ManifestTable(str(tmp_path / "t"))
    df = spark.createDataFrame(
        [(i, i % 7, f"v{i}") for i in range(4000)], "k long, g long, v string"
    )
    tbl.commit(
        df.repartitionByRange(8, "k").sortWithinPartitions("k"),
        stats_by=["k"],
    )
    entry = tbl._log_entry(1)
    assert entry["stats_cols"] == ["k"]
    assert entry["file_stats"] and all(
        "k" in st for st in entry["file_stats"].values()
    )
    kept, total = tbl.pruned_files("k", 100, 299)
    assert total == 8 and 0 < len(kept) < total
    got = (
        tbl.read_range(spark, "k", 100, 299)
        .filter("k between 100 and 299")
        .count()
    )
    assert got == 200
    # files with no overlap at all -> empty frame with the table schema
    none = tbl.read_range(spark, "k", 10_000, 20_000)
    assert none.count() == 0 and none.columns == ["k", "g", "v"]
    # compaction inherits the stats columns (table property)
    res = compact_table(
        spark, str(tmp_path / "t"), target_file_bytes=1 << 30, sort_by=["k"]
    )
    if res["compacted"]:
        e2 = tbl._log_entry(res["version"])
        assert e2["stats_cols"] == ["k"] and e2["file_stats"]
        full = tbl.read(spark).filter("k between 100 and 299").count()
        pruned = (
            tbl.read_range(spark, "k", 100, 299)
            .filter("k between 100 and 299")
            .count()
        )
        assert full == pruned == 200


def test_read_range_composes_partition_and_stats_pruning(spark, tmp_path):
    """r10 (lifting the old unpartitioned-only restriction): on a
    partitioned snapshot a range over the partition column prunes by
    directory, a range over a data column by file stats, a conjunction
    by both — and the explicit file list still reconstructs the
    partition columns."""
    tbl = ManifestTable(str(tmp_path / "t"))
    df = spark.createDataFrame(
        [(i, f"d{i % 4}", i * 10) for i in range(400)],
        "k long, day string, x long",
    )
    tbl.commit(
        df.repartitionByRange(8, "k").sortWithinPartitions("k"),
        partition_by=["day"],
        stats_by=["k"],
    )
    # partition-column range prunes directories
    kept, total = tbl.pruned_files("day", "d1", "d2")
    assert 0 < len(kept) < total
    got = tbl.read_range(spark, "day", "d1", "d2")
    assert set(got.columns) == {"k", "day", "x"}  # partition col back
    assert got.select("day").distinct().count() == 2
    # data-column range prunes by file stats within partitions
    kept_k, total_k = tbl.pruned_files("k", 100, 120)
    assert 0 < len(kept_k) < total_k
    n = (
        tbl.read_range(spark, "k", 100, 120)
        .filter("k between 100 and 120")
        .count()
    )
    assert n == 21
    # conjunction intersects both prunings
    both = tbl.read_where(spark, {"day": ("d1", "d1"), "k": (100, 120)})
    rows = both.filter("k between 100 and 120 and day = 'd1'").collect()
    assert {r["k"] for r in rows} == {
        i for i in range(100, 121) if i % 4 == 1
    }
    # point lookup on the partition column prunes to its directory
    assert (
        tbl.read_point(spark, "day", "d3").filter("day = 'd3'").count()
        == 100
    )


@pytest.mark.slow  # r17 tiering: measured 10s; full (evidence) tier only
def test_apply_diff_equals_full_rebuild(spark, tmp_path):
    """VERDICT r8 item 3 (the distributed half of the property test):
    maintaining a derived table by applying the CDF with recomputed
    derived columns equals rebuilding it from the head state."""
    from datapipeline_scraping_spark.operators.txn import apply_diff

    base = ManifestTable(str(tmp_path / "base"))
    v1 = spark.createDataFrame(
        [(i, i * 10) for i in range(50)], "k long, x long"
    )
    base.commit(v1)
    # churn: drop %13, bump %9, insert 100..104
    v2 = (
        v1.filter("k % 13 != 0")
        .withColumn(
            "x",
            F.when(F.col("k") % 9 == 0, F.col("x") + 1).otherwise(F.col("x")),
        )
        .unionByName(
            spark.createDataFrame(
                [(100 + i, i) for i in range(5)], "k long, x long"
            )
        )
    )
    base.commit(v2)
    derive = lambda df: df.select("k", (F.col("x") * 2).alias("y"))  # noqa: E731
    derived_v1 = derive(base.read(spark, version=1))
    changes = base.diff(spark, 1, 2, ["k"])
    applied = apply_diff(
        derived_v1,
        changes.select("_change_type", "k", (F.col("x") * 2).alias("y")),
        ["k"],
    )
    rebuilt = derive(base.read(spark, version=2))
    assert sorted(map(tuple, applied.collect())) == sorted(
        map(tuple, rebuilt.collect())
    )


def test_commit_meta_is_atomic_with_commit(spark, tmp_path):
    tbl = ManifestTable(str(tmp_path / "t"))
    tbl.commit(_df(spark, [(1, "a")]), meta={"epoch": 7})
    assert tbl.commit_meta(1) == {"epoch": 7}
    # annotate merges INTO the commit-time meta, not over it
    tbl.annotate(1, extra="x")
    assert tbl.commit_meta(1) == {"epoch": 7, "extra": "x"}


def test_merge_write_concurrent_writers_both_land(spark, tmp_path):
    """VERDICT r8 item 4's done criterion: two writers merge-upsert
    concurrently with no manual coordination; merge_write's optimistic
    rebase-and-retry (re-read + re-merge on ConcurrentWriteError)
    serializes them so BOTH upserts land — no last-writer-wins, no
    failure surfaced to either caller."""
    import threading

    path = str(tmp_path / "t")
    ManifestTable(path).commit(_df(spark, [(0, "seed"), (1, "old")]))
    errs: list[Exception] = []

    def writer(rows):
        try:
            merge_write(spark, path, _df(spark, rows), "pk", writer="manifest")
        except Exception as exc:  # pragma: no cover
            errs.append(exc)

    t1 = threading.Thread(target=writer, args=([(1, "W1"), (10, "w1new")],))
    t2 = threading.Thread(target=writer, args=([(2, "W2"), (20, "w2new")],))
    t1.start(); t2.start(); t1.join(); t2.join()
    assert errs == []
    got = {r["pk"]: r["v"] for r in ManifestTable(path).read(spark).collect()}
    # both writers' keys present, seed untouched, writer-1's update applied
    assert got == {
        0: "seed", 1: "W1", 2: "W2", 10: "w1new", 20: "w2new",
    }


def test_stat_overlap_boundary_date_vs_timestamp_stat():
    """Regression: a timestamp-backed date column records file stats as
    '1997-08-31 00:00:00' while callers pass bare-date bounds
    ('1997-08-31'). Plain lexicographic compare calls the stat GREATER
    than the bound and skips a file whose min sits exactly on the
    window's hi edge — dropping qualifying rows. The conservative
    truncate-compare must keep such boundary files (and still prune
    genuinely disjoint ones)."""
    from decimal import Decimal

    from datapipeline_scraping_spark.sources.skipping import overlaps

    # file min == hi bound at day resolution -> MUST keep
    assert overlaps(
        "1997-08-31 00:00:00", "1997-12-01 00:00:00", None, "1997-08-31"
    )
    # file max == lo bound at day resolution -> MUST keep
    assert overlaps(
        "1997-01-01 00:00:00", "1997-06-01 00:00:00", "1997-06-01", None
    )
    # genuinely disjoint stays pruned in both directions
    assert not overlaps(
        "1997-09-01 00:00:00", "1997-12-01 00:00:00", None, "1997-08-31"
    )
    assert not overlaps(
        "1997-01-01 00:00:00", "1997-05-31 00:00:00", "1997-06-01", None
    )
    # numeric bounds unaffected
    assert overlaps(10, 20, 20, 30)
    assert not overlaps(10, 20, 21, 30)
    # decimal stats commit as text; a Decimal bound compares them as
    # Decimal ('12.50' < '9.00' as text would prune the file)
    assert overlaps("3.00", "12.50", Decimal("9.00"), None)
    assert not overlaps("3.00", "12.50", Decimal("12.51"), None)


def test_decimal_stats_prune_numerically_on_both_front_ends(spark, tmp_path):
    """Regression: a decimal column's commit-log stats are text
    (['3.00', '12.50']); the DataFrame path compared them with the
    bound as text, where '12.50' < '9.00', so read_range(p >= 9.00)
    and read_where(p = 12.50) pruned the only file and returned no
    rows. Both front ends share one comparator now and must agree."""
    from decimal import Decimal

    from datapipeline_scraping_spark.sources.manifest_sql import (
        predicate_view,
    )

    root = str(tmp_path / "t")
    tbl = ManifestTable(root)
    tbl.commit(
        spark.createDataFrame(
            [(1, Decimal("3.00")), (2, Decimal("12.50"))],
            "id long, p decimal(20,2)",
        ).coalesce(1),
        stats_by=["p"],
    )
    (st,) = tbl._log_entry(1)["file_stats"].values()
    assert st["p"][:2] == ["3.00", "12.50"]
    ge = tbl.read_range(spark, "p", Decimal("9.00"), None).filter(
        "p >= 9.00"
    )
    assert [r["id"] for r in ge.collect()] == [2]
    eq = tbl.read_where(spark, {"p": (12.50, 12.50)}).filter("p = 12.50")
    assert [r["id"] for r in eq.collect()] == [2]
    predicate_view(spark, "dec_ge", root, "p >= 9.00")
    assert spark.sql("SELECT count(*) AS n FROM dec_ge").first()["n"] == 1
    # a bound that does not fit the column type fails loudly, as
    # predicate_view does, instead of silently keeping every file
    with pytest.raises(ValueError, match="does not match column"):
        tbl.pruned_files("p", "9.00", None)


def test_zorder_prunes_every_listed_dimension(spark, tmp_path):
    """compact_table(zorder_by=[a, b], target_files=...) must produce a
    layout whose commit-log stats prune range reads on BOTH columns —
    the property a lexicographic sort cannot give its trailing key —
    and read_where (conjunctive ranges) must equal the full filtered
    read."""
    from datapipeline_scraping_spark.operators.txn import compact_table

    tbl = ManifestTable(str(tmp_path / "t"))
    df = spark.createDataFrame(
        [(i, i % 97, (i * 31) % 89, f"v{i}") for i in range(6000)],
        "k long, a long, b long, v string",
    )
    tbl.commit(df.repartition(8), stats_by=["a", "b"])
    res = compact_table(
        spark,
        str(tmp_path / "t"),
        target_files=16,
        zorder_by=["a", "b"],
        min_gain_files=0,
    )
    assert res["compacted"] and res["files_after"] == 16
    kept_a, total = tbl.pruned_files("a", 10, 30)
    kept_b, _ = tbl.pruned_files("b", 10, 30)
    assert total == 16
    assert len(kept_a) < total, "dimension a did not prune"
    assert len(kept_b) < total, "dimension b did not prune"
    pred = "a between 10 and 30 and b between 10 and 30"
    full = tbl.read(spark).filter(pred).count()
    pruned = (
        tbl.read_where(spark, {"a": (10, 30), "b": (10, 30)})
        .filter(pred)
        .count()
    )
    assert full == pruned > 0
    # sort_by/zorder_by are mutually exclusive
    with pytest.raises(ValueError, match="mutually exclusive"):
        compact_table(
            spark, str(tmp_path / "t"), sort_by=["a"], zorder_by=["b"]
        )


def test_restore_is_metadata_only_rollback(spark, tmp_path):
    """Delta RESTORE semantics: restore(v) rolls the table back AS A
    NEW COMMIT (history preserved), the restored read equals the old
    version exactly, files are HARDLINKED (no data copy), and the
    restored snapshot survives GC of its source snapshot."""
    path = str(tmp_path / "t")
    tbl = ManifestTable(path)  # default retention: source snapshot stays
    tbl.commit(_df(spark, [(1, "good"), (2, "good2")]))
    tbl.commit(_df(spark, [(1, "BAD"), (2, "BAD2"), (3, "BAD3")]))
    ver = tbl.restore(1)
    assert ver == 3 and tbl.version() == 3
    got = {r["pk"]: r["v"] for r in tbl.read(spark).collect()}
    assert got == {1: "good", 2: "good2"}
    # history preserved: the bad commit is still inspectable
    assert any(e["version"] == 2 for e in tbl.history())
    # metadata-only: restored files share inodes with the source
    entry = tbl._log_entry(3)
    snap = os.path.join(path, entry["snapshot"])
    links = [
        os.stat(os.path.join(d, f)).st_nlink
        for d, _sub, fs in os.walk(snap)
        for f in fs
        if f.endswith(".parquet")
    ]
    assert links and all(n >= 2 for n in links)
    # provenance recorded atomically with the commit
    assert tbl.commit_meta(3).get("restore_of") == 1
    # GC the hardlink SOURCE (v1) while keeping the restored snapshot
    # (v3): unlinking the source only drops an inode refcount — the
    # restored bytes must survive and the pinned read still succeed
    src_snap = os.path.join(path, tbl._log_entry(1)["snapshot"])
    aggressive = ManifestTable(path, retention_sec=0.0)
    aggressive.commit(_df(spark, [(9, "x")]), keep_snapshots=2)  # v4
    assert not os.path.isdir(src_snap), "GC should have removed v1"
    got3 = {r["pk"]: r["v"] for r in aggressive.read(spark, version=3).collect()}
    assert got3 == {1: "good", 2: "good2"}
    # restoring a GC'd version is a clean error, not a crash
    gone = [
        v
        for v in (1, 2)
        if (e := aggressive._log_entry(v)) is not None
        and not os.path.isdir(os.path.join(path, e["snapshot"]))
    ]
    if gone:
        with pytest.raises(SnapshotExpiredError):
            aggressive.restore(gone[0])
    tbl = aggressive
    # CAS miss surfaces as ConcurrentWriteError
    with pytest.raises(ConcurrentWriteError):
        tbl.restore(3, expect_version=1)


def test_check_constraints_enforced_and_inherited(spark, tmp_path):
    """Delta CHECK-constraint semantics on commit(): FALSE rows abort
    the whole commit (staged files removed, pointer untouched), NULL
    satisfies, constraints inherit as a table property so later
    commits — including merge_write's — enforce them without
    restating, and check={} drops them deliberately."""
    from datapipeline_scraping_spark.operators.txn import (
        ConstraintViolationError,
    )

    path = str(tmp_path / "t")
    tbl = ManifestTable(path)
    df_ok = spark.createDataFrame(
        [(1, 10), (2, None), (3, 30)], "pk long, qty int"
    )
    tbl.commit(df_ok, check={"qty_nonneg": "qty >= 0"})
    assert tbl._log_entry(1)["checks"] == {"qty_nonneg": "qty >= 0"}

    bad = spark.createDataFrame([(4, -5), (5, 50)], "pk long, qty int")
    with pytest.raises(ConstraintViolationError, match="qty_nonneg"):
        tbl.commit(bad)  # inherited — not restated
    assert tbl.version() == 1  # pointer untouched
    assert not [
        d for d in os.listdir(path) if d.startswith("snap-staging")
    ], "aborted commit must remove its staged files"

    # a clean commit inherits and passes; restore carries checks too
    tbl.commit(spark.createDataFrame([(6, 60)], "pk long, qty int"))
    assert tbl._log_entry(2)["checks"] == {"qty_nonneg": "qty >= 0"}
    tbl.restore(1)
    assert tbl._log_entry(3)["checks"] == {"qty_nonneg": "qty >= 0"}

    # check={} drops the table property
    tbl.commit(bad, check={})
    assert tbl.version() == 4
    assert "checks" not in (tbl._log_entry(4) or {})


# ---------------------------------------------------------------------------
# merge-on-read DELETE via deletion vectors (delete_where)
# ---------------------------------------------------------------------------


def _ids(tbl, spark, **kw):
    return sorted(r["pk"] for r in tbl.read(spark, **kw).collect())


def test_delete_where_is_metadata_only_and_chains(spark, tmp_path):
    import glob

    tbl = ManifestTable(str(tmp_path / "t"))
    tbl.commit(_df(spark, [(i, f"v{i}") for i in range(20)]))
    assert tbl.delete_where(spark, "pk % 5 = 0", ["pk"]) == 2
    assert _ids(tbl, spark) == [i for i in range(20) if i % 5]
    # chained delete accumulates into a self-contained vector
    assert tbl.delete_where(spark, F.col("pk") % 7 == 0, ["pk"]) == 3
    assert _ids(tbl, spark) == [i for i in range(20) if i % 5 and i % 7]
    # zero data bytes rewritten: every v1 data file is hardlinked
    # (same inode) into the v3 snapshot
    def inodes(ver):
        snap = tbl.snapshot_path(ver)
        return {
            os.stat(p).st_ino for p in glob.glob(snap + "/*.parquet")
        }
    assert inodes(1) and inodes(1) == inodes(3)
    # vector metadata rides the commit log
    assert (tbl._log_entry(3) or {})["dv"]["key_cols"] == ["pk"]


def test_delete_where_time_travel_and_diff(spark, tmp_path):
    tbl = ManifestTable(str(tmp_path / "t"), retention_sec=3600)
    tbl.commit(_df(spark, [(i, "x") for i in range(10)]))
    tbl.delete_where(spark, "pk >= 7", ["pk"])
    # each version applies exactly its own accumulated vector
    assert _ids(tbl, spark, version=1) == list(range(10))
    assert _ids(tbl, spark, version=2) == list(range(7))
    d = tbl.diff(spark, 1, 2, ["pk"])
    got = {(r["_change_type"], r["pk"]) for r in d.collect()}
    assert got == {("delete", 7), ("delete", 8), ("delete", 9)}


def test_compaction_materializes_and_purges_vector(spark, tmp_path):
    from datapipeline_scraping_spark.operators.txn import compact_table

    tbl = ManifestTable(str(tmp_path / "t"))
    tbl.commit(_df(spark, [(i, "x") for i in range(50)]))
    tbl.delete_where(spark, "pk % 2 = 0", ["pk"])
    # a live DV forces the rewrite even when file count wouldn't
    res = compact_table(spark, str(tmp_path / "t"), target_files=1)
    assert res["compacted"]
    assert "dv" not in (tbl._log_entry(tbl.version()) or {})
    assert _ids(tbl, spark) == [i for i in range(50) if i % 2]
    # no _dv sidecar survives in the rewritten snapshot
    assert not os.path.isdir(
        os.path.join(tbl.snapshot_path(tbl.version()), tbl.DV_DIR)
    )


def test_delete_where_cas_and_rekey_guards(spark, tmp_path):
    tbl = ManifestTable(str(tmp_path / "t"))
    tbl.commit(_df(spark, [(1, "a"), (2, "b")]))
    with pytest.raises(ConcurrentWriteError):
        tbl.delete_where(spark, "pk = 1", ["pk"], expect_version=99)
    assert tbl.version() == 1  # failed CAS leaves no commit behind
    tbl.delete_where(spark, "pk = 1", ["pk"])
    with pytest.raises(ValueError):
        tbl.delete_where(spark, "pk = 2", ["v"])  # re-key without compact


def test_delete_where_applies_on_pruned_reads(spark, tmp_path):
    tbl = ManifestTable(str(tmp_path / "t"))
    df = spark.range(100).select(
        F.col("id").alias("pk"), (F.col("id") % 10).alias("b")
    ).repartition(4, "pk")
    tbl.commit(df, stats_by=["pk"])
    tbl.delete_where(spark, "pk < 50", ["pk"])
    # read_range prunes FILES; the exact predicate is the caller's —
    # but the deletion vector must already be applied to the scan
    got = sorted(
        r["pk"]
        for r in tbl.read_range(spark, "pk", 40, 60)
        .filter("pk between 40 and 60")
        .collect()
    )
    assert got == list(range(50, 61))


def test_restore_carries_deletion_vector(spark, tmp_path):
    tbl = ManifestTable(str(tmp_path / "t"), retention_sec=3600)
    tbl.commit(_df(spark, [(i, "x") for i in range(6)]))       # v1
    tbl.delete_where(spark, "pk >= 4", ["pk"])                  # v2
    tbl.commit(_df(spark, [(99, "y")]))                         # v3
    tbl.restore(2)                                              # v4 = v2
    assert _ids(tbl, spark) == [0, 1, 2, 3]


# ---------------------------------------------------------------------------
# metadata-only column rename (rename_column / column_map)
# ---------------------------------------------------------------------------


def test_rename_column_is_metadata_only_and_chains(spark, tmp_path):
    import glob

    tbl = ManifestTable(str(tmp_path / "t"), retention_sec=3600)
    tbl.commit(_df(spark, [(i, f"v{i}") for i in range(10)]))
    tbl.rename_column("v", "label")

    def inodes(ver):
        snap = tbl.snapshot_path(ver)
        return {os.stat(p).st_ino for p in glob.glob(snap + "/*.parquet")}

    assert inodes(1) and inodes(1) == inodes(2)  # zero data bytes moved
    assert tbl.read(spark).columns == ["pk", "label"]
    assert tbl._log_entry(2)["column_map"] == {"label": "v"}
    # chained rename collapses to one physical mapping
    tbl.rename_column("label", "name")
    assert tbl._log_entry(3)["column_map"] == {"name": "v"}
    assert {r["name"] for r in tbl.read(spark).collect()} == {
        f"v{i}" for i in range(10)
    }
    # time travel serves each version's OWN logical names
    assert tbl.read(spark, version=1).columns == ["pk", "v"]
    # rename back to the physical name drops the map entirely
    tbl.rename_column("name", "v")
    assert "column_map" not in (tbl._log_entry(4) or {})


def test_rename_column_guards(spark, tmp_path):
    tbl = ManifestTable(str(tmp_path / "t"))
    df = _df(spark, [(1, "a"), (2, "b")]).withColumn("b", F.col("pk") % 2)
    tbl.commit(df, partition_by=["b"], check={"pk_pos": "pk > 0"})
    with pytest.raises(ValueError, match="partition column"):
        tbl.rename_column("b", "bucket")
    with pytest.raises(ValueError, match="CHECK constraint"):
        tbl.rename_column("pk", "id")
    with pytest.raises(ValueError, match="already exists"):
        tbl.rename_column("v", "pk")
    with pytest.raises(ValueError, match="no column"):
        tbl.rename_column("zzz", "y")
    t2 = ManifestTable(str(tmp_path / "t2"))
    t2.commit(_df(spark, [(1, "a"), (2, "b")]))
    t2.delete_where(spark, "pk = 1", ["pk"])
    with pytest.raises(ValueError, match="deletion vector"):
        t2.rename_column("pk", "id")
    t2.rename_column("v", "val")  # non-key renames stay allowed


def test_rename_column_interplay(spark, tmp_path):
    from datapipeline_scraping_spark.operators.txn import compact_table

    tbl = ManifestTable(str(tmp_path / "t"), retention_sec=3600)
    df = spark.range(20).select(
        F.col("id").alias("pk"), F.concat(F.lit("v"), F.col("id")).alias("v")
    )
    tbl.commit(df, stats_by=["pk"])
    tbl.rename_column("pk", "id")
    # file-skipping stats translate logical -> physical
    kept, total = tbl.pruned_files("id", 3, 5)
    assert kept and len(kept) < total
    got = sorted(
        r["id"]
        for r in tbl.read_range(spark, "id", 3, 5)
        .filter("id between 3 and 5")
        .collect()
    )
    assert got == [3, 4, 5]
    # DV predicate + keys in logical names
    tbl.delete_where(spark, "id >= 15", ["id"])
    assert sorted(r["id"] for r in tbl.read(spark).collect()) == list(
        range(15)
    )
    # restore carries the map (hardlinked physical files)
    tbl.restore(2)
    assert tbl._log_entry(tbl.version())["column_map"] == {"id": "pk"}
    assert tbl.read(spark).columns == ["id", "v"]
    # a full-rewrite commit materializes logical names and drops the map
    tbl.commit(tbl.read(spark))
    assert "column_map" not in (tbl._log_entry(tbl.version()) or {})
    assert tbl.read(spark).columns == ["id", "v"]
    # compaction also materializes (fresh table to isolate)
    t2 = ManifestTable(str(tmp_path / "t2"))
    t2.commit(df)
    t2.rename_column("v", "name")
    compact_table(spark, str(tmp_path / "t2"), target_files=1)
    assert "column_map" not in (t2._log_entry(t2.version()) or {})
    assert t2.read(spark).columns == ["pk", "name"]


def test_rename_column_breaks_change_feed(spark, tmp_path):
    from datapipeline_scraping_spark.sources.cdf_datasource import register

    tbl = ManifestTable(str(tmp_path / "t"))
    tbl.commit(_df(spark, [(1, "a")]), cdf_keys=["pk"])
    tbl.rename_column("v", "label")
    entry = tbl._log_entry(2)["cdf"]
    assert entry["break"] is True and entry["key_cols"] == ["pk"]
    register(spark)
    with pytest.raises(Exception, match="not materialized|RESTORE"):
        (
            spark.read.format("manifest_cdf")
            .option("root", str(tmp_path / "t"))
            .load()
            .collect()
        )


# ---------------------------------------------------------------------------
# merge-on-read UPDATE (update_where / _upd delta)
# ---------------------------------------------------------------------------


@pytest.mark.slow  # r17 tiering: measured 10s; full (evidence) tier only
def test_update_where_is_metadata_only_and_chains(spark, tmp_path):
    import glob

    tbl = ManifestTable(str(tmp_path / "t"), retention_sec=3600)
    df = spark.createDataFrame(
        [(i, f"v{i}", float(i)) for i in range(10)], "pk long, v string, x double"
    )
    tbl.commit(df)
    tbl.update_where(spark, "pk >= 7", {"x": "x * 10"}, ["pk"])

    def inodes(ver):
        snap = tbl.snapshot_path(ver)
        return {os.stat(p).st_ino for p in glob.glob(snap + "/*.parquet")}

    assert inodes(1) and inodes(1) == inodes(2)  # zero data files rewritten
    got = {r["pk"]: r["x"] for r in tbl.read(spark).collect()}
    assert got == {i: (i * 10.0 if i >= 7 else float(i)) for i in range(10)}
    assert (tbl._log_entry(2) or {})["mor_delta"]["n_rows"] == 3
    # chained update over already-updated rows composes
    tbl.update_where(spark, "x >= 70", {"v": F.lit("BIG")}, ["pk"])
    big = {r["pk"] for r in tbl.read(spark).filter("v = 'BIG'").collect()}
    assert big == {7, 8, 9}
    # a DELETE matching the POST-update value finds it
    tbl.delete_where(spark, "x = 90.0", ["pk"])
    assert sorted(r["pk"] for r in tbl.read(spark).collect()) == list(range(9))
    # time travel sees each version's own state
    assert [r["x"] for r in tbl.read(spark, version=1).collect() if r["pk"] == 7] == [7.0]
    assert [r["v"] for r in tbl.read(spark, version=2).collect() if r["pk"] == 7] == ["v7"]


def test_update_where_guards(spark, tmp_path):
    from datapipeline_scraping_spark.operators.txn import (
        ConstraintViolationError,
    )

    tbl = ManifestTable(str(tmp_path / "t"))
    tbl.commit(
        _df(spark, [(1, "a"), (2, "b")]), check={"v_nonempty": "length(v) > 0"}
    )
    with pytest.raises(ValueError, match="key column"):
        tbl.update_where(spark, "pk = 1", {"pk": "pk + 10"}, ["pk"])
    with pytest.raises(ValueError, match="no column"):
        tbl.update_where(spark, "pk = 1", {"zzz": "1"}, ["pk"])
    with pytest.raises(ConstraintViolationError):
        tbl.update_where(spark, "pk = 1", {"v": "''"}, ["pk"])
    assert tbl.version() == 1  # aborted commits left nothing behind
    with pytest.raises(ConcurrentWriteError):
        tbl.update_where(spark, "pk = 1", {"v": "'z'"}, ["pk"], expect_version=9)


def test_update_where_pruned_reads_and_restore(spark, tmp_path):
    tbl = ManifestTable(str(tmp_path / "t"), retention_sec=3600)
    df = spark.range(100).select(
        F.col("id").alias("pk"), (F.col("id") * 1.0).alias("x")
    ).repartition(4, "pk")
    tbl.commit(df, stats_by=["x"])
    # move a row's value INTO a range it never occupied: the pruned
    # read must still find it (delta rows union after file skipping)
    tbl.update_where(spark, "pk = 90", {"x": "5.5"}, ["pk"])
    got = sorted(
        r["pk"]
        for r in tbl.read_range(spark, "x", 5.0, 6.0)
        .filter("x between 5.0 and 6.0")
        .collect()
    )
    assert 90 in got and 5 in got and 6 in got
    # restore rolls the update back; a later restore forward works too
    tbl.restore(1)
    assert [r["x"] for r in tbl.read(spark).filter("pk = 90").collect()] == [90.0]
    tbl.restore(2)
    assert [r["x"] for r in tbl.read(spark).filter("pk = 90").collect()] == [5.5]


def test_update_where_change_feed_and_diff(spark, tmp_path):
    tbl = ManifestTable(str(tmp_path / "t"), retention_sec=3600)
    tbl.commit(
        _df(spark, [(i, f"v{i}") for i in range(6)]), cdf_keys=["pk"]
    )
    tbl.update_where(spark, "pk >= 4", {"v": "upper(v)"}, ["pk"])
    entry = tbl._log_entry(2)["cdf"]
    assert entry["n_changes"] == 4  # 2 pre + 2 post
    d = {
        (r["_change_type"], r["pk"], r["v"])
        for r in tbl.diff(spark, 1, 2, ["pk"]).collect()
    }
    assert d == {
        ("update_preimage", 4, "v4"),
        ("update_postimage", 4, "V4"),
        ("update_preimage", 5, "v5"),
        ("update_postimage", 5, "V5"),
    }


def test_update_where_compaction_materializes(spark, tmp_path):
    from datapipeline_scraping_spark.operators.txn import compact_table

    tbl = ManifestTable(str(tmp_path / "t"))
    tbl.commit(_df(spark, [(i, "x") for i in range(20)]))
    tbl.update_where(spark, "pk % 2 = 0", {"v": "'even'"}, ["pk"])
    res = compact_table(spark, str(tmp_path / "t"), target_files=1)
    assert res["compacted"]
    e = tbl._log_entry(tbl.version()) or {}
    assert "dv" not in e and "mor_delta" not in e
    assert not os.path.isdir(
        os.path.join(tbl.snapshot_path(tbl.version()), tbl.UPD_DIR)
    )
    got = {r["pk"]: r["v"] for r in tbl.read(spark).collect()}
    assert got == {i: ("even" if i % 2 == 0 else "x") for i in range(20)}


def test_rename_after_update_maps_delta_files(spark, tmp_path):
    """A rename AFTER a MoR update: the _upd delta files carry the old
    physical name and must be mapped on read like the base files; a
    further update then writes NEW-name delta rows and both unite."""
    tbl = ManifestTable(str(tmp_path / "t"), retention_sec=3600)
    tbl.commit(_df(spark, [(i, f"v{i}") for i in range(6)]))
    tbl.update_where(spark, "pk >= 4", {"v": "upper(v)"}, ["pk"])
    tbl.rename_column("v", "label")
    got = {r["pk"]: r["label"] for r in tbl.read(spark).collect()}
    assert got == {0: "v0", 1: "v1", 2: "v2", 3: "v3", 4: "V4", 5: "V5"}
    # update under the NEW logical name, touching old-name delta rows
    tbl.update_where(spark, "pk in (3, 4)", {"label": "'X'"}, ["pk"])
    got = {r["pk"]: r["label"] for r in tbl.read(spark).collect()}
    assert got == {0: "v0", 1: "v1", 2: "v2", 3: "X", 4: "X", 5: "V5"}


def test_update_then_rename_then_rename_again(spark, tmp_path):
    """The delta sidecar is stored under PHYSICAL names, so any chain
    of renames around updates maps correctly (a delta written under an
    intermediate logical name would break the second rename)."""
    tbl = ManifestTable(str(tmp_path / "t"), retention_sec=3600)
    tbl.commit(_df(spark, [(i, f"v{i}") for i in range(4)]))
    tbl.rename_column("v", "b")                      # v2: logical b
    tbl.update_where(spark, "pk >= 2", {"b": "upper(b)"}, ["pk"])  # v3
    tbl.rename_column("b", "c")                      # v4: logical c
    got = {r["pk"]: r["c"] for r in tbl.read(spark).collect()}
    assert got == {0: "v0", 1: "v1", 2: "V2", 3: "V3"}
    # and a further update under the final name still composes
    tbl.update_where(spark, "pk = 0", {"c": "'z'"}, ["pk"])
    got = {r["pk"]: r["c"] for r in tbl.read(spark).collect()}
    assert got == {0: "z", 1: "v1", 2: "V2", 3: "V3"}


def test_concurrent_dml_statements_rebase_and_retry(spark, tmp_path):
    """Two racing unconditional DML statements both land (Delta-style
    optimistic retry): the loser rebases against the winner's head and
    re-evaluates its predicate — no caller loop, no lost writes."""
    import threading

    tbl = ManifestTable(str(tmp_path / "t"), retention_sec=3600)
    tbl.commit(
        spark.createDataFrame(
            [(i, f"v{i}", float(i)) for i in range(20)],
            "pk long, v string, x double",
        )
    )
    errs = []

    def do_delete():
        try:
            tbl.delete_where(spark, "pk >= 15", ["pk"])
        except Exception as e:  # pragma: no cover
            errs.append(e)

    def do_update():
        try:
            tbl.update_where(spark, "pk < 5", {"v": "upper(v)"}, ["pk"])
        except Exception as e:  # pragma: no cover
            errs.append(e)

    ts = [threading.Thread(target=do_delete), threading.Thread(target=do_update)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errs and tbl.version() == 3
    got = {r["pk"]: r["v"] for r in tbl.read(spark).collect()}
    assert set(got) == set(range(15))  # delete applied
    assert all(got[i] == f"V{i}" for i in range(5))  # update applied
    assert all(got[i] == f"v{i}" for i in range(5, 15))


# ---------------------------------------------------------------------------
# zero-copy clone
# ---------------------------------------------------------------------------


def test_clone_is_zero_copy_and_read_equal(spark, tmp_path):
    import glob

    src = ManifestTable(str(tmp_path / "src"), retention_sec=3600)
    src.commit(_df(spark, [(i, f"v{i}") for i in range(10)]))
    src.delete_where(spark, "pk >= 8", ["pk"])
    src.update_where(spark, "pk < 2", {"v": "upper(v)"}, ["pk"])

    dst = src.clone_to(str(tmp_path / "dst"))
    assert dst.version() == 1
    got = {r["pk"]: r["v"] for r in dst.read(spark).collect()}
    want = {r["pk"]: r["v"] for r in src.read(spark).collect()}
    assert got == want == {0: "V0", 1: "V1", **{i: f"v{i}" for i in range(2, 8)}}

    # zero data bytes moved: every cloned parquet shares its inode
    def inos(tbl):
        snap = os.path.join(tbl.root, tbl.last_snapshot)
        return {
            os.path.basename(p): os.stat(p).st_ino
            for p in glob.glob(snap + "/**/*.parquet", recursive=True)
        }

    s, d = inos(src), inos(dst)
    assert s and s == d
    # clone_of provenance rides the log entry atomically
    meta = dst.commit_meta(1)
    assert meta["clone_of"]["version"] == 3
    assert meta["clone_of"]["root"] == src.root


def test_clone_diverges_independently_and_survives_source_gc(spark, tmp_path):
    src = ManifestTable(str(tmp_path / "src"), retention_sec=0)
    src.commit(_df(spark, [(i, f"v{i}") for i in range(6)]))
    dst = src.clone_to(str(tmp_path / "dst"))

    # writes to the clone never touch the source, and vice versa
    dst.update_where(spark, "pk = 0", {"v": "'x'"}, ["pk"])
    src.delete_where(spark, "pk = 5", ["pk"])
    assert {r["pk"] for r in src.read(spark).collect()} == set(range(5))
    got = {r["pk"]: r["v"] for r in dst.read(spark).collect()}
    assert got[0] == "x"
    assert set(got) == set(range(6))

    # source GC (retention 0, keep 1) cannot strand the clone: links
    # own their refcounts
    src.commit(_df(spark, [(1, "only")]), keep_snapshots=1)
    src._gc(keep=1)
    got2 = {r["pk"]: r["v"] for r in dst.read(spark).collect()}
    assert got2 == got


def test_clone_pinned_version_and_clobber_refusal(spark, tmp_path):
    src = ManifestTable(str(tmp_path / "src"), retention_sec=3600)
    src.commit(_df(spark, [(0, "a")]))
    src.commit(_df(spark, [(0, "b")]))

    dst = src.clone_to(str(tmp_path / "dst"), version=1)
    assert [r["v"] for r in dst.read(spark).collect()] == ["a"]

    with pytest.raises(FileExistsError):
        src.clone_to(str(tmp_path / "dst"))

    # expired pin: count+age GC drops version 1's snapshot AND its log
    # entry, so the pin fails loudly (FileNotFoundError when the entry
    # is gone — same contract as read(version=); SnapshotExpiredError
    # covers the entry-present/dir-gone crash window)
    src2 = ManifestTable(str(tmp_path / "src2"), retention_sec=0)
    src2.commit(_df(spark, [(0, "a")]))
    src2.commit(_df(spark, [(0, "b")]), keep_snapshots=1)
    with pytest.raises((FileNotFoundError, SnapshotExpiredError)):
        src2.clone_to(str(tmp_path / "dst2"), version=1)


# ---------------------------------------------------------------------------
# metadata-only DROP COLUMN
# ---------------------------------------------------------------------------


def _df3(spark, rows):
    return spark.createDataFrame(rows, "pk long, v string, x double")


def test_drop_column_is_metadata_only(spark, tmp_path):
    import glob

    tbl = ManifestTable(str(tmp_path / "t"), retention_sec=3600)
    tbl.commit(_df3(spark, [(i, f"v{i}", float(i)) for i in range(6)]))
    v1_inos = {
        os.stat(p).st_ino
        for p in glob.glob(tbl.snapshot_path(1) + "/*.parquet")
    }
    tbl.drop_column("x")
    got = tbl.read(spark)
    assert got.columns == ["pk", "v"]
    assert {r["pk"]: r["v"] for r in got.collect()} == {
        i: f"v{i}" for i in range(6)
    }
    # zero data bytes moved
    v2_inos = {
        os.stat(p).st_ino
        for p in glob.glob(tbl.snapshot_path(2) + "/*.parquet")
    }
    assert v2_inos == v1_inos
    # time travel still sees the column
    old = tbl.read(spark, version=1)
    assert old.columns == ["pk", "v", "x"]
    assert old.filter(F.col("x") == 3.0).count() == 1


def test_drop_column_composes_with_rename_and_dml(spark, tmp_path):
    tbl = ManifestTable(str(tmp_path / "t"), retention_sec=3600)
    tbl.commit(_df3(spark, [(i, f"v{i}", float(i)) for i in range(8)]))
    tbl.rename_column("v", "w")     # logical w -> physical v
    tbl.drop_column("x")
    tbl.update_where(spark, "pk < 2", {"w": "upper(w)"}, ["pk"])
    tbl.delete_where(spark, "pk >= 6", ["pk"])
    got = tbl.read(spark)
    assert got.columns == ["pk", "w"]
    vals = {r["pk"]: r["w"] for r in got.collect()}
    assert vals == {0: "V0", 1: "V1", **{i: f"v{i}" for i in range(2, 6)}}
    # rename ANOTHER column onto the dropped name: stale physical x is
    # projected away before the map applies
    tbl.rename_column("w", "x")
    got2 = {r["pk"]: r["x"] for r in tbl.read(spark).collect()}
    assert got2 == vals
    # the SQL surface composes the same pipeline per task
    from datapipeline_scraping_spark.sources.manifest_datasource import (
        register,
    )

    register(spark)
    spark.sql(
        f"""CREATE OR REPLACE TEMPORARY VIEW dropt
            USING manifest OPTIONS (root '{tbl.root}')"""
    )
    sql_rows = {
        r["pk"]: r["x"] for r in spark.sql("SELECT * FROM dropt").collect()
    }
    assert sql_rows == vals


def test_drop_column_materializes_on_rewrite(spark, tmp_path):
    import glob
    import pyarrow.parquet as pq

    from datapipeline_scraping_spark.operators.txn import compact_table

    tbl = ManifestTable(str(tmp_path / "t"), retention_sec=3600)
    tbl.commit(_df3(spark, [(i, f"v{i}", float(i)) for i in range(6)]))
    tbl.drop_column("x")
    compact_table(spark, tbl.root, target_files=1)
    head = tbl._log_entry(tbl.version())
    assert not head.get("dropped")  # full rewrite cleared the list
    files = glob.glob(tbl.snapshot_path(tbl.version()) + "/*.parquet")
    assert all(
        "x" not in pq.read_schema(f).names for f in files
    )  # bytes physically gone
    # re-adding the same logical name via a fresh commit is clean
    tbl.commit(
        spark.createDataFrame(
            [(0, "a", 99)], "pk long, v string, x long"
        )
    )
    assert {r["x"] for r in tbl.read(spark).collect()} == {99}


def test_drop_column_refusals(spark, tmp_path):
    tbl = ManifestTable(str(tmp_path / "p"), retention_sec=3600)
    tbl.commit(
        _df3(spark, [(i, f"v{i}", float(i % 2)) for i in range(4)]),
        partition_by=["v"],
        check={"x_nonneg": "x >= 0"},
    )
    with pytest.raises(ValueError, match="partition column"):
        tbl.drop_column("v")
    with pytest.raises(ValueError, match="CHECK"):
        tbl.drop_column("x")
    t2 = ManifestTable(str(tmp_path / "d"), retention_sec=3600)
    t2.commit(_df3(spark, [(0, "a", 1.0)]))
    t2.delete_where(spark, "pk < 0", ["pk"])
    with pytest.raises(ValueError, match="deletion vector"):
        t2.drop_column("pk")
    with pytest.raises(ValueError, match="no column"):
        t2.drop_column("zz")
    t3 = ManifestTable(str(tmp_path / "one"), retention_sec=3600)
    t3.commit(spark.createDataFrame([(1,)], "pk long"))
    with pytest.raises(ValueError, match="only column"):
        t3.drop_column("pk")


# ---------------------------------------------------------------------------
# metadata-only ADD COLUMN
# ---------------------------------------------------------------------------


def test_add_column_is_metadata_only_then_backfills(spark, tmp_path):
    import glob

    tbl = ManifestTable(str(tmp_path / "t"), retention_sec=3600)
    tbl.commit(_df(spark, [(i, f"v{i}") for i in range(6)]))
    v1_inos = {
        os.stat(p).st_ino
        for p in glob.glob(tbl.snapshot_path(1) + "/*.parquet")
    }
    tbl.add_column("score", "double")
    got = tbl.read(spark)
    assert got.columns == ["pk", "v", "score"]
    assert all(r["score"] is None for r in got.collect())
    v2_inos = {
        os.stat(p).st_ino
        for p in glob.glob(tbl.snapshot_path(2) + "/*.parquet")
    }
    assert v2_inos == v1_inos  # zero data bytes moved
    # time travel: the pre-add version has no such column
    assert "score" not in tbl.read(spark, version=1).columns
    # merge-on-read backfill, then a full rewrite materializes
    tbl.update_where(spark, "pk < 3", {"score": "pk * 1.5"}, ["pk"])
    vals = {r["pk"]: r["score"] for r in tbl.read(spark).collect()}
    assert vals == {0: 0.0, 1: 1.5, 2: 3.0, 3: None, 4: None, 5: None}
    from datapipeline_scraping_spark.operators.txn import compact_table

    compact_table(spark, tbl.root, target_files=1)
    head = tbl._log_entry(tbl.version())
    assert not head.get("added")  # rewrite cleared the marker
    assert {r["pk"]: r["score"] for r in tbl.read(spark).collect()} == vals


def test_add_column_reusing_dropped_name_does_not_resurrect(spark, tmp_path):
    tbl = ManifestTable(str(tmp_path / "t"), retention_sec=3600)
    tbl.commit(_df3(spark, [(i, f"v{i}", float(i + 7)) for i in range(4)]))
    tbl.drop_column("x")
    tbl.add_column("x", "double")
    got = tbl.read(spark)
    assert got.columns == ["pk", "v", "x"]
    # the old x bytes (7.0..10.0) are still in the files, but must
    # NEVER surface as the new column's values
    assert all(r["x"] is None for r in got.collect())
    # SQL surface agrees
    from datapipeline_scraping_spark.sources.manifest_datasource import (
        register,
    )

    register(spark)
    spark.sql(
        f"""CREATE OR REPLACE TEMPORARY VIEW addt
            USING manifest OPTIONS (root '{tbl.root}')"""
    )
    assert all(
        r["x"] is None for r in spark.sql("SELECT * FROM addt").collect()
    )


def test_add_column_refusals_and_read_range(spark, tmp_path):
    tbl = ManifestTable(str(tmp_path / "t"), retention_sec=3600)
    tbl.commit(
        _df(spark, [(i, f"v{i}") for i in range(8)]), stats_by=["pk"]
    )
    with pytest.raises(ValueError, match="already exists"):
        tbl.add_column("v", "string")
    tbl.add_column("w", "long")
    # declared-schema range read null-fills the added column natively
    got = tbl.read_range(spark, "pk", 2, 5)
    assert got.columns == ["pk", "v", "w"]
    rows = got.collect()
    assert {r["pk"] for r in rows} == {2, 3, 4, 5}
    assert all(r["w"] is None for r in rows)


def test_read_range_empty_prune_still_sees_mor_delta(spark, tmp_path):
    """ADVICE r9 (high): when file stats prune EVERY base file, the
    merge-on-read ``_upd`` delta must still union in — update_where
    can move a row into a range no base file's [min,max] covers."""
    tbl = ManifestTable(str(tmp_path / "t"), retention_sec=3600)
    df = spark.range(100).select(
        F.col("id").alias("pk"), (F.col("id") * 1.0).alias("x")
    ).repartition(4, "pk")
    tbl.commit(df, stats_by=["x"])
    # base files cover x in [0, 99]; move one row far outside
    tbl.update_where(spark, "pk = 42", {"x": "5000.0"}, ["pk"])
    kept, total = tbl.pruned_files("x", 4000.0, 6000.0)
    assert kept == [] and total > 0  # the range prunes every base file
    got = (
        tbl.read_range(spark, "x", 4000.0, 6000.0)
        .filter("x between 4000 and 6000")
        .collect()
    )
    assert [(r["pk"], r["x"]) for r in got] == [(42, 5000.0)]
    # read_where multi-column conjunction hits the same path
    got2 = tbl.read_where(spark, {"x": (4000.0, 6000.0)}).collect()
    assert {r["pk"] for r in got2} == {42}
    # a deleted row must NOT resurrect through the empty-prune path
    tbl.delete_where(spark, "pk = 42", ["pk"])
    assert tbl.read_range(spark, "x", 4000.0, 6000.0).count() == 0


def test_zorder_bits_clamped_to_signed_long(spark, tmp_path):
    """ADVICE r9: with 4+ columns the default 16 bits/column used to
    push planes onto (or past) bit 63 — the key must stay a non-
    negative signed long and keep its clustering power."""
    from datapipeline_scraping_spark.operators.txn import zorder_key

    df = spark.range(1024).select(
        (F.col("id") % 4).alias("a"),
        (F.col("id") / 4).cast("long").__mod__(4).alias("b"),
        (F.col("id") / 16).cast("long").__mod__(4).alias("c"),
        (F.col("id") / 64).cast("long").__mod__(4).alias("d"),
        (F.col("id") / 256).cast("long").__mod__(4).alias("e"),
    )
    for cols in (["a", "b", "c", "d"], ["a", "b", "c", "d", "e"]):
        z = df.select(zorder_key(df, cols).alias("z"))
        lo, hi = z.agg(F.min("z"), F.max("z")).first()
        assert lo >= 0, f"{cols}: sign bit leaked (min {lo})"
        bits = 63 // len(cols)
        assert hi < (1 << (bits * len(cols)))
    # clustering power retained after the clamp: with every other
    # dimension held fixed the key is strictly monotone in the varying
    # one (the property the pre-clamp sign-bit/wraparound corruption
    # destroyed for 4+ columns)
    rows = (
        df.filter("b = 0 and c = 0 and d = 0")
        .select("a", zorder_key(df, ["a", "b", "c", "d"]).alias("z"))
        .distinct()
        .orderBy("a")
        .collect()
    )
    assert len(rows) >= 2
    zs = [r["z"] for r in rows]
    assert zs == sorted(zs) and len(set(zs)) == len(zs)
    with pytest.raises(ValueError, match="at least one column"):
        zorder_key(df, [])


def test_operational_meta_not_reattributed(spark, tmp_path):
    """ADVICE r9: restore/DML/ALTER writers must inherit only table-
    property meta — epoch stamps and DML predicates describe ONE
    commit and may not leak into later unrelated commits' history."""
    from datapipeline_scraping_spark.streaming.txn_sink import (
        last_applied_epoch,
    )

    tbl = ManifestTable(str(tmp_path / "t"), retention_sec=3600)
    tbl.commit(
        _df(spark, [(i, f"v{i}") for i in range(10)]),
        meta={"epoch": 7, "owner": "pipeline-a"},
    )
    tbl.delete_where(spark, "pk = 3", ["pk"])
    e2 = tbl._log_entry(2)["meta"]
    # the DML commit carries its own predicate + inherited properties,
    # but NOT the epoch stamp of the commit it derived from
    assert e2.get("delete_predicate") == "pk = 3"
    assert "epoch" not in e2 and e2.get("owner") == "pipeline-a"
    tbl.update_where(spark, "pk = 4", {"v": "'z'"}, ["pk"])
    e3 = tbl._log_entry(3)["meta"]
    assert "epoch" not in e3 and "delete_predicate" not in e3
    assert e3.get("update_predicate") == "pk = 4"
    # restore back to v1: provenance recorded, epoch NOT re-stamped —
    # the exactly-once sink's guard must still see epoch 7 (from v1),
    # not a fresh commit claiming epoch 7 happened "now"
    ver = tbl.restore(1)
    er = tbl._log_entry(ver)["meta"]
    assert er.get("restore_of") == 1 and "epoch" not in er
    assert "update_predicate" not in er and "delete_predicate" not in er
    assert last_applied_epoch(tbl) == 7
    # ALTER writers: same contract
    tbl.rename_column("v", "w")
    assert "epoch" not in tbl._log_entry(tbl.version())["meta"]
    # clone: destination inherits properties, not the epoch stamp
    clone = tbl.clone_to(str(tmp_path / "c"))
    ec = clone._log_entry(1)["meta"]
    assert ec.get("clone_of", {}).get("version") == tbl.version()
    assert "epoch" not in ec and ec.get("owner") == "pipeline-a"


@pytest.mark.slow  # r17 tiering: measured 12s; full (evidence) tier only
def test_bloom_point_lookup_prunes_and_stays_exact(spark, tmp_path):
    """r10: per-file bloom index — point probes prune files min/max
    stats cannot (unsorted high-cardinality keys), absent keys read
    nothing, and the merge-on-read + compaction paths stay exact."""
    from datapipeline_scraping_spark.operators.txn import compact_table

    tbl = ManifestTable(str(tmp_path / "t"), retention_sec=3600)
    df = (
        spark.range(20000)
        .select(
            F.col("id").alias("k"),
            F.concat(F.lit("u"), F.col("id")).alias("u"),
            (F.col("id") % 40).alias("g"),
        )
        .repartition(8)  # hash layout: every file's k-range ~ full domain
    )
    tbl.commit(df, bloom_by=["k", "u"], stats_by=["k"])
    # stats are useless here (every file covers ~[0, 20000)) ...
    s_files, s_total = tbl.pruned_files("k", 777, 777)
    assert len(s_files) == s_total == 8
    # ... the bloom prunes to ~1 file (fpp 1% over 8 files)
    b_files, b_total, indexed = tbl.bloom_pruned_files("k", 777)
    assert indexed and b_total == 8 and len(b_files) <= 2
    got = tbl.read_point(spark, "k", 777).filter("k = 777").collect()
    assert [(r["k"], r["u"]) for r in got] == [(777, "u777")]
    # string column probe
    assert tbl.read_point(spark, "u", "u19999").filter(
        "u = 'u19999'"
    ).count() == 1
    # absent key: every file prunes, empty result, schema intact
    absent = tbl.read_point(spark, "k", 10_000_000)
    assert absent.count() == 0 and absent.columns == ["k", "u", "g"]
    # non-indexed, non-stats column: no pruning, still correct
    _, _, idx_g = tbl.bloom_pruned_files("g", 5)
    assert not idx_g
    assert tbl.read_point(spark, "g", 5).filter("g = 5").count() == 500
    # unsupported probe type
    with pytest.raises(TypeError, match="integral and string"):
        tbl.bloom_pruned_files("k", 1.5)
    # merge-on-read: update moves a row's value; the point probe on the
    # NEW value prunes every base file yet must see the post-image
    tbl.update_where(spark, "k = 3", {"u": "'moved'"}, ["k"])
    r = tbl.read_point(spark, "u", "moved").filter("u = 'moved'").collect()
    assert [(x["k"], x["u"]) for x in r] == [(3, "moved")]
    # deleted keys must not resurrect
    tbl.delete_where(spark, "k = 777", ["k"])
    assert tbl.read_point(spark, "k", 777).filter("k = 777").count() == 0
    # compaction inherits the index property and re-indexes
    res = compact_table(spark, str(tmp_path / "t"), target_file_bytes=1 << 30)
    if res["compacted"]:
        e = tbl._log_entry(tbl.version())
        assert (e.get("bloom") or {}).get("cols") == ["k", "u"]
        assert tbl.read_point(spark, "k", 778).filter("k = 778").count() == 1


def test_bloom_index_no_false_negatives(spark, tmp_path):
    """Every committed key must be found through the pruned read — a
    bloom may keep too many files, never too few."""
    tbl = ManifestTable(str(tmp_path / "t"), retention_sec=3600)
    n = 3000
    df = spark.range(n).select(
        (F.col("id") * 2654435761 % 1000003).alias("k"),
        F.col("id").alias("pk"),
    ).repartition(6)
    tbl.commit(df, bloom_by=["k"])
    keys = [r["k"] for r in tbl.read(spark).select("k").distinct().collect()]
    expected = {}
    for r in tbl.read(spark).collect():
        expected.setdefault(r["k"], set()).add(r["pk"])
    import random

    rng = random.Random(7)
    for k in rng.sample(keys, 50):
        got = {
            r["pk"]
            for r in tbl.read_point(spark, "k", k)
            .filter(F.col("k") == k)
            .collect()
        }
        assert got == expected[k], f"key {k}: {got} != {expected[k]}"


def _sidecar_rows(snap):
    """The committed bloom sidecar of ``snap`` as sorted
    ``(file, col, m, k, n, bits)`` rows."""
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(snap, ManifestTable.BLOOM_DIR))
    cols = ("file", "col", "m", "k", "n", "bits")
    return sorted(zip(*(t.column(c).to_pylist() for c in cols)))


def _reference_sidecar(snap, cols, fpp=0.01):
    """The sidecar rows the probe expects, built without the kernel:
    each data file's distinct non-NULL keys through ``str()`` and the
    probe's own ``_bloom_positions``."""
    import pyarrow.parquet as pq

    from datapipeline_scraping_spark.sources.skipping import (
        _bloom_params,
        _bloom_positions,
        data_files,
    )

    rows = []
    for f in data_files(snap):
        pf = pq.ParquetFile(f)
        for c in cols:
            if c not in pf.schema_arrow.names:
                continue
            vals = {
                str(v)
                for v in pf.read(columns=[c]).column(c).to_pylist()
                if v is not None
            }
            if not vals:
                continue
            m, k = _bloom_params(len(vals), fpp)
            bits = bytearray(m // 8)
            for v in vals:
                for pos in _bloom_positions(v, m, k):
                    bits[pos >> 3] |= 1 << (pos & 7)
            rows.append(
                (os.path.relpath(f, snap), c, m, k, len(vals), bytes(bits))
            )
    return sorted(rows)


@pytest.mark.parametrize("in_process", [True, False], ids=["driver", "tasks"])
def test_bloom_sidecar_paths_write_the_reference_rows(
    spark, tmp_path, monkeypatch, in_process
):
    """Both bloom build paths, the driver-side one and one Spark task per
    file (forced by ``IN_PROCESS_ROWS = 0``), write exactly the rows
    the probe expects, through a hive-partitioned commit, an append and
    a compaction on a root with a space and a ``%``: NULL keys skipped,
    non-ASCII and empty strings hashed as UTF-8, and no row for a file
    whose indexed column is all NULL."""
    from datapipeline_scraping_spark.operators.txn import compact_table, stats

    if not in_process:
        monkeypatch.setattr(stats, "IN_PROCESS_ROWS", 0)
    cols = ["k", "s"]
    tbl = ManifestTable(str(tmp_path / "root with space%25"))

    def batch(lo, hi):
        return spark.createDataFrame(
            [
                (
                    i % 3,
                    None if i % 3 == 2 or i % 7 == 0 else i - 50,
                    [None, "", f"ñandú-{i}", f"日本{i % 5}"][i % 4],
                )
                for i in range(lo, hi)
            ],
            "p int, k long, s string",
        )

    tbl.commit(batch(0, 90).repartition(2), partition_by=["p"], bloom_by=cols)
    rows = _sidecar_rows(tbl.snapshot_path())
    assert not any("p=2" in r[0] and r[1] == "k" for r in rows)
    assert rows == _reference_sidecar(tbl.snapshot_path(), cols)
    tbl.append(batch(90, 120).coalesce(1))
    assert _sidecar_rows(tbl.snapshot_path()) == _reference_sidecar(
        tbl.snapshot_path(), cols
    )
    res = compact_table(spark, tbl.root, target_files=1, min_gain_files=-16)
    assert res["compacted"]
    assert _sidecar_rows(tbl.snapshot_path()) == _reference_sidecar(
        tbl.snapshot_path(), cols
    )
    kept, total, indexed = tbl.bloom_pruned_files("s", "ñandú-5")
    assert indexed and len(kept) < total


def test_small_bloom_build_starts_no_spark_job(spark, tmp_path):
    """A ``bloom_by`` commit under ``IN_PROCESS_ROWS`` builds its sidecar
    in the driver: it launches no more Spark jobs than the same commit
    without ``bloom_by``."""
    sc = spark.sparkContext
    df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(2000)], "pk long, v string"
    ).repartition(4)

    def jobs(name, **kw):
        group = f"bloom-jobs-{name}"
        sc.setJobGroup(group, group)
        try:
            ManifestTable(str(tmp_path / name)).commit(df, **kw)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    plain = jobs("plain")
    assert jobs("bloom", bloom_by=["pk", "v"]) <= plain


def test_non_utf8_bloom_key_commits_and_probes(spark, tmp_path):
    """A string key that is not valid UTF-8 is indexed by its raw bytes:
    the commit succeeds, and a ``str`` probe, which can never equal
    such a key, keeps the file that holds its match and no other."""
    tbl = ManifestTable(str(tmp_path / "t"))
    bad = spark.sql("SELECT CAST(X'C328' AS STRING) AS s, 1L AS id")
    tbl.commit(bad.coalesce(1), bloom_by=["s"])
    tbl.append(spark.sql("SELECT 'ok' AS s, 2L AS id").coalesce(1))
    assert tbl.read(spark).count() == 2
    kept, total, indexed = tbl.bloom_pruned_files("s", "ok")
    assert indexed and (len(kept), total) == (1, 2)
    assert spark.read.parquet(*kept).first()["s"] == "ok"


def test_failed_bloom_build_removes_the_staged_snapshot(
    spark, tmp_path, monkeypatch
):
    """``commit``'s post-write steps run inside the staging cleanup: a
    bloom build that raises leaves no ``snap-staging-*`` dir and no new
    version."""
    from datapipeline_scraping_spark.operators.txn import stats

    def boom(*_a, **_k):
        raise RuntimeError("bloom kernel failed")

    tbl = ManifestTable(str(tmp_path / "t"))
    tbl.commit(_df(spark, [(1, "a")]))
    monkeypatch.setattr(stats, "bloom_rows", boom)
    with pytest.raises(RuntimeError, match="bloom kernel failed"):
        tbl.commit(_df(spark, [(2, "b")]), bloom_by=["pk"])
    assert tbl.version() == 1
    assert not [d for d in os.listdir(tbl.root) if d.startswith("snap-staging-")]


def test_append_links_base_and_adds_rows(spark, tmp_path):
    """r10 append-commit: base files hardlink forward (zero copy),
    only the batch is written, readers see the union, time travel
    still pins the pre-append state."""
    tbl = ManifestTable(str(tmp_path / "t"), retention_sec=3600)
    base = _df(spark, [(i, f"v{i}") for i in range(1000)])
    tbl.append(base.repartition(2))  # empty root -> initial commit
    assert tbl.version() == 1
    snap1 = tbl.snapshot_path()
    inodes = {
        f: os.stat(os.path.join(snap1, f)).st_ino
        for f in os.listdir(snap1)
        if f.endswith(".parquet")
    }
    tbl.append(_df(spark, [(1000, "a"), (1001, "b")]).coalesce(1))
    assert tbl.version() == 2
    snap2 = tbl.snapshot_path()
    for f, ino in inodes.items():
        assert os.stat(os.path.join(snap2, f)).st_ino == ino
    assert tbl.read(spark).count() == 1002
    assert tbl.read(spark, version=1).count() == 1000
    got = tbl.read(spark).filter("pk >= 1000").orderBy("pk").collect()
    assert [(r["pk"], r["v"]) for r in got] == [(1000, "a"), (1001, "b")]
    # CAS guard
    with pytest.raises(ConcurrentWriteError):
        tbl.append(_df(spark, [(2000, "x")]), expect_version=1)


def test_append_carries_stats_bloom_and_cdf(spark, tmp_path):
    """Appends maintain every index incrementally: kept files' stats/
    bloom rows carry verbatim, new files are statted/indexed, and the
    change feed materializes the batch itself (insert-only)."""
    tbl = ManifestTable(str(tmp_path / "t"), retention_sec=3600)
    base = spark.range(5000).select(
        F.col("id").alias("pk"), (F.col("id") % 97).alias("g")
    )
    tbl.commit(
        base.repartitionByRange(4, "pk").sortWithinPartitions("pk"),
        stats_by=["pk"],
        bloom_by=["g"],
        cdf_keys=["pk"],
    )
    e1 = tbl._log_entry(1)
    tbl.append(
        spark.range(5000, 5200)
        .select(F.col("id").alias("pk"), (F.col("id") % 97).alias("g"))
        .coalesce(1)
    )
    e2 = tbl._log_entry(2)
    # carried stats rows are bit-identical; exactly the new file added
    for rel, st in (e1["file_stats"] or {}).items():
        assert e2["file_stats"][rel] == st
    new_rels = set(e2["file_stats"]) - set(e1["file_stats"])
    assert len(new_rels) == 1
    assert all(r.startswith("append-") for r in new_rels)
    # range pruning covers the appended range through the new file
    got = (
        tbl.read_range(spark, "pk", 5100, 5150)
        .filter("pk between 5100 and 5150")
        .count()
    )
    assert got == 51
    # bloom: the appended value is findable, property carried
    assert (e2.get("bloom") or {}).get("cols") == ["g"]
    assert tbl.read_point(spark, "g", 96).filter("g = 96").count() == (
        tbl.read(spark).filter("g = 96").count()
    )
    # CDF of the append is exactly the batch, insert-only
    feed = tbl.diff(spark, 1, 2, ["pk"])
    rows = feed.collect()
    assert len(rows) == 200 and all(
        r["_change_type"] == "insert" for r in rows
    )
    assert (e2.get("cdf") or {}).get("n_changes") == 200


def test_append_guards(spark, tmp_path):
    """CHECK constraints apply to the batch; merge-on-read key
    collisions refuse (the key-scoped _dv would suppress new rows);
    schema narrowing refuses."""
    from datapipeline_scraping_spark.operators.txn import (
        ConstraintViolationError,
        SchemaEvolutionError,
    )

    tbl = ManifestTable(str(tmp_path / "t"), retention_sec=3600)
    tbl.commit(
        _df(spark, [(i, f"v{i}") for i in range(100)]),
        check={"pk_nonneg": "pk >= 0"},
    )
    with pytest.raises(ConstraintViolationError):
        tbl.append(_df(spark, [(-5, "bad")]))
    assert tbl.version() == 1 and tbl.read(spark).count() == 100
    tbl.append(_df(spark, [(100, "ok")]))
    assert tbl.read(spark).count() == 101
    # narrowing refuses
    with pytest.raises(SchemaEvolutionError):
        tbl.append(
            spark.createDataFrame([(200, 1)], "pk long, v int")
        )
    # MoR collision refuses; disjoint keys also refuse only on hit
    tbl.delete_where(spark, "pk = 7", ["pk"])
    with pytest.raises(ValueError, match="merge-on-read"):
        tbl.append(_df(spark, [(7, "resurrect")]))


def test_append_partitioned_and_evolving(spark, tmp_path):
    """Appends respect hive partitioning (new files land in their
    partition dirs; new partition values create dirs) and schema
    evolution (old files null-fill the added column)."""
    tbl = ManifestTable(str(tmp_path / "t"), retention_sec=3600)
    df = spark.createDataFrame(
        [(i, f"d{i % 2}", i * 1.0) for i in range(100)],
        "k long, day string, x double",
    )
    tbl.commit(df, partition_by=["day"])
    tbl.append(
        spark.createDataFrame(
            [(100, "d2", 1.0, "new")], "k long, day string, x double, tag string"
        )
    )
    out = tbl.read(spark)
    assert set(out.columns) == {"k", "day", "x", "tag"}
    assert out.filter("day = 'd2'").count() == 1
    assert out.filter("tag is not null").count() == 1
    assert out.filter("k = 5").first()["tag"] is None
    assert out.count() == 101
    # partition dirs: base files untouched, new dir created
    snap = tbl.snapshot_path()
    assert os.path.isdir(os.path.join(snap, "day=d2"))


def test_compact_small_files_binpacks_incrementally(spark, tmp_path):
    """r10 bin-packing OPTIMIZE: only small files rewrite; big files
    keep their inodes; stats/bloom stay correct; MoR sidecars carry;
    content is preserved bit-for-bit."""
    from datapipeline_scraping_spark.operators.txn import (
        compact_small_files,
    )

    tbl = ManifestTable(str(tmp_path / "t"), retention_sec=3600)
    big = spark.range(20000).select(
        F.col("id").alias("pk"), F.concat(F.lit("v"), F.col("id")).alias("v")
    )
    tbl.commit(big.repartition(2), stats_by=["pk"], bloom_by=["pk"])
    for i in range(4):
        tbl.append(
            spark.range(20000 + i * 10, 20000 + (i + 1) * 10)
            .select(
                F.col("id").alias("pk"),
                F.concat(F.lit("n"), F.col("id")).alias("v"),
            )
            .coalesce(1)
        )
    tbl.update_where(spark, "pk = 3", {"v": "'updated'"}, ["pk"])
    snap = tbl.snapshot_path()
    big_inodes = {
        f: os.stat(os.path.join(snap, f)).st_ino
        for f in os.listdir(snap)
        if f.endswith(".parquet")
        and os.path.getsize(os.path.join(snap, f)) >= 50 * 1024
    }
    assert big_inodes  # the two base files qualify as big
    before = tbl.read(spark).orderBy("pk").collect()
    res = compact_small_files(
        spark,
        str(tmp_path / "t"),
        min_file_bytes=50 * 1024,
        target_file_bytes=1 << 30,
    )
    assert res["compacted"] and res["files_after"] < res["files_before"]
    assert res["files_rewritten"] == 4
    snap2 = tbl.snapshot_path()
    for f, ino in big_inodes.items():
        assert os.stat(os.path.join(snap2, f)).st_ino == ino
    after = tbl.read(spark).orderBy("pk").collect()
    assert before == after
    assert tbl.read(spark).filter("pk = 3").first()["v"] == "updated"
    # indexes still serve reads over the repacked layout
    assert tbl.read_point(spark, "pk", 20035).filter(
        "pk = 20035"
    ).count() == 1
    got = (
        tbl.read_range(spark, "pk", 20000, 20100)
        .filter("pk between 20000 and 20100")
        .count()
    )
    assert got == 40
    # idempotent: a second run no-ops
    res2 = compact_small_files(
        spark,
        str(tmp_path / "t"),
        min_file_bytes=50 * 1024,
        target_file_bytes=1 << 30,
    )
    assert not res2["compacted"]


# ---------------------------------------------------------------------------
# write-audit-publish (publish_from) — branch, audit gate, atomic publish
# ---------------------------------------------------------------------------

from datapipeline_scraping_spark.operators.txn import (  # noqa: E402
    AuditFailedError,
    PublishConflictError,
)


def _wap_pair(spark, tmp_path, name="m"):
    main = ManifestTable(str(tmp_path / name))
    main.commit(_df(spark, [(1, "a"), (2, "b")]))
    branch = main.clone_to(str(tmp_path / f"{name}_branch"))
    return main, branch


def test_publish_fast_path_adopts_by_hardlink(spark, tmp_path):
    main, branch = _wap_pair(spark, tmp_path)
    branch.append(_df(spark, [(3, "c"), (4, "d")]))
    rep = main.publish_from(spark, branch, keys=["pk"])
    assert rep["path"] == "fast" and rep["published"]
    assert rep["inserted"] == 2 and rep["updated"] == 0 and rep["deleted"] == 0
    assert main.version() == 2
    got = {r["pk"]: r["v"] for r in main.read(spark).collect()}
    assert got == {1: "a", 2: "b", 3: "c", 4: "d"}
    # zero data movement: every data file in main's new snapshot is a
    # hardlink (nlink >= 2) shared with the branch snapshot
    snap = main.snapshot_path()
    links = [
        os.stat(os.path.join(dp, f)).st_nlink
        for dp, _, fs in os.walk(snap)
        for f in fs
        if f.endswith(".parquet")
    ]
    assert links and all(n >= 2 for n in links)
    # provenance rides the commit atomically
    assert main.commit_meta(2)["publish_of"]["root"] == branch.root


def test_publish_rebase_when_main_advanced(spark, tmp_path):
    main, branch = _wap_pair(spark, tmp_path)
    branch.append(_df(spark, [(3, "c")]))
    main.append(_df(spark, [(9, "z")]))  # concurrent, disjoint keys
    rep = main.publish_from(spark, branch, keys=["pk"])
    assert rep["path"] == "rebase" and rep["conflicts"] == 0
    got = {r["pk"]: r["v"] for r in main.read(spark).collect()}
    assert got == {1: "a", 2: "b", 3: "c", 9: "z"}


def test_publish_conflict_raises_then_ours_wins(spark, tmp_path):
    main, branch = _wap_pair(spark, tmp_path)
    branch.commit(_df(spark, [(1, "branch"), (2, "b")]))  # update pk=1
    main.commit(_df(spark, [(1, "main"), (2, "b")]))  # update pk=1 too
    with pytest.raises(PublishConflictError):
        main.publish_from(spark, branch, keys=["pk"])
    rep = main.publish_from(spark, branch, keys=["pk"], on_conflict="ours")
    assert rep["path"] == "rebase" and rep["conflicts"] >= 1
    got = {r["pk"]: r["v"] for r in main.read(spark).collect()}
    assert got == {1: "branch", 2: "b"}


def test_publish_audit_gate_rejects_then_fixed_batch_lands(spark, tmp_path):
    main, branch = _wap_pair(spark, tmp_path)
    branch.append(_df(spark, [(3, None), (4, "d")]))  # bad row: NULL v
    with pytest.raises(AuditFailedError):
        main.publish_from(
            spark, branch, keys=["pk"], audit={"v_set": "v IS NOT NULL"}
        )
    assert main.version() == 1  # nothing published
    # fix ON THE BRANCH, re-publish: the squashed diff carries only
    # the corrected rows
    branch.update_where(
        spark, F.col("pk") == 3, {"v": F.lit("c")}, key_cols=["pk"]
    )
    rep = main.publish_from(
        spark, branch, keys=["pk"], audit={"v_set": "v IS NOT NULL"}
    )
    assert rep["published"]
    got = {r["pk"]: r["v"] for r in main.read(spark).collect()}
    assert got == {1: "a", 2: "b", 3: "c", 4: "d"}


def test_publish_propagates_branch_deletes(spark, tmp_path):
    main, branch = _wap_pair(spark, tmp_path)
    branch.delete_where(spark, F.col("pk") == 1, key_cols=["pk"])
    rep = main.publish_from(spark, branch, keys=["pk"])
    assert rep["deleted"] == 1 and rep["published"]
    got = {r["pk"]: r["v"] for r in main.read(spark).collect()}
    assert got == {2: "b"}


def test_publish_rejects_foreign_table_and_noops_untouched_branch(
    spark, tmp_path
):
    main, branch = _wap_pair(spark, tmp_path)
    stranger = ManifestTable(str(tmp_path / "s"))
    stranger.commit(_df(spark, [(7, "x")]))
    with pytest.raises(ValueError):
        main.publish_from(spark, stranger, keys=["pk"])
    rep = main.publish_from(spark, branch, keys=["pk"])  # no branch commits
    assert rep["path"] == "noop" and not rep["published"]
    assert main.version() == 1


@pytest.mark.slow  # r17 tiering: measured 10s; full (evidence) tier only
def test_publish_with_live_cdf_takes_rebase_and_feeds_changes(
    spark, tmp_path
):
    main = ManifestTable(str(tmp_path / "m"))
    main.commit(_df(spark, [(1, "a")]), cdf_keys=["pk"])
    branch = main.clone_to(str(tmp_path / "mb"))
    branch.append(_df(spark, [(2, "b")]))
    rep = main.publish_from(spark, branch, keys=["pk"])
    # CDF property makes the adopt path ineligible: the publish must
    # materialize its change rows like any commit
    assert rep["path"] == "rebase" and rep["published"]
    feed = main.diff(spark, 1, main.version(), ["pk"]).collect()
    assert {(r["pk"], r["_change_type"]) for r in feed} == {(2, "insert")}


# ---------------------------------------------------------------------------
# clustered (bucket-layout) commits — shuffle-free joins through the ledger
# ---------------------------------------------------------------------------


def test_commit_clustered_join_plans_without_exchange(spark, tmp_path):
    a = ManifestTable(str(tmp_path / "a"))
    b = ManifestTable(str(tmp_path / "b"))
    left = spark.range(0, 2000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("x")
    )
    right = spark.range(0, 2000, 2).select(
        F.col("id").alias("k"), (F.col("id") + 1).alias("y")
    )
    a.commit_clustered(left, "k", 4)
    b.commit_clustered(right, "k", 4)
    l, r = a.read_clustered(spark), b.read_clustered(spark)
    joined = l.hint("merge").join(r, "k")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan, plan[:1500]
    assert joined.count() == 1000


def test_read_clustered_filter_prunes_buckets(spark, tmp_path):
    """r13 (VERDICT r12 item 3): an equality filter on the bucket
    column through read_clustered prunes to ONE bucket's files.
    Spark's DisableUnnecessaryBucketedScan would silently drop the
    bucket layout (and the prune) for pure filter queries — the
    engine conf keeps scans bucketed, and this test pins
    SelectedBucketsCount so a conf or Spark-behavior change fails
    loudly instead of quietly scanning every bucket."""
    from datapipeline_scraping_spark.session import prepare

    prepare(spark)
    t = ManifestTable(str(tmp_path / "bp"))
    df = spark.range(10000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    t.commit_clustered(df, "k", 8)
    q = t.read_clustered(spark).filter(F.col("k") == 1234)
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "SelectedBucketsCount: 1 out of 8" in plan, plan[:1500]
    assert q.count() == 1


def test_commit_clustered_versions_pin_and_cas(spark, tmp_path):
    t = ManifestTable(str(tmp_path / "t"))
    df1 = spark.range(0, 100).select(F.col("id").alias("k"))
    df2 = spark.range(0, 50).select(F.col("id").alias("k"))
    v1 = t.commit_clustered(df1, "k", 4)
    v2 = t.commit_clustered(df2, "k", 4, expect_version=v1)
    assert (v1, v2) == (1, 2)
    with pytest.raises(ConcurrentWriteError):
        t.commit_clustered(df2, "k", 4, expect_version=v1)
    # version-pinned catalog adoption: each retained version reads its
    # own row set through its own catalog entry
    assert t.read_clustered(spark, version=v1).count() == 100
    assert t.read_clustered(spark, version=v2).count() == 50
    # plain read() still works on a clustered snapshot
    assert t.read(spark).count() == 50


def test_commit_clustered_refuses_governed_tables(spark, tmp_path):
    t = ManifestTable(str(tmp_path / "t"))
    df = spark.range(0, 10).select(F.col("id").alias("k"))
    t.commit(df, cdf_keys=["k"])
    with pytest.raises(ValueError):
        t.commit_clustered(df, "k", 2)


# ---------------------------------------------------------------------------
# round-11 regressions: group-commit recovery races (ADVICE r10 medium),
# group partition/schema inheritance, branch lifecycle, clustered-catalog
# GC, compaction × clustered guards, publish conflict reporting
# ---------------------------------------------------------------------------


def _fake_group_state(spark, tmp_path, swap_first=False):
    """Build the crash state of a 2-table group commit by hand: both
    members have their version-2 log entry + snapshot dir + the group
    intent file, but (unless ``swap_first``) neither pointer moved —
    exactly a crash between _write_log and the pointer swaps."""
    import json as _json

    from datapipeline_scraping_spark.operators.txn import GROUP_INTENT

    a = ManifestTable(str(tmp_path / "ga"))
    b = ManifestTable(str(tmp_path / "gb"))
    a.commit(_df(spark, [(1, "a1")]))
    b.commit(_df(spark, [(1, "b1")]))
    members = []
    for t, tag in ((a, "a"), (b, "b")):
        snap = f"snap-{2:06d}-deadbeef"
        _df(spark, [(2, f"{tag}2")]).write.mode("overwrite").parquet(
            os.path.join(t.root, snap)
        )
        t._write_log(2, snap, [], _df(spark, [(2, "x")]).schema.json())
        members.append({"root": t.root, "version": 2, "snapshot": snap})
    intent = {"gid": "cafebabe", "members": members}
    for t in (a, b):
        with open(os.path.join(t.root, GROUP_INTENT), "w") as fh:
            _json.dump(intent, fh)
    if swap_first:
        m = members[0]
        with open(os.path.join(a.root, a.POINTER), "w") as fh:
            fh.write(f"{m['snapshot']}\n2\n")
    return a, b, members


@pytest.mark.slow  # r17 tiering: measured 11s; full (evidence) tier only
def test_recover_group_rolls_forward_after_first_swap(spark, tmp_path):
    from datapipeline_scraping_spark.operators.txn import recover_group

    a, b, members = _fake_group_state(spark, tmp_path, swap_first=True)
    assert recover_group(b.root)
    assert a.version() == 2 and b.version() == 2
    assert {r["v"] for r in b.read(spark).collect()} == {"b2"}


@pytest.mark.slow  # r17 tiering: measured 10s; full (evidence) tier only
def test_recover_group_version_reuse_is_not_swap_proof(spark, tmp_path):
    """ADVICE r10 (medium): an INDEPENDENT writer committing version 2
    on member A after stale-lock expiry must not convince recovery
    that the group swapped — the old ptr[1] >= version heuristic would
    publish member B's never-committed snapshot (torn group) and could
    clobber A's pointer."""
    import json as _json

    from datapipeline_scraping_spark.operators.txn import (
        GROUP_INTENT,
        recover_group,
    )

    a, b, members = _fake_group_state(spark, tmp_path)
    # independent single-table writer lands ITS OWN version 2 on A
    # (commit() settles the pending intent first — also under test)
    a.commit(_df(spark, [(9, "independent")]))
    assert a.version() == 2
    assert {r["v"] for r in a.read(spark).collect()} == {"independent"}
    # the never-swapped group must have been dead-lettered: B untouched
    assert b.version() == 1
    assert not os.path.exists(os.path.join(a.root, GROUP_INTENT))
    assert not os.path.exists(os.path.join(b.root, GROUP_INTENT))
    # simulate an old-binary writer that did NOT settle the intent:
    # re-drop the intent files and run recovery — snapshot-name
    # identity must reject A's reused version number as swap proof
    intent = {"gid": "cafebabe", "members": members}
    for t in (a, b):
        with open(os.path.join(t.root, GROUP_INTENT), "w") as fh:
            _json.dump(intent, fh)
    assert recover_group(a.root)
    assert b.version() == 1, "torn group published by version-reuse"
    assert {r["v"] for r in a.read(spark).collect()} == {"independent"}, (
        "recovery clobbered the independent writer's pointer"
    )


def test_group_commit_append_members_advance_atomically(spark, tmp_path):
    """r12 (VERDICT r11 item 4): a corpus + derived-index pair can
    advance atomically per ingest batch — the corpus member is an
    ADD-FILE append (base hardlinks forward, inode-asserted O(batch)),
    the index member a full-state commit, both visible together."""
    from datapipeline_scraping_spark.operators.txn import TransactionGroup

    corpus = ManifestTable(str(tmp_path / "corpus"))
    index = ManifestTable(str(tmp_path / "index"))
    corpus.commit(
        spark.range(0, 100).selectExpr("id as pk", "id % 7 as grp")
    )
    index.commit(
        spark.range(0, 100)
        .selectExpr("id % 7 as grp")
        .groupBy("grp")
        .count()
    )
    snap = corpus.snapshot_path()
    inodes = {
        f: os.stat(os.path.join(snap, f)).st_ino
        for f in os.listdir(snap)
        if f.endswith(".parquet")
    }
    grp = TransactionGroup(corpus, index)
    batch = spark.range(100, 150).selectExpr("id as pk", "id % 7 as grp")
    new_index = (
        spark.range(0, 150).selectExpr("id % 7 as grp").groupBy("grp").count()
    )
    vers = grp.commit(
        {corpus.root: ("append", batch), index.root: new_index}
    )
    assert vers == {corpus.root: 2, index.root: 2}
    assert corpus.read(spark).count() == 150
    got = {r["grp"]: r["count"] for r in index.read(spark).collect()}
    assert got == {g: (150 + 6 - g) // 7 for g in range(7)}
    # the corpus base files carried by inode — O(batch), no rewrite
    snap2 = corpus.snapshot_path()
    assert all(
        os.stat(os.path.join(snap2, f)).st_ino == i
        for f, i in inodes.items()
    ), "group append rewrote a corpus base file"
    # both entries carry the same gid
    g1 = (corpus._log_entry(2) or {}).get("meta", {}).get("txn", {})
    g2 = (index._log_entry(2) or {}).get("meta", {}).get("txn", {})
    assert g1.get("gid") and g1["gid"] == g2.get("gid")


def test_group_commit_clustered_append_member(spark, tmp_path):
    """A clustered fact + its bucketed twin advance per batch in one
    group; the appended version keeps the bucket layout and joins
    exchange-free."""
    from datapipeline_scraping_spark.operators.txn import TransactionGroup

    fact = ManifestTable(str(tmp_path / "cfact"))
    dim = ManifestTable(str(tmp_path / "cdim"))
    fact.commit_clustered(
        spark.range(0, 200).selectExpr("id as pk", "id * 2 as v"), "pk", 4
    )
    dim.commit(
        spark.range(0, 300).selectExpr("id % 5 as grp").groupBy("grp").count()
    )
    grp = TransactionGroup(fact, dim)
    vers = grp.commit(
        {
            fact.root: (
                "append_clustered",
                spark.range(200, 300).selectExpr("id as pk", "id * 2 as v"),
            ),
            dim.root: spark.range(0, 400)
            .selectExpr("id % 5 as grp")
            .groupBy("grp")
            .count(),
        }
    )
    assert vers[fact.root] == 2 and vers[dim.root] == 2
    e = fact._log_entry(2) or {}
    assert e.get("bucket"), "group clustered append dropped the layout"
    assert fact.read_clustered(spark).count() == 300
    with pytest.raises(ValueError, match="unknown group member op"):
        grp.commit(
            {
                fact.root: ("upsert", spark.range(1).selectExpr("id as pk")),
                dim.root: dim.read(spark),
            }
        )


def test_group_append_member_implicit_cas_aborts_whole_group(
    spark, tmp_path, monkeypatch
):
    """An interleaved writer advancing an append member between the
    group's staging and its locks must abort the WHOLE group (the
    staged snapshot embeds the stale base) — nothing becomes
    visible."""
    import datapipeline_scraping_spark.operators.txn as txn_mod
    from datapipeline_scraping_spark.operators.txn import TransactionGroup

    corpus = ManifestTable(str(tmp_path / "c2"))
    index = ManifestTable(str(tmp_path / "i2"))
    corpus.commit(spark.range(0, 50).selectExpr("id as pk"))
    index.commit(spark.range(0, 5).selectExpr("id as grp"))
    grp = TransactionGroup(corpus, index)

    orig = txn_mod.ManifestTable._stage_append_parts
    raced = {"done": False}

    def race_then_stage(self, *a, **kw):
        out = orig(self, *a, **kw)
        if not raced["done"]:
            raced["done"] = True
            # interleaved single-table append lands AFTER staging,
            # BEFORE the group takes the locks
            ManifestTable(self.root).append(
                self_df := spark.range(900, 910).selectExpr("id as pk")
            )
            del self_df
        return out

    monkeypatch.setattr(
        txn_mod.ManifestTable, "_stage_append_parts", race_then_stage
    )
    with pytest.raises(ConcurrentWriteError, match="whole group"):
        grp.commit(
            {
                corpus.root: (
                    "append",
                    spark.range(50, 60).selectExpr("id as pk"),
                ),
                index.root: spark.range(0, 6).selectExpr("id as grp"),
            }
        )
    # the interleaved writer's state is intact; the group left nothing
    assert corpus.version() == 2  # base + interleaved append
    assert corpus.read(spark).count() == 60
    assert index.version() == 1


def test_group_append_crash_after_first_swap_rolls_forward(
    spark, tmp_path, monkeypatch
):
    """A group with an append-shaped member that crashes between its
    first and second pointer swaps must roll FORWARD on recovery —
    the append member's hardlinked-base snapshot becomes visible on
    both tables, never a torn pair."""
    import datapipeline_scraping_spark.operators.txn as txn_mod
    from datapipeline_scraping_spark.operators.txn import (
        TransactionGroup,
        recover_group,
    )

    corpus = ManifestTable(str(tmp_path / "c3"))
    index = ManifestTable(str(tmp_path / "i3"))
    corpus.commit(spark.range(0, 40).selectExpr("id as pk"))
    index.commit(spark.range(0, 4).selectExpr("id as grp"))
    grp = TransactionGroup(corpus, index)

    orig_replace = txn_mod.os.replace
    state = {"swaps": 0}

    def crash_second_swap(src, dst):
        if os.path.basename(dst) == ManifestTable.POINTER:
            state["swaps"] += 1
            if state["swaps"] == 2:
                raise OSError("injected crash between pointer swaps")
        return orig_replace(src, dst)

    monkeypatch.setattr(txn_mod.os, "replace", crash_second_swap)
    with pytest.raises(OSError, match="injected"):
        grp.commit(
            {
                corpus.root: (
                    "append",
                    spark.range(40, 70).selectExpr("id as pk"),
                ),
                index.root: spark.range(0, 7).selectExpr("id as grp"),
            }
        )
    monkeypatch.setattr(txn_mod.os, "replace", orig_replace)
    # torn mid-swap: exactly one member advanced; intents remain
    swapped = sorted(t.version() for t in (corpus, index))
    assert swapped == [1, 2], swapped
    assert recover_group(corpus.root)
    assert corpus.version() == 2 and index.version() == 2
    assert corpus.read(spark).count() == 70
    assert index.read(spark).count() == 7


def test_recover_group_waits_for_live_group_not_dead_letter(
    spark, tmp_path
):
    """ADVICE r11 (medium): a LIVE group sits between dropping its
    intent files (step 5) and its first pointer swap (step 6) while
    holding every member's commit lock. A concurrent recover_group
    must BLOCK on the member's lock until the group settles — not
    unlink the intents, which would leave a subsequent mid-swap crash
    with no roll-forward record."""
    import threading

    from datapipeline_scraping_spark.operators.txn import (
        GROUP_INTENT,
        recover_group,
    )

    a, b, members = _fake_group_state(spark, tmp_path)
    # the "live group" holds member A's commit lock (step 2..7)
    a._acquire_lock()
    racer_done = threading.Event()
    result: list = []

    def racer():
        result.append(recover_group(a.root))
        racer_done.set()

    t = threading.Thread(target=racer, daemon=True)
    t.start()
    # the racer must be blocked on A's lock: the intent files survive
    assert not racer_done.wait(0.8), "recover_group did not block"
    assert os.path.exists(os.path.join(a.root, GROUP_INTENT))
    assert os.path.exists(os.path.join(b.root, GROUP_INTENT))
    # the group now swaps its pointers (step 6) and settles (step 7)
    for tbl, m in ((a, members[0]), (b, members[1])):
        with open(os.path.join(tbl.root, tbl.POINTER), "w") as fh:
            fh.write(f"{m['snapshot']}\n2\n")
    for tbl in (a, b):
        os.unlink(os.path.join(tbl.root, GROUP_INTENT))
    a._release_lock()
    assert racer_done.wait(10), "recover_group never returned"
    t.join()
    # the group's commit survived intact — nothing was dead-lettered
    assert a.version() == 2 and b.version() == 2
    assert {r["v"] for r in b.read(spark).collect()} == {"b2"}


def test_recover_group_spares_foreign_gid_intent(spark, tmp_path):
    """Dead-letter removal matches by gid: if a DIFFERENT group over an
    overlapping member set dropped its own intent at a shared member
    meanwhile, sweeping the crashed group's intents must not unlink
    the live group's file."""
    import json as _json

    from datapipeline_scraping_spark.operators.txn import (
        GROUP_INTENT,
        recover_group,
    )

    a, b, members = _fake_group_state(spark, tmp_path)
    # another group (gid=feedface) replaces B's intent with its own
    foreign = {
        "gid": "feedface",
        "members": [dict(members[1], root=b.root)],
    }
    with open(os.path.join(b.root, GROUP_INTENT), "w") as fh:
        _json.dump(foreign, fh)
    assert recover_group(a.root)
    assert not os.path.exists(os.path.join(a.root, GROUP_INTENT)), (
        "own dead-letter intent not removed"
    )
    with open(os.path.join(b.root, GROUP_INTENT)) as fh:
        assert _json.load(fh)["gid"] == "feedface", (
            "foreign group's intent was dead-lettered"
        )


def test_group_commit_inherits_partitioning_and_validates_schema(
    spark, tmp_path
):
    from datapipeline_scraping_spark.operators.txn import (
        SchemaEvolutionError,
        TransactionGroup,
    )

    a = ManifestTable(str(tmp_path / "ga"))
    b = ManifestTable(str(tmp_path / "gb"))
    part = spark.createDataFrame(
        [(1, "x", "p1"), (2, "y", "p2")], "pk long, v string, part string"
    )
    a.commit(part, partition_by=["part"])
    b.commit(_df(spark, [(1, "b1")]))
    grp = TransactionGroup(a, b)
    grp.commit(
        {
            a.root: spark.createDataFrame(
                [(3, "z", "p1")], "pk long, v string, part string"
            ),
            b.root: _df(spark, [(2, "b2")]),
        }
    )
    # member A must STILL be hive-partitioned (ADVICE r10: group commit
    # silently unpartitioned members)
    e = a._log_entry(a.version())
    assert e["partition_by"] == ["part"]
    assert any(
        d.startswith("part=") for d in os.listdir(a.snapshot_path())
    ), "group commit lost the hive layout"
    # schema narrowing must raise, not silently re-schema the member
    with pytest.raises(SchemaEvolutionError):
        grp.commit(
            {
                a.root: spark.createDataFrame(
                    [("not-a-long", "z", "p1")],
                    "pk string, v string, part string",
                ),
                b.root: _df(spark, [(3, "b3")]),
            }
        )
    # widening/evolution: a new column lands, missing columns null-fill
    grp.commit(
        {
            a.root: spark.createDataFrame(
                [(4, "w", "p2", 7.5)],
                "pk long, v string, part string, score double",
            ),
            b.root: _df(spark, [(4, "b4")]),
        }
    )
    assert "score" in a.read(spark).columns


def test_publish_reports_exact_conflict_count(spark, tmp_path):
    main, branch = _wap_pair(spark, tmp_path)
    rows = [(i, f"b{i}") for i in range(1, 9)]
    branch.commit(_df(spark, rows))  # touches keys 1..8
    main.commit(_df(spark, [(i, f"m{i}") for i in range(1, 9)]))  # same keys
    rep = main.publish_from(
        spark, branch, keys=["pk"], on_conflict="ours"
    )
    # ADVICE r10 (low): the old limit(4) sample capped this at 4
    assert rep["conflicts"] == 8, rep
    got = {r["pk"]: r["v"] for r in main.read(spark).collect()}
    assert got == dict(rows)


def test_publish_drop_branch_reclaims_root_and_keeps_data(spark, tmp_path):
    main, branch = _wap_pair(spark, tmp_path)
    branch.append(_df(spark, [(3, "c")]))
    rep = main.publish_from(
        spark, branch, keys=["pk"], drop_branch=True
    )
    assert rep["path"] == "fast" and rep["branch_dropped"]
    assert not os.path.isdir(branch.root), "branch root leaked"
    # the adopted (hardlinked) snapshot survives the branch drop
    got = {r["pk"]: r["v"] for r in main.read(spark).collect()}
    assert got == {1: "a", 2: "b", 3: "c"}
    # failed audit leaves the branch intact for fix + re-publish
    main2, branch2 = _wap_pair(spark, tmp_path, name="m2")
    branch2.append(_df(spark, [(7, "bad")]))
    from datapipeline_scraping_spark.operators.txn import AuditFailedError

    with pytest.raises(AuditFailedError):
        main2.publish_from(
            spark, branch2, keys=["pk"],
            audit={"no7": "pk <> 7"}, drop_branch=True,
        )
    assert os.path.isdir(branch2.root), "audit failure must keep the branch"


def test_clustered_catalog_entry_gc_and_recreated_root(spark, tmp_path):
    from datapipeline_scraping_spark.operators.txn import SnapshotExpiredError

    root = str(tmp_path / "clus")
    tbl = ManifestTable(root, retention_sec=0)
    df1 = _df(spark, [(1, "a"), (2, "b")])
    tbl.commit_clustered(df1, "pk", 4)
    tbl.read_clustered(spark)  # adopt v1
    name_v1 = f"dps_manifest.mt_{tbl._catalog_tag()}_v1"
    assert spark.catalog.tableExists(name_v1)
    # advance twice with keep=1 so v1's snapshot is GC'd
    tbl.commit_clustered(_df(spark, [(3, "c")]), "pk", 4, keep_snapshots=1)
    tbl.read_clustered(spark)
    tbl.commit_clustered(_df(spark, [(4, "d")]), "pk", 4, keep_snapshots=1)
    tbl.read_clustered(spark)
    assert not spark.catalog.tableExists(name_v1), (
        "GC left a dangling catalog entry for the vacuumed version"
    )
    with pytest.raises((SnapshotExpiredError, FileNotFoundError)):
        tbl.read_clustered(spark, version=1)
    # recreated root at the same path: versions restart at 1 — the
    # stale v1 entry (if any) must not serve the OLD location/schema
    import shutil as _sh

    _sh.rmtree(root)
    tbl2 = ManifestTable(root, retention_sec=0)
    tbl2.commit_clustered(
        spark.createDataFrame([(10, "zz", 1.0)], "pk long, v string, w double"),
        "pk",
        4,
    )
    got = tbl2.read_clustered(spark)
    assert set(got.columns) == {"pk", "v", "w"}
    assert got.count() == 1


def test_clustered_snapshots_refuse_append_and_compaction(spark, tmp_path):
    from datapipeline_scraping_spark.operators.txn import (
        compact_small_files,
        compact_table,
    )

    root = str(tmp_path / "clus2")
    tbl = ManifestTable(root)
    tbl.commit_clustered(_df(spark, [(1, "a"), (2, "b")]), "pk", 4)
    with pytest.raises(ValueError, match="CLUSTERED"):
        tbl.append(_df(spark, [(3, "c")]))
    with pytest.raises(ValueError, match="CLUSTERED"):
        compact_small_files(spark, root, min_file_bytes=1 << 30)
    with pytest.raises(ValueError, match="CLUSTERED"):
        compact_table(spark, root)
    # the layout survived every refusal: still exchange-free joinable
    got = tbl.read_clustered(spark)
    assert got.count() == 2


def test_commit_clustered_guard_rechecks_inside_lock(spark, tmp_path):
    """ADVICE r10 (low) TOCTOU: checks enabled between the pre-lock
    guard and the lock must abort the clustered commit."""
    root = str(tmp_path / "clus3")
    base = ManifestTable(root)
    base.commit(_df(spark, [(1, "a")]))

    class Hooked(ManifestTable):
        def _acquire_lock(self, timeout: float = 30.0) -> None:
            if not getattr(self, "_fired", False):
                self._fired = True
                ManifestTable(self.root).commit(
                    _df(spark, [(1, "a")]), check={"pos": "pk >= 0"}
                )
            super()._acquire_lock(timeout)

    hooked = Hooked(root)
    with pytest.raises(ValueError, match="concurrent commit enabled"):
        hooked.commit_clustered(_df(spark, [(2, "b")]), "pk", 4)
    # staged dir cleaned, table still the concurrent writer's state
    assert not any(
        e.startswith("snap-staging-") for e in os.listdir(root)
    )
    assert (ManifestTable(root)._log_entry(2) or {}).get("checks")


# ---------------------------------------------------------------------------
# round-11: bucket-preserving clustered append + per-bucket compaction +
# clustered exactly-once epoch sink
# ---------------------------------------------------------------------------


def _clustered_pair(spark, tmp_path):
    t = ManifestTable(str(tmp_path / "cl_fact"))
    t.commit_clustered(
        spark.range(0, 400).selectExpr("id as pk", "id * 2 as v"), "pk", 4
    )
    d = ManifestTable(str(tmp_path / "cl_dim"))
    d.commit_clustered(
        spark.range(0, 600).selectExpr("id as ok", "id % 7 as grp"), "ok", 4
    )
    return t, d


def test_append_clustered_preserves_layout_and_join(spark, tmp_path):
    from datapipeline_scraping_spark.operators.txn import (
        SchemaEvolutionError,
    )

    t, d = _clustered_pair(spark, tmp_path)
    snap = t.snapshot_path()
    inodes = {
        f: os.stat(os.path.join(snap, f)).st_ino
        for f in os.listdir(snap)
        if f.endswith(".parquet")
    }
    t.append_clustered(
        spark.range(400, 500).selectExpr("id as pk", "id * 2 as v")
    )
    t.append_clustered(
        spark.range(500, 550).selectExpr("id as pk", "id * 2 as v")
    )
    snap2 = t.snapshot_path()
    # zero-rewrite: every base file carried by inode
    assert all(
        os.stat(os.path.join(snap2, f)).st_ino == i
        for f, i in inodes.items()
    )
    assert t.read_clustered(spark).count() == 550
    # time travel: the pre-append version still reads clustered
    assert t.read_clustered(spark, version=1).count() == 400
    # the join stays exchange-free across appended versions
    l, r = t.read_clustered(spark), d.read_clustered(spark)
    j = l.hint("merge").join(r, l.pk == r.ok).groupBy("grp").count()
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan and plan.count("Exchange") == 1, plan[:1500]
    # contract guards: schema must match verbatim; base must be clustered
    with pytest.raises(SchemaEvolutionError):
        t.append_clustered(spark.range(5).selectExpr("id as pk"))
    plain = ManifestTable(str(tmp_path / "plain"))
    plain.commit(_df(spark, [(1, "a")]))
    with pytest.raises(ValueError, match="not a clustered"):
        plain.append_clustered(_df(spark, [(2, "b")]))


def test_compact_clustered_repacks_only_multifile_buckets(spark, tmp_path):
    from datapipeline_scraping_spark.operators.txn import (
        _bucket_id,
        compact_clustered,
    )

    t, _ = _clustered_pair(spark, tmp_path)
    # two appends hitting ONLY buckets of pk%4==1 rows' hash targets
    # would be fiddly; instead append broadly, then verify per-bucket
    # single-file restoration + untouched-bucket inode preservation
    t.append_clustered(
        spark.range(400, 480).selectExpr("id as pk", "id * 2 as v")
    )
    snap = t.snapshot_path()
    by_bucket: dict[int, list[str]] = {}
    for f in os.listdir(snap):
        if f.endswith(".parquet"):
            by_bucket.setdefault(_bucket_id(f), []).append(f)
    singles = {
        fs[0]: os.stat(os.path.join(snap, fs[0])).st_ino
        for fs in by_bucket.values()
        if len(fs) == 1
    }
    res = compact_clustered(spark, t.root)
    assert res["compacted"] and res["buckets_repacked"] >= 1
    snap2 = t.snapshot_path()
    by_bucket2: dict[int, list[str]] = {}
    for f in os.listdir(snap2):
        if f.endswith(".parquet"):
            by_bucket2.setdefault(_bucket_id(f), []).append(f)
    assert all(len(fs) == 1 for fs in by_bucket2.values()), by_bucket2
    for f, ino in singles.items():
        assert os.stat(os.path.join(snap2, f)).st_ino == ino, (
            "compact_clustered rewrote a single-file bucket"
        )
    # content preserved, still clustered-readable, second run no-ops
    got = {r["pk"]: r["v"] for r in t.read_clustered(spark).collect()}
    assert got == {i: i * 2 for i in range(480)}
    assert not compact_clustered(spark, t.root)["compacted"]
    # refuses non-clustered tables
    plain = ManifestTable(str(tmp_path / "plain2"))
    plain.commit(_df(spark, [(1, "a")]))
    with pytest.raises(ValueError, match="not a clustered"):
        compact_clustered(spark, plain.root)


def test_clustered_mor_delete_keeps_exchange_free_join(spark, tmp_path):
    """r12 (VERDICT r11 item 1): merge-on-read DELETE on a CLUSTERED
    snapshot — zero data-file rewrites (inode-asserted), the bucket
    spec carries forward, read_clustered applies the DV as a FORCED
    broadcast anti-join after the bucketed scan, and a clustered join
    over the deleted state still plans with NO exchange on the join
    inputs."""
    t, d = _clustered_pair(spark, tmp_path)
    snap = t.snapshot_path()
    inodes = {
        f: os.stat(os.path.join(snap, f)).st_ino
        for f in os.listdir(snap)
        if f.endswith(".parquet")
    }
    v = t.delete_where(spark, F.col("pk") % 5 == 0, key_cols=["pk"])
    assert v == 2 and (t._log_entry(2) or {}).get("bucket")
    assert (t._log_entry(2) or {}).get("dv", {}).get("n_keys") == 80
    snap2 = t.snapshot_path()
    assert all(
        os.stat(os.path.join(snap2, f)).st_ino == i
        for f, i in inodes.items()
    ), "clustered DELETE rewrote a data file"
    got = {r["pk"] for r in t.read_clustered(spark).collect()}
    assert got == {i for i in range(400) if i % 5}
    # plain read() agrees (both DV-aware)
    assert t.read(spark).count() == 320
    # time travel: pre-delete version unaffected
    assert t.read_clustered(spark, version=1).count() == 400
    # the clustered join over the deleted state is still exchange-free
    # on the join inputs: the DV applies as a broadcast anti-join (a
    # post-scan filter), so the only SHUFFLE exchange is the group-by's
    l, r = t.read_clustered(spark), d.read_clustered(spark)
    j = l.hint("merge").join(r, l.pk == r.ok).groupBy("grp").count()
    plan = j._jdf.queryExecution().executedPlan().toString()
    shuffles = plan.count("Exchange") - plan.count("BroadcastExchange")
    assert "SortMergeJoin" in plan and shuffles == 1, plan[:1500]
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan[:1500]


def test_clustered_mor_update_then_compact_folds_sidecars(spark, tmp_path):
    """r12: UPDATE on a clustered snapshot lands DV + _upd sidecars;
    reads see post-images everywhere; compact_clustered materializes
    the sidecars into exactly the affected buckets (others carry by
    inode) and the folded state joins exchange-free again."""
    from datapipeline_scraping_spark.operators.txn import (
        _bucket_id,
        compact_clustered,
    )

    t, d = _clustered_pair(spark, tmp_path)
    t.update_where(
        spark,
        F.col("pk") < 8,
        {"v": F.col("v") + 1000},
        key_cols=["pk"],
    )
    e = t._log_entry(2) or {}
    assert e.get("bucket") and e.get("dv") and e.get("mor_delta")
    got = {r["pk"]: r["v"] for r in t.read_clustered(spark).collect()}
    assert got == {
        i: i * 2 + (1000 if i < 8 else 0) for i in range(400)
    }
    # a chained DELETE matches on POST-update values
    t.delete_where(spark, F.col("v") >= 1000, key_cols=["pk"])
    got = {r["pk"]: r["v"] for r in t.read_clustered(spark).collect()}
    assert got == {i: i * 2 for i in range(400) if not (i < 8 or i >= 500)}
    # compact: folds DV + delta, drops MoR state from the entry,
    # repacks ONLY affected buckets (pk<8 spread over the hash),
    # leaves every unaffected bucket's file inode-identical
    snap = t.snapshot_path()
    by_bucket: dict[int, str] = {}
    for f in os.listdir(snap):
        if f.endswith(".parquet"):
            by_bucket[_bucket_id(f)] = f
    res = compact_clustered(spark, t.root)
    assert res["compacted"], res
    e2 = t._log_entry(res["version"]) or {}
    assert e2.get("bucket") and not e2.get("dv") and not e2.get("mor_delta")
    assert e2.get("meta", {}).get("mor_folded")
    got2 = {r["pk"]: r["v"] for r in t.read_clustered(spark).collect()}
    assert got2 == got, "compaction changed visible state"
    # the folded state joins exchange-free (sidecars gone, one file
    # per bucket again)
    l, r = t.read_clustered(spark), d.read_clustered(spark)
    j = l.hint("merge").join(r, l.pk == r.ok).groupBy("grp").count()
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan and plan.count("Exchange") == 1, (
        plan[:1500]
    )
    # idempotent second run
    assert not compact_clustered(spark, t.root)["compacted"]


def test_clustered_restore_and_clone_keep_layout(spark, tmp_path):
    """r12: a clustered version RESTORES as clustered (rollback after a
    bad clustered DML is the natural restore flow — the hardlinked
    files keep their bucket-id names, so the spec must ride the new
    entry), and a clustered source CLONES as clustered under the
    destination's own catalog tag."""
    t, d = _clustered_pair(spark, tmp_path)
    t.delete_where(spark, F.col("pk") % 5 == 0, key_cols=["pk"])
    assert t.read_clustered(spark).count() == 320
    # rollback the DML: the restored head must still read clustered
    v = t.restore(1)
    e = t._log_entry(v) or {}
    assert e.get("bucket"), "restore dropped the bucket spec"
    assert not e.get("dv"), "restore of v1 must not carry v2's DV"
    assert t.read_clustered(spark).count() == 400
    # zero-copy clone of the clustered table (with live DV state at
    # the cloned version): the clone reads clustered from ITS root
    t.delete_where(spark, F.col("pk") % 5 == 0, key_cols=["pk"])
    c = t.clone_to(str(tmp_path / "cl_clone"))
    ce = c._log_entry(1) or {}
    assert ce.get("bucket") and ce.get("dv"), (
        "clone dropped the bucket spec or the DV"
    )
    assert c.read_clustered(spark).count() == 320
    # the clone joins its clustered dim exchange-free like the source
    l, r = c.read_clustered(spark), d.read_clustered(spark)
    j = l.hint("merge").join(r, l.pk == r.ok).groupBy("grp").count()
    plan = j._jdf.queryExecution().executedPlan().toString()
    shuffles = plan.count("Exchange") - plan.count("BroadcastExchange")
    assert "SortMergeJoin" in plan and shuffles == 1, plan[:1500]


def test_clustered_wap_adopts_or_refuses_never_declusters(spark, tmp_path):
    """r12: write-audit-publish on a CLUSTERED main — the O(1) adopt
    path publishes a same-spec clustered branch head verbatim (main
    stays clustered); a moved main refuses the rebase fold loudly
    instead of silently rewriting the bucket layout away."""
    from datapipeline_scraping_spark.operators.txn import (
        TransactionGroup,  # noqa: F401 - keeps import style consistent
    )

    main = ManifestTable(str(tmp_path / "cl_main"))
    main.commit_clustered(
        spark.range(0, 100).selectExpr("id as pk", "id * 2 as v"), "pk", 4
    )
    br = main.clone_to(str(tmp_path / "cl_branch"))
    br.append_clustered(
        spark.range(100, 130).selectExpr("id as pk", "id * 2 as v")
    )
    rep = main.publish_from(spark, br, keys=["pk"])
    assert rep["published"] and rep["path"] == "fast", rep
    e = main._log_entry(main.version()) or {}
    assert e.get("bucket"), "adopt dropped the bucket layout"
    assert main.read_clustered(spark).count() == 130
    # main moves (another clustered append lands) -> the rebase fold
    # would de-cluster; it must refuse loudly
    br2 = main.clone_to(str(tmp_path / "cl_branch2"))
    br2.append_clustered(
        spark.range(200, 210).selectExpr("id as pk", "id * 2 as v")
    )
    main.append_clustered(
        spark.range(300, 310).selectExpr("id as pk", "id * 2 as v")
    )
    with pytest.raises(ValueError, match="CLUSTERED main"):
        main.publish_from(spark, br2, keys=["pk"])
    # a branch that DE-clustered (plain commit) is not adoptable onto
    # a clustered main even when main is unmoved: same refusal, never
    # a silent layout change
    br3 = main.clone_to(str(tmp_path / "cl_branch3"))
    br3.commit(br3.read(spark).limit(50))  # plain commit drops layout
    with pytest.raises(ValueError, match="CLUSTERED main"):
        main.publish_from(spark, br3, keys=["pk"])


def test_clustered_append_carries_sidecars_and_guards_collisions(
    spark, tmp_path
):
    """r12: append_clustered onto a DV-carrying snapshot hardlinks the
    sidecars forward (deletes stay deleted), and an appended key
    colliding with a live MoR key is refused (the key-scoped _dv
    would suppress the new row) — plain append()'s exact contract."""
    t, _ = _clustered_pair(spark, tmp_path)
    t.delete_where(spark, F.col("pk") < 100, key_cols=["pk"])
    t.append_clustered(
        spark.range(400, 450).selectExpr("id as pk", "id * 2 as v")
    )
    e = t._log_entry(t.version()) or {}
    assert e.get("bucket") and e.get("dv", {}).get("n_keys") == 100
    got = {r["pk"] for r in t.read_clustered(spark).collect()}
    assert got == set(range(100, 450))
    with pytest.raises(ValueError, match="collides"):
        t.append_clustered(
            spark.range(50, 60).selectExpr("id as pk", "id * 2 as v")
        )


def test_epoch_sink_routes_clustered_appends(spark, tmp_path):
    from datapipeline_scraping_spark.streaming.txn_sink import (
        manifest_epoch_sink,
    )

    root = str(tmp_path / "cl_sink")
    tbl = ManifestTable(root)
    tbl.commit_clustered(
        spark.range(0, 100).selectExpr("id as pk", "id * 2 as v"), "pk", 4
    )
    sink = manifest_epoch_sink(root, "pk", insert_only=True)
    sink(spark.range(100, 150).selectExpr("id as pk", "id * 2 as v"), 1)
    sink(spark.range(150, 180).selectExpr("id as pk", "id * 2 as v"), 2)
    assert tbl.version() == 3
    # replay: exactly-once, no new commit
    sink(spark.range(150, 180).selectExpr("id as pk", "id * 2 as v"), 2)
    assert tbl.version() == 3
    # every epoch's state stays clustered-readable
    assert tbl.read_clustered(spark).count() == 180
    assert (tbl._log_entry(3) or {}).get("bucket")
    assert (tbl._log_entry(3) or {}).get("meta", {}).get("epoch") == 2


@pytest.mark.slow  # >60s (r15 tiering; measured 75-343s)
def test_clustered_writers_crash_sweep_never_tear_table(spark, tmp_path):
    """Crash-point sweep over append_clustered and compact_clustered:
    kill each writer at EVERY Python-level filesystem mutation (rename
    / replace / unlink / link) and assert the protocol invariant — the
    pointer always resolves to a COMPLETE snapshot whose clustered
    read returns either the pre-statement or the post-statement state,
    never a mix; the next (uninjected) writer recovers normally."""
    import time as _time

    import datapipeline_scraping_spark.operators.txn as txn_mod
    from datapipeline_scraping_spark.operators.txn import compact_clustered

    root = str(tmp_path / "t")
    tbl = ManifestTable(root, stale_lock_sec=0.5, retention_sec=3600)
    base = {i: i * 2 for i in range(12)}

    def frame(d):
        return spark.createDataFrame(sorted(d.items()), "pk long, v long")

    # 2 buckets keeps the per-attempt fs-mutation count (and so the
    # sweep's iteration count) small; the protocol is bucket-count-
    # independent
    tbl.commit_clustered(frame(base), "pk", 2)

    mutators = ("rename", "replace", "unlink", "link")
    originals = {m: getattr(txn_mod.os, m) for m in mutators}

    def crash_after(n_calls):
        state = {"n": 0}

        def wrap(orig):
            def inner(*a, **kw):
                state["n"] += 1
                if state["n"] > n_calls:
                    raise OSError("injected crash")
                return orig(*a, **kw)

            return inner

        for m in mutators:
            setattr(txn_mod.os, m, wrap(originals[m]))
        return state

    def sweep(statement, pre_state, post_state, stride=1):
        """Advance the crash point ``stride`` fs-mutations at a time
        until a fully uninjected pass completes — content-preserving
        statements (pre == post) still exercise every sampled crash
        point because the loop keys on whether the statement crashed,
        not on the observed content. ``stride > 1`` samples the crash
        points for statements whose per-attempt Spark work makes the
        exhaustive sweep quadratic-expensive."""
        step = 0
        while True:
            crash_after(step)
            try:
                statement()
                crashed = False
            except OSError:
                crashed = True
            finally:
                for m in mutators:
                    setattr(txn_mod.os, m, originals[m])
            path = tbl.snapshot_path()
            assert path is not None and os.path.isdir(path), (
                f"pointer dangles after crash at fs-step {step}"
            )
            got = {
                r["pk"]: r["v"] for r in tbl.read_clustered(spark).collect()
            }
            assert got in (pre_state, post_state), (
                f"torn clustered state after crash at fs-step {step}"
            )
            if not crashed:
                assert got == post_state
                return step
            if pre_state != post_state and got == post_state:
                return step  # crash AFTER the pointer swap: it landed
            if os.path.exists(os.path.join(root, tbl.LOCK)):
                _time.sleep(0.6)  # let the stranded lock age past TTL
            step += stride

    appended = dict(base)
    appended.update({100 + i: (100 + i) * 2 for i in range(3)})
    sweep(
        lambda: tbl.append_clustered(
            frame({k: v for k, v in appended.items() if k >= 100})
        ),
        base,
        appended,
    )
    # second append so compaction has multi-file buckets to repack
    appended2 = dict(appended)
    appended2.update({200 + i: (200 + i) * 2 for i in range(3)})
    tbl.append_clustered(
        frame({k: v for k, v in appended2.items() if k >= 200})
    )
    # r12: the swept compaction is also the sidecar-FOLDING one — an
    # uninjected MoR DELETE + UPDATE first, so the single swept
    # statement exercises multi-file repack AND the per-bucket fold
    # (DML staging itself shares the commit-tail protocol swept by
    # test_commit_crash_at_every_filesystem_step...; its clustered
    # visibility is model-checked in test_properties)
    tbl.delete_where(spark, "pk % 10 = 3", ["pk"])
    tbl.update_where(spark, "pk % 10 = 7", {"v": "v + 5000"}, ["pk"])
    folded = {
        k: (v + 5000 if k % 10 == 7 else v)
        for k, v in appended2.items()
        if k % 10 != 3
    }
    assert {
        r["pk"]: r["v"] for r in tbl.read_clustered(spark).collect()
    } == folded
    n_steps = sweep(
        lambda: compact_clustered(spark, root),
        folded,
        folded,  # content-preserving fold + repack
    )
    assert n_steps >= 2, "compaction sweep never exercised crash points"
    # after the compaction sweep lands, every bucket is single-file
    from datapipeline_scraping_spark.operators.txn import _bucket_id

    snap = tbl.snapshot_path()
    per_bucket: dict[int, int] = {}
    for f in os.listdir(snap):
        if f.endswith(".parquet"):
            b = _bucket_id(f)
            per_bucket[b] = per_bucket.get(b, 0) + 1
    # compaction either landed (all single) or crashed at every step
    # and preserved state; in the landed case the invariant holds
    if not compact_clustered(spark, root)["compacted"]:
        assert all(n == 1 for n in per_bucket.values())

    # r12: the sidecar-FOLDING compaction path through the crash sweep
    # — the per-bucket fold is the only NEW filesystem choreography
    # (DELETE/UPDATE staging shares the commit-tail protocol already
    # swept by test_commit_crash_at_every_filesystem_step...; their
    # clustered visibility is model-checked in test_properties). The
    # DML chain runs uninjected so the swept fold operates on a
    # DV + delta carrying base.
    # once the fold lands, the head entry carries no MoR state
    if not compact_clustered(spark, root)["compacted"]:
        e = tbl._log_entry(tbl.version()) or {}
        assert not e.get("dv") and not e.get("mor_delta")


def test_clustered_snapshots_refuse_metadata_alters_and_flat_appends(
    spark, tmp_path
):
    """Review fixes (r12): metadata-only column changes do not
    propagate through the bucketed catalog scan, and flat external
    parts would break the bucket-id file-name contract — all four
    paths refuse loudly instead of silently de-clustering."""
    from datapipeline_scraping_spark.sources.manifest_sql import (
        register_table,
        sql,
    )

    tbl = ManifestTable(str(tmp_path / "cl"))
    tbl.commit_clustered(_df(spark, [(1, "a"), (2, "b")]), "pk", 4)
    with pytest.raises(ValueError, match="CLUSTERED"):
        tbl.rename_column("v", "val")
    with pytest.raises(ValueError, match="CLUSTERED"):
        tbl.add_column("note", "string")
    with pytest.raises(ValueError, match="CLUSTERED"):
        tbl.drop_column("v")
    register_table(spark, "cl_ins", tbl.root)
    with pytest.raises(ValueError, match="CLUSTERED"):
        sql(spark, "INSERT INTO cl_ins VALUES (3, 'c')")
    # the clustered read still works — nothing was de-clustered
    assert tbl.read_clustered(spark).count() == 2


def test_declared_sort_order_keeps_appends_skippable(spark, tmp_path):
    """set_sort_order (Iceberg write.sort-order): appended batches
    sort within tasks on the declared columns, so fresh files carry
    tight [min,max] stats and range reads prune them WITHOUT a
    compaction pass; the property rides DML/restore via meta
    inheritance, RENAME rewrites it, DROP removes it, and
    compact_table defaults its sorted rewrite to it."""
    from pyspark.sql import functions as F

    from datapipeline_scraping_spark.operators.txn import compact_table

    tbl = ManifestTable(str(tmp_path / "t"), retention_sec=3600)
    df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(400)], "pk long, v string"
    )
    tbl.commit(
        df.filter("pk < 200").repartitionByRange(2, "pk"),
        stats_by=["pk"],
        keep_snapshots=50,
    )
    assert tbl.set_sort_order(["pk"])
    with pytest.raises(ValueError, match="not in the table schema"):
        tbl.set_sort_order(["nope"])
    # append an UNSORTED shuffled batch across 4 tasks: without the
    # declared order every file would span ~the whole pk domain
    batch = (
        df.filter("pk >= 200")
        .withColumn("r", F.pmod(F.col("pk") * 2654435761, F.lit(97)))
        .repartition(4, "r")
        .drop("r")
    )
    tbl.append(batch, keep_snapshots=50)
    # fresh-range probe: only a subset of the 4 appended files may
    # overlap [200, 240] if each file is locally sorted... note each
    # task sorts ITS OWN rows, so per-file ranges still span the
    # domain per task — the tight-stats win needs range-partitioned
    # batches OR few tasks. Assert the sort happened: rows within
    # each appended file are ordered by pk.
    import pyarrow.parquet as pq

    snap = tbl.snapshot_path()
    entry = tbl._log_entry(tbl.version())
    appended = [
        rel
        for rel in (entry.get("file_stats") or {})
        if "append-" in rel
    ]
    assert appended
    for rel in appended:
        vals = pq.read_table(
            f"{snap}/{rel}", columns=["pk"]
        ).column("pk").to_pylist()
        assert vals == sorted(vals), f"{rel} not sorted on pk"
    # property rides a DML commit and a restore
    tbl.delete_where(spark, "pk = 5", key_cols=["pk"], keep_snapshots=50)
    meta = (tbl._log_entry(tbl.version()) or {}).get("meta") or {}
    assert meta.get("sort_order") == ["pk"]
    # rename rewrites the list; drop of another column keeps it
    tbl2 = ManifestTable(str(tmp_path / "t2"), retention_sec=3600)
    # 8 files whatever the host's default parallelism: the
    # compaction below to 4 files must have something to gain
    tbl2.commit(df.repartition(8), stats_by=["pk"], keep_snapshots=50)
    tbl2.set_sort_order(["pk"])
    tbl2.rename_column("pk", "id")
    m2 = (tbl2._log_entry(tbl2.version()) or {}).get("meta") or {}
    assert m2.get("sort_order") == ["id"]
    tbl2.add_column("extra", "string")
    tbl2.drop_column("extra")
    # compact_table defaults to the declared order: post-compaction
    # files have disjoint-ish ranges (repartitionByRange on id)
    res = compact_table(spark, tbl2.root, target_files=4)
    assert res["compacted"]
    e = tbl2._log_entry(res["version"]) or {}
    stats = e.get("file_stats") or {}
    ranges = sorted(
        (st["id"][0], st["id"][1])
        for st in stats.values()
        if st.get("id")
    )
    assert len(ranges) >= 2
    for (a_lo, a_hi), (b_lo, b_hi) in zip(ranges, ranges[1:]):
        assert a_hi <= b_lo or a_hi <= b_hi, (ranges,)


def _leftovers(root):
    """Root entries other than the pointer, the log and committed
    snapshot dirs."""
    import re

    return sorted(
        e
        for e in os.listdir(root)
        if e not in ("CURRENT", "_log")
        and not re.fullmatch(r"snap-\d{6}-[0-9a-f]{8}", e)
    )


@pytest.mark.parametrize(
    "writer",
    [
        "append",
        "append_clustered",
        "compact_small_files",
        "compact_clustered",
    ],
)
def test_failed_add_file_writer_leaves_no_temp_dirs(
    spark, tmp_path, monkeypatch, writer
):
    """Every add-file writer stages all of its temp output inside one
    snap-staging dir and removes it when the write fails: the table
    root keeps only CURRENT, _log and committed snapshots, and the
    table still reads its pre-call rows. ``append`` fails in a write
    task (a UDF that throws on one row); the other writers fail inside
    the shared staging step, after their new parts were written."""
    from datapipeline_scraping_spark.operators.txn import (
        compact_clustered,
        compact_small_files,
    )
    from datapipeline_scraping_spark.operators.txn import staging

    tbl = ManifestTable(str(tmp_path / "t"))
    base = _df(spark, [(i, f"v{i}") for i in range(20)])
    batch = _df(spark, [(i, f"v{i}") for i in range(100, 120)])
    if writer in ("append_clustered", "compact_clustered"):
        tbl.commit_clustered(base, "pk", 4)
        if writer == "compact_clustered":
            tbl.append_clustered(batch)
    else:
        tbl.commit(base.repartition(4))
    before = sorted(tuple(r) for r in tbl.read(spark).collect())

    def injected(*_a, **_kw):
        raise RuntimeError("injected staging failure")

    if writer == "append":

        def boom(pk):
            if pk == 105:
                raise ValueError("bad row")
            return f"v{pk}"

        with pytest.raises(Exception):
            tbl.append(
                spark.range(100, 120).select(
                    F.col("id").alias("pk"), F.udf(boom, "string")("id").alias("v")
                )
            )
    else:
        monkeypatch.setattr(staging, "_adopt", injected)
        with pytest.raises(RuntimeError, match="injected"):
            if writer == "append_clustered":
                tbl.append_clustered(batch)
            elif writer == "compact_small_files":
                compact_small_files(spark, tbl.root)
            else:
                compact_clustered(spark, tbl.root)
    assert _leftovers(tbl.root) == []
    assert sorted(tuple(r) for r in tbl.read(spark).collect()) == before
