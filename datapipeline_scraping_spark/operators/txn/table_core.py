"""Pointer/log/lock plumbing, GC, and table lifecycle: the commit protocol's primitives every other mixin builds on."""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ...sources.manifest_log import log_path, read_log_entry, read_pointer
from .errors import ConcurrentWriteError, SnapshotExpiredError
from .stats import _inherited_meta

#: log-entry fields a version derived from a base entry copies forward
_CARRIED = (
    "stats_cols", "file_stats", "checks", "dv", "column_map", "mor_delta",
    "dropped", "added", "bloom", "bucket", "specs",
)


def _carry(entry: dict, **changes) -> dict:
    """:meth:`_CoreMixin._publish` fields for a version derived from
    ``entry`` (DML, ALTER, restore, clone, add-file commits): layout,
    schema, every table property and per-file record carry forward;
    ``meta`` keeps only its table-property keys (:func:`_inherited_meta`)
    with ``changes["meta"]`` merged on top. The change feed never
    carries — an entry's ``cdf`` describes that version's own changes,
    so each writer sets it. Other ``changes`` replace fields outright."""
    fields = {
        "partition_by": list(entry.get("partition_by") or []),
        "schema_json": entry.get("schema"),
        **{k: entry.get(k) for k in _CARRIED},
        **changes,
    }
    fields["meta"] = {**_inherited_meta(entry), **(changes.get("meta") or {})}
    return fields


def _cdf_marker(entry: dict, kind: str) -> dict | None:
    """Change-feed entry of a version that adds no change rows: ``noop``
    (content preserved, feed readers skip it) or ``break`` (readers must
    rebuild). None when ``entry``'s feed is off."""
    keys = (entry.get("cdf") or {}).get("key_cols")
    return {"key_cols": list(keys), kind: True} if keys else None


class _CoreMixin:
    """Pointer/log/lock plumbing, GC, and table lifecycle: the commit
    protocol's primitives every other mixin builds on. Every
    single-table writer stages a snapshot dir and commits it through
    :meth:`_publish`."""

    def __init__(
        self,
        root: str,
        *,
        stale_lock_sec: float = 300.0,
        staging_ttl_sec: float = 6 * 3600.0,
        retention_sec: float = 24 * 3600.0,
    ) -> None:
        self.root = root.rstrip("/")
        self.stale_lock_sec = stale_lock_sec
        self.staging_ttl_sec = staging_ttl_sec
        self.retention_sec = retention_sec
        #: snapshot dirname of this instance's most recent successful
        #: commit — lets callers measure exactly the snapshot THEY
        #: committed instead of re-resolving a pointer a racing writer
        #: may have advanced (ADVICE r6: compact_table stats race)
        self.last_snapshot: str | None = None

    # -- resolution --------------------------------------------------------
    def exists(self) -> bool:
        return os.path.isfile(os.path.join(self.root, self.POINTER))

    def _pointer(self) -> tuple[str, int] | None:
        return read_pointer(self.root)

    def version(self) -> int | None:
        ptr = self._pointer()
        return None if ptr is None else ptr[1]

    def _resolve_base(
        self, action: str, missing: str, *, expect_version: int | None = None
    ) -> tuple[str, int, dict]:
        """``(snapshot dir, version, log entry)`` of the live snapshot a
        writer stages against, from ONE pointer read. Raises
        FileNotFoundError(``missing``) on an empty root and
        :class:`ConcurrentWriteError` on an ``expect_version`` miss or
        a GC'd snapshot (an ``os.walk`` would read it as zero files)."""
        ptr = self._pointer()
        if ptr is None:
            raise FileNotFoundError(missing)
        snap_name, version = ptr
        if expect_version is not None and version != expect_version:
            raise ConcurrentWriteError(
                f"{self.root}: version {version} != expected {expect_version}"
            )
        snap = os.path.join(self.root, snap_name)
        if not os.path.isdir(snap):
            raise ConcurrentWriteError(
                f"{self.root}: snapshot {snap_name} vanished before "
                f"{action} (concurrent writer + gc) — retry"
            )
        return snap, version, self._log_entry(version) or {}

    def _refuse_mor_collision(
        self,
        spark: SparkSession,
        snap: str,
        entry: dict,
        batch: DataFrame,
        what: str,
        hint: str,
    ) -> None:
        """Refuse an appended batch holding a key of ``entry``'s live
        deletion vector / update delta: the key-scoped ``_dv`` would
        suppress the appended row on read."""
        key_cols = list(entry["dv"]["key_cols"])
        dv_keys = spark.read.parquet(os.path.join(snap, self.DV_DIR))
        if batch.join(
            F.broadcast(dv_keys), on=key_cols, how="left_semi"
        ).limit(1).count():
            raise ValueError(
                f"{self.root}: {what} collides with live merge-on-read "
                f"keys (deletion vector / update delta on {key_cols}) — "
                f"{hint}"
            )

    # -- version log -------------------------------------------------------
    def _log_path(self, version: int) -> str:
        return log_path(self.root, version)

    def _log_entry(self, version: int) -> dict | None:
        return read_log_entry(self.root, version)


    def _write_log(
        self,
        version: int,
        snap: str,
        partition_by: list[str],
        schema_json: str,
        *,
        meta: dict | None = None,
        stats_cols: list[str] | None = None,
        file_stats: dict | None = None,
        checks: dict | None = None,
        dv: dict | None = None,
        cdf: dict | None = None,
        column_map: dict | None = None,
        mor_delta: dict | None = None,
        dropped: list[str] | None = None,
        added: list[str] | None = None,
        bloom: dict | None = None,
        bucket: dict | None = None,
        specs: list | None = None,
    ) -> None:
        """Write the commit's log entry atomically (tmp + replace).
        Called inside the commit lock BEFORE the pointer swap; a crash
        between the two leaves an unpointed intent that the retried
        commit — which reuses the version number — overwrites.
        ``meta`` rides the entry ATOMICALLY with the commit (unlike a
        post-hoc :meth:`annotate`, there is no window where the commit
        exists without it — the exactly-once epoch sink's idempotence
        guard depends on that). ``file_stats`` is the per-file min/max
        map for ``stats_cols`` (data skipping, Delta-style)."""
        os.makedirs(os.path.join(self.root, self.LOG_DIR), exist_ok=True)
        entry = {
            "version": version,
            "snapshot": snap,
            "ts": time.time(),
            "partition_by": partition_by,
            "schema": schema_json,
        }
        if meta:
            entry["meta"] = dict(meta)
        if stats_cols is not None:
            entry["stats_cols"] = list(stats_cols)
        if file_stats is not None:
            entry["file_stats"] = file_stats
        if checks:
            entry["checks"] = dict(checks)
        if dv:
            entry["dv"] = dict(dv)
        if cdf:
            entry["cdf"] = dict(cdf)
        if column_map:
            entry["column_map"] = dict(column_map)
        if mor_delta:
            entry["mor_delta"] = dict(mor_delta)
        if dropped:
            entry["dropped"] = list(dropped)
        if added:
            entry["added"] = list(added)
        if bloom:
            entry["bloom"] = dict(bloom)
        if bucket:
            entry["bucket"] = dict(bucket)
        if specs:
            entry["specs"] = [dict(s) for s in specs]
        self._replace_log(version, entry)

    def _replace_log(self, version: int, entry: dict) -> None:
        tmp = f"{self._log_path(version)}.tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as fh:
            json.dump(entry, fh)
        os.replace(tmp, self._log_path(version))


    def annotate(self, version: int, **meta) -> bool:
        """Attach operation metrics / free-form metadata to a commit's
        log entry (Delta records ``operationMetrics`` in its commit log
        the same way). Typical use: a writer harvests row counts from
        an :class:`pyspark.sql.Observation` riding the commit's write
        job, then annotates the commit so later readers (e.g. a
        crash-resumed pipeline) get the stats without re-scanning the
        snapshot — ``history()`` / ``_log_entry`` expose them under
        ``"meta"``. Returns False if the version has no log entry
        (nothing to annotate).

        The read-modify-write runs under COMMIT_LOCK (ADVICE r8): two
        concurrent annotates on the same version would otherwise lose
        one side's update, and an unlocked ``os.replace`` racing a
        retried commit's ``_write_log`` could resurrect a superseded
        entry. The lock hold is one tiny json rewrite — milliseconds,
        same order as the pointer swap it already serializes."""
        self._acquire_lock()
        try:
            entry = self._log_entry(version)
            if entry is None:
                return False
            entry.setdefault("meta", {}).update(meta)
            self._replace_log(version, entry)
            return True
        finally:
            self._release_lock()


    def commit_meta(self, version: int) -> dict:
        """The ``annotate``-d metadata of a commit (empty if none)."""
        entry = self._log_entry(version)
        return dict(entry.get("meta") or {}) if entry else {}


    def history(self) -> list[dict]:
        """COMMITTED log entries, newest first; each row carries
        version / snapshot dirname / commit ts / partitioning and
        whether the snapshot is still readable (not GC'd). An entry
        whose version is beyond the live pointer is a crashed writer's
        unpointed INTENT (the log is written before the pointer swap)
        — it never committed, so it is not history and is filtered
        out, exactly as :meth:`snapshot_path` refuses to resolve it."""
        ptr = self._pointer()
        live = ptr[1] if ptr else 0
        logdir = os.path.join(self.root, self.LOG_DIR)
        try:
            names = sorted(os.listdir(logdir), reverse=True)
        except FileNotFoundError:
            return []
        out = []
        for n in names:
            if not n.endswith(".json"):
                continue
            try:
                with open(os.path.join(logdir, n)) as fh:
                    e = json.load(fh)
            except (OSError, ValueError):
                continue
            if int(e.get("version", 0)) > live:
                continue  # unpointed intent, not a commit
            e["retained"] = os.path.isdir(os.path.join(self.root, e["snapshot"]))
            e.pop("schema", None)
            e.pop("file_stats", None)  # bulky; fetch via _log_entry
            out.append(e)
        return out


    def snapshot_path(self, version: int | None = None) -> str | None:
        """Absolute snapshot directory of the current pointer, or —
        time travel — of an explicit retained ``version``."""
        ptr = self._pointer()
        if version is None or (ptr is not None and version == ptr[1]):
            # the pointer is authoritative for the live version (a log
            # entry can be a stale unpointed intent after a crash)
            return None if ptr is None else os.path.join(self.root, ptr[0])
        if ptr is None or version > ptr[1]:
            # beyond the live pointer = a crashed writer's unpointed
            # intent (log precedes the pointer swap): that snapshot
            # never COMMITTED — resolving it would read uncommitted
            # data that the writer's retry is about to overwrite
            raise FileNotFoundError(
                f"{self.root}: no committed version {version} "
                f"(live version: {None if ptr is None else ptr[1]})"
            )
        entry = self._log_entry(version)
        if entry is None:
            raise FileNotFoundError(
                f"{self.root}: no version {version} in the commit log "
                f"(live version: {None if ptr is None else ptr[1]})"
            )
        path = os.path.join(self.root, entry["snapshot"])
        if not os.path.isdir(path):
            raise SnapshotExpiredError(
                f"{self.root}: version {version} aged past the retention "
                f"contract and its snapshot was garbage-collected "
                f"(retention_sec={self.retention_sec}, committed at "
                f"ts={entry.get('ts')})"
            )
        return path

    # -- commit protocol ---------------------------------------------------
    def _acquire_lock(self, timeout: float = 30.0) -> None:
        lock = os.path.join(self.root, self.LOCK)
        deadline = time.monotonic() + timeout
        while True:
            try:
                fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                os.write(fd, f"{os.getpid()} {time.time()}\n".encode())
                os.close(fd)
                return
            except FileExistsError:
                try:
                    age = time.time() - os.path.getmtime(lock)
                    if age > self.stale_lock_sec:
                        # break a dead writer's lock via RENAME, not
                        # unlink: two waiters may both see it stale, and
                        # with unlink the slower one would delete the
                        # faster one's freshly created lock (TOCTOU ->
                        # two writers inside the critical section). The
                        # rename is atomic; exactly one waiter wins it,
                        # the loser's rename raises FileNotFoundError
                        # and it falls back to contending on O_EXCL.
                        doomed = f"{lock}.stale-{uuid.uuid4().hex[:8]}"
                        os.rename(lock, doomed)
                        # re-stat AFTER the rename: if the apparently-
                        # dead holder released and a NEW writer acquired
                        # between our getmtime and the rename, the file
                        # we just renamed away is that writer's FRESH
                        # live lock. Give it back via os.link (fails if
                        # the lock path was re-created meanwhile, so we
                        # never clobber a third writer's lock the way a
                        # rename-back would). Residual window: if a
                        # THIRD writer O_EXCLs the lock path inside this
                        # same microsecond gap, the link fails and the
                        # second writer's hold ends up file-less — two
                        # holders again, but only with three writers
                        # interleaving within one stale-break, each step
                        # microsecond-scale against a minutes-scale TTL.
                        # On filesystems without hard links the link
                        # raises OSError and degrades to the same
                        # already-narrow behavior.
                        try:
                            fresh = (
                                time.time() - os.path.getmtime(doomed)
                                <= self.stale_lock_sec
                            )
                        except FileNotFoundError:
                            continue
                        if fresh:
                            try:
                                os.link(doomed, lock)
                            except (FileExistsError, OSError):
                                pass
                        os.unlink(doomed)
                        continue
                except FileNotFoundError:
                    continue  # holder released between open and stat
                if time.monotonic() > deadline:
                    raise TimeoutError(
                        f"commit lock on {self.root} held for {age:.0f}s"
                    ) from None
                time.sleep(0.05)


    def _release_lock(self) -> None:
        try:
            os.unlink(os.path.join(self.root, self.LOCK))
        except FileNotFoundError:
            pass

    def _staging_path(self) -> str:
        """A fresh private dir to stage a snapshot in, unlocked."""
        return os.path.join(self.root, f"snap-staging-{uuid.uuid4().hex[:12]}")

    @staticmethod
    def _snapshot_name(version: int) -> str:
        return f"snap-{version:06d}-{uuid.uuid4().hex[:8]}"

    def _swap_pointer(self, snap: str, version: int) -> None:
        """Repoint ``CURRENT`` at ``snap``: tmp file + one ``os.replace``."""
        tmp = os.path.join(self.root, f".ptr-{uuid.uuid4().hex[:8]}")
        with open(tmp, "w") as fh:
            fh.write(f"{snap}\n{version}\n")
        os.replace(tmp, os.path.join(self.root, self.POINTER))

    def _install(self, snap: str, version: int, fields: dict) -> None:
        """Inside the commit lock: log ``snap`` as ``version``, then
        swap the pointer to it. The log goes first — a crash in between
        leaves an unpointed intent entry that this version number's
        retry overwrites; a crash after leaves a consistent log."""
        kw = dict(fields)
        self._write_log(
            version, snap, kw.pop("partition_by"), kw.pop("schema_json"), **kw
        )
        self._swap_pointer(snap, version)
        self.last_snapshot = snap

    def _publish(
        self,
        staged: str,
        fields: dict,
        *,
        expect_version: int | None = None,
        base_version: int | None = None,
        validate=None,
        keep_snapshots: int | None = None,
    ) -> int | None:
        """Commit the snapshot staged in ``staged`` as the next version:
        the commit tail every single-table writer shares.

        Under the commit lock the live version must equal
        ``expect_version`` (the caller's CAS) and ``base_version`` (the
        version ``staged`` was built from), else
        :class:`ConcurrentWriteError`. ``validate(live_version,
        live_entry)`` then runs a writer's own in-lock re-check: it
        raises to abort, or returns False to back off without
        committing (the caller restages or retries). Then, in this
        fixed order: rename ``staged`` to ``snap-<version>-<uuid>``,
        write the log entry from ``fields`` (``partition_by``,
        ``schema_json`` and :meth:`_write_log`'s keywords), swap the
        pointer, release the lock. Until the pointer swap, any failure
        removes the staged (or renamed) dir, and the old version stays
        live. GC runs after a commit when ``keep_snapshots`` is given.
        Returns the new version, or None if ``validate`` backed off."""
        committed: int | None = None
        try:
            self._acquire_lock()
            try:
                ptr = self._pointer()
                cur = 0 if ptr is None else ptr[1]
                if expect_version is not None and cur != expect_version:
                    raise ConcurrentWriteError(
                        f"{self.root}: version {cur} != expected "
                        f"{expect_version}"
                    )
                if base_version is not None and cur != base_version:
                    # the staged dir embeds a superseded version's
                    # state: committing it would undo the racing writer
                    raise ConcurrentWriteError(
                        f"{self.root}: table advanced {base_version} -> "
                        f"{cur} while the commit staged — retry against "
                        f"the new head"
                    )
                if validate is None or validate(cur, self._log_entry(cur) or {}):
                    snap = self._snapshot_name(cur + 1)
                    os.rename(staged, os.path.join(self.root, snap))
                    staged = os.path.join(self.root, snap)
                    self._install(snap, cur + 1, fields)
                    committed = cur + 1
            finally:
                self._release_lock()
        finally:
            if committed is None:
                shutil.rmtree(staged, ignore_errors=True)
        if committed is not None and keep_snapshots is not None:
            self._gc(keep=keep_snapshots)
        return committed


    def _live_schema(self, spark: SparkSession) -> T.StructType | None:
        """Schema of the live snapshot: from its log entry (one tiny
        json read) when present, else the parquet footers (an adopted
        legacy table's first evolved commit)."""
        ptr = self._pointer()
        if ptr is None:
            return None
        entry = self._log_entry(ptr[1])
        if entry is not None and entry.get("schema"):
            try:
                return T.StructType.fromJson(json.loads(entry["schema"]))
            except (ValueError, KeyError, TypeError):
                pass
        return spark.read.parquet(os.path.join(self.root, ptr[0])).schema


    def _snapshot_commit_ts(self, dirname: str) -> float:
        """Commit timestamp of a snapshot dir: its log entry's ts when
        recorded, else the dir mtime (legacy/adopted snapshots — mtime
        is the write completion, slightly BEFORE the commit, so the
        fallback errs toward keeping it longer, never shorter)."""
        try:
            ver = int(dirname.split("-")[1])
        except (IndexError, ValueError):
            ver = -1
        entry = self._log_entry(ver) if ver >= 0 else None
        if entry is not None and entry.get("snapshot") == dirname:
            return float(entry.get("ts", 0.0))
        try:
            return os.path.getmtime(os.path.join(self.root, dirname))
        except FileNotFoundError:
            return 0.0


    def _gc(self, *, keep: int) -> None:
        """Drop committed snapshots that are BOTH beyond the ``keep``
        newest AND older than ``retention_sec`` since they were
        SUPERSEDED — the moment the next version's commit made them
        non-current — plus stranded staging dirs past the staging TTL.

        Anchoring the age at supersession, not at the snapshot's own
        commit (VERDICT r8 item 1), matches Delta's
        ``deletedFileRetentionDuration``, which measures from when a
        file stops being part of the table: a snapshot that was LIVE
        longer than ``retention_sec`` (routine for a slow-cadence
        ledger — weekly commits, 24 h retention) still protects a
        reader that pinned it just before the superseding commit for
        the full window. The reader contract is therefore: a resolved
        snapshot's files survive for at least ``retention_sec`` after
        it stops being current, no matter how many commits advance
        past it. Set ``retention_sec`` above the longest-running scan;
        ``retention_sec=0`` restores count-only GC for single-reader
        scratch tables.

        Snapshots whose version exceeds the live pointer are a crashed
        writer's unpointed commit INTENTS (the log/rename precede the
        pointer swap), mirrored from ``history()``'s filter (ADVICE
        r8): they never committed, so they must not occupy a
        ``keep`` slot and evict a genuinely committed snapshot from
        the count window. They are reclaimed as crash debris past the
        staging TTL instead (a concurrent writer inside its commit
        lock briefly exposes one legitimately)."""
        ptr = self._pointer()
        current = ptr[0] if ptr else None
        live_ver = ptr[1] if ptr else 0
        try:
            entries = os.listdir(self.root)
        except FileNotFoundError:
            return
        all_snaps = sorted(e for e in entries if e.startswith("snap-") and
                           not e.startswith("snap-staging-"))

        def _ver(dirname: str) -> int:
            try:
                return int(dirname.split("-")[1])
            except (IndexError, ValueError):
                return -1

        snaps = [s for s in all_snaps if _ver(s) <= live_ver]
        intents = [s for s in all_snaps if _ver(s) > live_ver]
        # committed-version -> commit ts, from the log (one pass): the
        # supersession anchor for version v is the commit ts of the
        # SMALLEST logged committed version > v. If v+1's entry was
        # already pruned, the next surviving version's (later) ts is
        # used — erring toward keeping the snapshot longer, never
        # shorter.
        log_ts: dict[int, float] = {}
        try:
            for n in os.listdir(os.path.join(self.root, self.LOG_DIR)):
                if n.endswith(".json"):
                    e = self._log_entry(int(n[:-5]))
                    if e is not None and int(e.get("version", -1)) <= live_ver:
                        log_ts[int(e["version"])] = float(e.get("ts", 0.0))
        except (FileNotFoundError, ValueError):
            pass

        def _retired_ts(dirname: str) -> float:
            own = self._snapshot_commit_ts(dirname)
            v = _ver(dirname)
            sup = [ts for ver, ts in log_ts.items() if ver > v >= 0]
            return max(own, min(sup)) if sup else own

        doomed = [
            s
            for s in (snaps[:-keep] if keep else [])
            if s != current
            and time.time() - _retired_ts(s) > self.retention_sec
        ]
        for s in intents:
            try:
                age = time.time() - os.path.getmtime(
                    os.path.join(self.root, s)
                )
            except FileNotFoundError:
                continue
            if age > self.staging_ttl_sec:
                doomed.append(s)
        # staging dirs may belong to a CONCURRENT writer mid-way through
        # its (long, deliberately unlocked) snapshot write, and their
        # mtime stays at creation until the job commits — reclaim only
        # past the hours-scale staging TTL, NOT the millisecond-scale
        # lock TTL (a live writer whose parquet write outlives the lock
        # TTL must not have its snapshot torn out from under it)
        for e in entries:
            if not e.startswith("snap-staging-"):
                continue
            try:
                age = time.time() - os.path.getmtime(os.path.join(self.root, e))
            except FileNotFoundError:
                continue
            if age > self.staging_ttl_sec:
                doomed.append(e)
        for d in doomed:
            shutil.rmtree(os.path.join(self.root, d), ignore_errors=True)
        # a waiter crashing between its stale-lock rename and unlink
        # leaks COMMIT_LOCK.stale-* files; they are renamed-away dead
        # locks (never live), so reclaim by the lock age rule
        for e in entries:
            if not e.startswith(f"{self.LOCK}.stale-"):
                continue
            p = os.path.join(self.root, e)
            try:
                if time.time() - os.path.getmtime(p) > self.stale_lock_sec:
                    os.unlink(p)
            except FileNotFoundError:
                pass
        # bound the commit log: entries whose snapshot is gone (GC'd
        # above, or an unpointed crash intent) age out past retention —
        # live file count stays O(retained snapshots + retention window)
        live = {s for s in all_snaps if s not in doomed}
        logdir = os.path.join(self.root, self.LOG_DIR)
        try:
            log_names = os.listdir(logdir)
        except FileNotFoundError:
            log_names = []
        for n in log_names:
            if not n.endswith(".json"):
                continue
            p = os.path.join(logdir, n)
            try:
                with open(p) as fh:
                    entry = json.load(fh)
                if (
                    entry.get("snapshot") not in live
                    and time.time() - float(entry.get("ts", 0.0))
                    > self.retention_sec
                ):
                    os.unlink(p)
            except (OSError, ValueError):
                pass
        # clustered-read catalog entries pin snapshots by LOCATION; any
        # whose snapshot was just reclaimed are now dangling metadata —
        # drop them (VERDICT r10 item 2). Metadata-only and best-effort
        # (no active session = nothing was adopted in this process).
        if doomed:
            spark = SparkSession.getActiveSession()
            if spark is not None:
                self._sweep_clustered_catalog(spark)

    # -- bootstrap / migration --------------------------------------------
    def init(self, df: DataFrame) -> int:
        """First commit if the table doesn't exist yet; no-op (returns
        the live version) when it does — the idempotent bootstrap for
        build-once state tables."""
        ver = self.version()
        if ver is not None:
            return ver
        try:
            return self.commit(df, expect_version=0)
        except ConcurrentWriteError:
            return self.version()  # lost the bootstrap race: theirs won


    def adopt_plain(self) -> bool:
        """Migrate a legacy plain-parquet directory (the old
        ``_SUCCESS``-swap layout) in place: move its files into a
        snapshot dir and write the pointer. Returns True if migrated.

        The whole migration runs under COMMIT_LOCK: unlike a normal
        commit (whose long write phase stages into a private dir), the
        migration renames SHARED legacy files, so two unsynchronized
        first-writers would split them across two half-empty snapshots
        (a torn table). The lock serializes them; the loser re-checks
        ``exists()`` and no-ops. The file moves themselves are fast
        (renames, no data copy), so holding the lock here is cheap."""
        if self.exists() or not os.path.isdir(self.root):
            return False
        self._acquire_lock()
        try:
            if self.exists():
                return False  # lost the migration race: theirs won
            entries = [e for e in os.listdir(self.root)
                       if not e.startswith(
                           ("snap-", ".ptr-", self.LOCK, self.LOG_DIR))]
            if not entries:
                return False
            snap = self._snapshot_name(1)
            snap_path = os.path.join(self.root, snap)
            os.makedirs(snap_path)
            for e in entries:
                os.rename(
                    os.path.join(self.root, e), os.path.join(snap_path, e)
                )
            # schema intentionally blank: the next evolving commit
            # falls back to the parquet footers (_live_schema)
            self._install(snap, 1, {"partition_by": [], "schema_json": ""})
            return True
        finally:
            self._release_lock()
