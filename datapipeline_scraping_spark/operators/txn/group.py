"""Cross-table transaction groups: intents, recovery, atomic multi-root swap."""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from .errors import ConcurrentWriteError, SchemaEvolutionError
from .layout import GROUP_INTENT
from .schema import align_to_schema, evolve_schema
from .table import ManifestTable


def _member_swapped(m: dict) -> bool:
    """True iff the GROUP's OWN commit for this member is durably
    visible. Pointer-version comparison alone is not proof (ADVICE
    r10): after stale-lock expiry an INDEPENDENT single-table writer
    can reuse the same version number, so the test is snapshot-NAME
    identity — the pointer (or, for later versions built on top, the
    log entry at the intent's version) must still name the intent's
    snapshot."""
    t = ManifestTable(m["root"])
    ptr = t._pointer()
    if ptr is None or ptr[1] < m["version"]:
        return False
    if ptr[1] == m["version"]:
        return ptr[0] == m["snapshot"]
    e = t._log_entry(m["version"])
    return e is not None and e.get("snapshot") == m["snapshot"]



def _complete_group_intent(intent: dict) -> None:
    """Roll a crashed group commit FORWARD: for every member whose
    pointer has not yet reached the intended version, finish the swap
    (the log entry was written before any pointer moved, so the data
    and metadata are already durable — only the pointer is missing).
    Idempotent; safe to call from any member.

    Each swap runs under the member's COMMIT LOCK with the pointer and
    log entry re-read inside it (ADVICE r10): an independent writer
    that landed its own commit at the same version number (stale-lock
    expiry + version reuse) must not have its pointer clobbered, so
    the swap fires only when the log entry at the intent's version
    still names the intent's snapshot — i.e. recovery publishes the
    GROUP's commit, never anyone else's."""
    for m in intent["members"]:
        t = ManifestTable(m["root"])
        t._acquire_lock()
        try:
            ptr = t._pointer()
            cur = 0 if ptr is None else ptr[1]
            if cur >= m["version"]:
                continue
            entry = t._log_entry(m["version"])
            if (
                entry is None
                or entry.get("snapshot") != m["snapshot"]
                or not os.path.isdir(os.path.join(t.root, m["snapshot"]))
            ):
                # the group never reached the swap phase for this
                # member, or an independent writer's commit intent
                # superseded the entry — leave the table alone (the
                # intent is a dead letter for this member)
                continue
            t._swap_pointer(m["snapshot"], m["version"])
        finally:
            t._release_lock()



def _read_intent(path: str) -> dict | None:
    try:
        with open(path) as fh:
            return json.load(fh)
    except (OSError, ValueError):
        return None



def _unlink_intents(intent: dict) -> None:
    """Remove the group's intent files, matching by gid: a DIFFERENT
    group over an overlapping member set may have dropped its own
    intent at a shared member root meanwhile, and a blind unlink would
    dead-letter that live group. Each file is claimed by atomic rename
    (exactly one cleaner wins), checked, and a foreign gid restored via
    ``os.link`` — which fails harmlessly if the owner re-created the
    path, so a third writer's fresh intent is never clobbered (same
    pattern as the stale-lock breaker in :meth:`_acquire_lock`)."""
    gid = intent.get("gid")
    for m in intent["members"]:
        path = os.path.join(m["root"], GROUP_INTENT)
        claimed = f"{path}.rm-{uuid.uuid4().hex[:8]}"
        try:
            os.rename(path, claimed)
        except FileNotFoundError:
            continue
        found = _read_intent(claimed)
        if found is not None and found.get("gid") not in (None, gid):
            try:
                os.link(claimed, path)
            except (FileExistsError, OSError):
                pass
        try:
            os.unlink(claimed)
        except FileNotFoundError:  # pragma: no cover - cleaner races
            pass



def recover_group(root: str) -> bool:
    """Complete a crashed :class:`TransactionGroup` commit touching the
    table at ``root``, if one is pending. Returns True if an intent
    was found and processed. A group whose FIRST pointer never swapped
    is rolled back implicitly (its logged-but-unpointed entries are
    overwritten by version-number reuse, exactly like a crashed
    single-table commit); a group that swapped any pointer is rolled
    FORWARD to completion. "Swapped" is proven by snapshot-name
    identity (:func:`_member_swapped`), never by version comparison
    alone — an independent writer reusing a version number after
    stale-lock expiry must not make recovery publish a never-committed
    group (ADVICE r10).

    An unswapped intent is NOT immediately a dead letter (ADVICE r11):
    a LIVE group sits exactly in that state between dropping its
    intent files (step 5) and its first pointer swap (step 6). That
    group holds every member's commit lock from CAS to intent removal,
    so recovery takes THIS member's lock before judging — a live group
    blocks us until it settles (intent gone, or swapped and
    roll-forwardable), and an intent still unswapped UNDER the lock
    can only belong to a group that crashed before any swap. Intent
    removal matches by gid (:func:`_unlink_intents`) so a different
    group's fresh intent at a shared member is never dead-lettered."""
    path = os.path.join(root, GROUP_INTENT)
    intent = _read_intent(path)
    if intent is None:
        return False
    if not any(_member_swapped(m) for m in intent["members"]):
        t = ManifestTable(root)
        t._acquire_lock()
        try:
            intent = _read_intent(path)
            if intent is None:
                return True  # the group settled while we waited
            swapped = any(_member_swapped(m) for m in intent["members"])
        finally:
            t._release_lock()
        if not swapped:
            # crashed before any swap: members roll back by
            # version-number reuse; the intents are dead letters
            _unlink_intents(intent)
            return True
    _complete_group_intent(intent)
    _unlink_intents(intent)
    return True



class TransactionGroup:
    """Atomic commit across SEVERAL :class:`ManifestTable`s — the
    all-or-nothing multi-table transaction mainstream lake formats
    don't offer (Delta/Iceberg transactions are single-table), and the
    contract a table + its derived index need: q95/q106-class
    consumers maintain an ANN/bucket index NEXT TO the corpus table,
    and a reader that sees the new corpus with the old index (or vice
    versa) computes garbage. At 100 TB the snapshot writes dominate
    and run UNLOCKED and in parallel upstream; the serialized section
    is per-table: one CAS + one log write + one pointer swap each.

    Protocol (all-or-nothing on an atomic-rename filesystem):

    1. stage every member's snapshot (long, unlocked);
    2. take every member's commit lock in canonical root order
       (deadlock-free against any other group over the same tables);
    3. CAS-check every member's version under lock — any mismatch
       aborts the WHOLE group before anything is visible;
    4. write every member's log entry (logged-but-unpointed = invisible
       intent, as in the single-table protocol);
    5. drop a group-intent file in every member root;
    6. swap pointers in canonical order;
    7. remove the intents, release locks, GC.

    A crash before the first pointer swap rolls the whole group back
    (unpointed entries are overwritten by version reuse). A crash
    after any swap leaves the intent files, and :func:`recover_group`
    — called automatically by the next group commit or read — rolls
    the group FORWARD, so readers can never durably observe a torn
    group. Readers wanting a guaranteed-consistent view call
    :meth:`read_all`, which runs recovery first and then resolves all
    members' heads under a consistent cut."""

    def __init__(self, *tables: ManifestTable):
        if len(tables) < 2:
            raise ValueError("a TransactionGroup needs at least 2 tables")
        self.tables = sorted(
            tables, key=lambda t: os.path.realpath(t.root)
        )
        roots = [os.path.realpath(t.root) for t in self.tables]
        if len(set(roots)) != len(roots):
            raise ValueError("duplicate table roots in group")

    def _recover_all(self) -> None:
        for t in self.tables:
            recover_group(t.root)

    def commit(
        self,
        writes: dict[str, "DataFrame | tuple[str, DataFrame]"],
        *,
        expect_versions: dict[str, int] | None = None,
        meta: dict | None = None,
        keep_snapshots: int = 2,
    ) -> dict[str, int]:
        """Commit every member atomically. ``writes`` maps each
        member's root to either

        - a DataFrame — the member's new FULL state (copy-on-write
          snapshot, the original shape), or
        - ``("commit" | "append" | "append_clustered", DataFrame)`` —
          an explicit op. ``"append"`` / ``"append_clustered"`` stage
          ADD-FILE commits (r12 — VERDICT r11 item 4): the base
          snapshot hardlinks forward and only the batch is written, so
          a corpus + derived-index pair can advance atomically per
          ingest batch at O(batch) cost instead of rewriting both
          tables. Append-shaped members carry an IMPLICIT per-member
          CAS on the base version they staged against — any
          interleaved writer aborts the WHOLE group (nothing visible),
          exactly the single-table append contract.

        Every member must be written — a partial group is a
        contradiction in terms; commit the subset through the tables
        directly if independence is fine. ``expect_versions`` (root ->
        version) adds explicit per-member CAS. Returns root -> new
        version. Raises :class:`ConcurrentWriteError` (whole group
        aborted) on any CAS miss."""
        self._recover_all()
        by_root = {os.path.realpath(t.root): t for t in self.tables}
        keyed = {os.path.realpath(r): v for r, v in writes.items()}
        if set(keyed) != set(by_root):
            raise ValueError(
                f"writes must cover the group exactly; missing="
                f"{sorted(set(by_root) - set(keyed))} extra="
                f"{sorted(set(keyed) - set(by_root))}"
            )
        ops: dict[str, tuple[str, DataFrame]] = {}
        for rp, v in keyed.items():
            if isinstance(v, DataFrame):
                ops[rp] = ("commit", v)
            else:
                op, df = v
                if op not in ("commit", "append", "append_clustered"):
                    raise ValueError(
                        f"unknown group member op {op!r} — expected "
                        f"'commit', 'append' or 'append_clustered'"
                    )
                ops[rp] = (op, df)
        for t in self.tables:
            live = t._log_entry(t.version() or 0) or {}
            if (live.get("cdf") or {}).get("key_cols") or live.get("checks"):
                raise ValueError(
                    f"{t.root}: group commits don't compose with the "
                    f"change feed or CHECK constraints yet — commit() "
                    f"those tables individually"
                )
        gid = uuid.uuid4().hex[:16]
        staged: dict[str, str] = {}
        logkw: dict[str, dict] = {}
        base_ver: dict[str, int] = {}  # append members' implicit CAS
        try:
            for t in self.tables:
                rp = os.path.realpath(t.root)
                op, df = ops[rp]
                os.makedirs(t.root, exist_ok=True)
                if op == "append":
                    s, entry, version, part_by, tschema = (
                        t._prepare_append_batch(df)
                    )
                    s, kw = t._stage_append_parts(
                        df.sparkSession,
                        s,
                        entry,
                        version,
                        part_by,
                        tschema,
                        meta=None,
                    )
                    staged[rp], logkw[rp] = s, kw
                    base_ver[rp] = version
                    continue
                if op == "append_clustered":
                    entry, version, snap = t._prepare_clustered_append(
                        df.sparkSession, df
                    )
                    s, kw = t._stage_clustered_append(
                        df.sparkSession, df, entry, snap, meta=None
                    )
                    staged[rp], logkw[rp] = s, kw
                    base_ver[rp] = version
                    continue
                # full-state member — same table-property semantics as
                # single-table commit (ADVICE r10): inherit the live
                # entry's partition layout (a group commit must not
                # silently unpartition a member) and run the
                # align/widen schema validation — new columns append,
                # missing columns null-fill, narrowing raises
                # SchemaEvolutionError instead of committing a snapshot
                # the next merge misaligns with.
                live_entry = t._log_entry(t.version() or 0) or {}
                part_by = list(live_entry.get("partition_by") or [])
                live = t._live_schema(df.sparkSession)
                if live is not None and live != df.schema:
                    df = align_to_schema(df, evolve_schema(live, df.schema))
                missing = [c for c in part_by if c not in df.columns]
                if missing:
                    raise SchemaEvolutionError(
                        f"{t.root}: group write lacks the member's "
                        f"partition columns {missing}"
                    )
                s = t._staging_path()
                writer = df.write.mode("overwrite")
                if part_by:
                    writer = writer.partitionBy(*part_by)
                writer.parquet(s)
                staged[rp] = s
                logkw[rp] = dict(
                    partition_by=part_by, schema_json=df.schema.json()
                )
        except Exception:
            for s in staged.values():
                shutil.rmtree(s, ignore_errors=True)
            raise
        locked: list[ManifestTable] = []
        plan: list[dict] = []
        swapped = False
        try:
            for t in self.tables:
                t._acquire_lock()
                locked.append(t)
            exp = {
                os.path.realpath(r): v
                for r, v in (expect_versions or {}).items()
            }
            for t in self.tables:
                rp = os.path.realpath(t.root)
                ptr = t._pointer()
                cur = 0 if ptr is None else ptr[1]
                if rp in exp and cur != exp[rp]:
                    raise ConcurrentWriteError(
                        f"{t.root}: version {cur} != expected {exp[rp]} — "
                        f"whole group aborted"
                    )
                live_now = t._log_entry(cur) or {}
                if rp in base_ver:
                    # append-shaped member: the staged snapshot embeds
                    # the base's files, so ANY interleaved commit makes
                    # it stale — implicit CAS on the staged-against
                    # version (the single-table append contract,
                    # group-wide abort semantics)
                    if cur != base_ver[rp]:
                        raise ConcurrentWriteError(
                            f"{t.root}: version advanced during group "
                            f"append staging (staged against "
                            f"{base_ver[rp]}, now {cur}) — whole group "
                            f"aborted, re-commit"
                        )
                    continue
                # full-state member: re-validate the inheritance base
                # INSIDE the lock: a writer that advanced it between
                # staging and lock acquisition may have changed its
                # layout, widened its schema, or enabled table
                # properties the group path skips — committing the
                # stale staging would silently revert/bypass them.
                # Abort the whole group (bounded caller retry) rather
                # than restage under all the locks.
                if (live_now.get("cdf") or {}).get("key_cols") or (
                    live_now.get("checks")
                ):
                    raise ConcurrentWriteError(
                        f"{t.root}: a concurrent commit enabled the "
                        f"change feed or CHECK constraints while the "
                        f"group staged — whole group aborted"
                    )
                live_layout = list(live_now.get("partition_by") or [])
                if live_layout != logkw[rp]["partition_by"]:
                    raise ConcurrentWriteError(
                        f"{t.root}: partition layout changed while the "
                        f"group staged — whole group aborted, re-commit"
                    )
                new_live = t._live_schema(ops[rp][1].sparkSession)
                staged_schema = T.StructType.fromJson(
                    json.loads(logkw[rp]["schema_json"])
                )
                if new_live is not None and [
                    (f.name, f.dataType)
                    for f in evolve_schema(new_live, staged_schema).fields
                ] != [(f.name, f.dataType) for f in staged_schema.fields]:
                    raise ConcurrentWriteError(
                        f"{t.root}: live schema evolved while the group "
                        f"staged — whole group aborted, re-commit"
                    )
            for t in self.tables:
                ptr = t._pointer()
                cur = 0 if ptr is None else ptr[1]
                plan.append(
                    {
                        "root": t.root,
                        "version": cur + 1,
                        "snapshot": t._snapshot_name(cur + 1),
                    }
                )
            intent = {"gid": gid, "members": plan}
            for t, m in zip(self.tables, plan):
                rp = os.path.realpath(t.root)
                os.rename(staged[rp], os.path.join(t.root, m["snapshot"]))
                staged[rp] = os.path.join(t.root, m["snapshot"])
                kw = dict(logkw[rp])
                kw_meta = kw.pop("meta", None) or {}
                t._write_log(
                    m["version"],
                    m["snapshot"],
                    kw.pop("partition_by"),
                    kw.pop("schema_json"),
                    meta={
                        **kw_meta,
                        **(meta or {}),
                        "txn": {"gid": gid, "roots": [p["root"] for p in plan]},
                    },
                    **kw,
                )
            for t in self.tables:
                tmp = os.path.join(t.root, f".grp-{uuid.uuid4().hex[:8]}")
                with open(tmp, "w") as fh:
                    json.dump(intent, fh)
                os.replace(tmp, os.path.join(t.root, GROUP_INTENT))
            for t, m in zip(self.tables, plan):
                t._swap_pointer(m["snapshot"], m["version"])
                t.last_snapshot = m["snapshot"]
                swapped = True
            for t in self.tables:
                try:
                    os.unlink(os.path.join(t.root, GROUP_INTENT))
                except FileNotFoundError:
                    pass
        finally:
            for t in locked:
                t._release_lock()
            if not swapped:
                for s in staged.values():
                    shutil.rmtree(s, ignore_errors=True)
        for t in self.tables:
            t._gc(keep=keep_snapshots)
        return {m["root"]: m["version"] for m in plan}

    def read_all(self, spark: SparkSession) -> dict[str, DataFrame]:
        """Consistent read of every member: completes any crashed group
        first (roll-forward), then reads each member's head. Because
        every group commit is all-or-nothing after recovery, the heads
        form a consistent cut whenever writes go through the group."""
        self._recover_all()
        return {t.root: t.read(spark) for t in self.tables}
