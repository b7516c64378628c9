"""Transaction-layer error contract (split from txn.py, r14)."""

from __future__ import annotations




class ConcurrentWriteError(RuntimeError):
    """The table advanced past the version this commit was based on —
    the optimistic-concurrency conflict (re-read and retry, exactly
    like a Delta/Iceberg commit conflict)."""



class SnapshotExpiredError(FileNotFoundError):
    """The requested version existed but its snapshot directory was
    garbage-collected (it aged past the retention contract). Distinct
    from "no such version" so a time-travel caller can tell a typo'd
    version from an expired one — the same split Delta makes between
    `versionAsOf` out of range and `FileNotFoundException` on vacuumed
    data files."""



class ConstraintViolationError(ValueError):
    """A committed CHECK constraint evaluated FALSE for at least one
    row of the incoming snapshot — the commit is aborted and the
    staged files removed (Delta CHECK-constraint semantics: NULL
    satisfies, FALSE rejects the whole transaction)."""



class SchemaEvolutionError(ValueError):
    """The incoming schema would NARROW the committed table schema
    (dropped-column types cannot be restored, or a lossy type change
    like long -> int / double -> float). Widening — new columns,
    byte/short/int -> long, float -> double, int -> double — is
    applied automatically; narrowing must be an explicit
    ``schema_mode="replace"`` commit."""



class AuditFailedError(ValueError):
    """The write-audit-publish audit gate rejected the staged changes:
    at least one post-image row entering the main table failed the
    audit predicate. Nothing was published — the branch keeps the
    staged state for the caller to fix and re-publish."""



class PublishConflictError(RuntimeError):
    """:meth:`ManifestTable.publish_from` found keys changed by BOTH
    the branch and the main table since the branch was cut — a
    write-write conflict no automatic rebase can resolve safely.
    Deliberately NOT a :class:`ConcurrentWriteError`: retrying cannot
    fix it (the histories diverged); the caller must re-cut the
    branch or pass ``on_conflict="ours"`` to let the branch win."""



class UnreadableRootError(ValueError):
    """The table root contains a character Hadoop's path glob reads as
    pattern syntax (``\\``, ``[``, ``]``, ``{``, ``}``). A commit there
    would succeed, but every Spark read of the table would then fail
    (an invalid escape, or a pattern that matches no path), so the
    root is refused when the :class:`ManifestTable` is built. ``*``
    and ``?`` are also glob syntax but match themselves, and those
    roots read back."""
