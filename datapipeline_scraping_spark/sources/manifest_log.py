"""The manifest table's commit format, read with the stdlib only: the
``CURRENT`` pointer file (``"<snapshot dirname>\\n<version>"``) and the
``_log/<version>.json`` entries, and the Delta-style version / time-travel
resolution on top of them. The table layer, ``predicate_view`` and the
read-only data source's Python workers all read versions through here."""

from __future__ import annotations

import json
import os

POINTER = "CURRENT"
LOG_DIR = "_log"


def log_path(root: str, version: int) -> str:
    return os.path.join(root, LOG_DIR, f"{version:08d}.json")


def read_pointer(root: str) -> tuple[str, int] | None:
    """``(snapshot dirname, version)`` of the live commit, or None when
    the table has none."""
    try:
        with open(os.path.join(root, POINTER)) as fh:
            snap, ver = fh.read().splitlines()[:2]
        return snap, int(ver)
    except (FileNotFoundError, ValueError):
        return None


def pointer_version(root: str) -> int:
    """Live committed version (0 = none)."""
    ptr = read_pointer(root)
    return 0 if ptr is None else ptr[1]


def read_log_entry(root: str, version: int) -> dict | None:
    """One version's log entry, or None if it is missing or unreadable."""
    try:
        with open(log_path(root, version)) as fh:
            return json.load(fh)
    except (OSError, ValueError):
        return None


def resolve_version(options) -> tuple[str, int, dict]:
    """``(root, version, entry)`` for the ``root`` / ``version`` / ``asof``
    options with Delta-style time-travel semantics. Raises on a GC'd or
    unknown version — never silently older state."""
    root = options["root"]
    if "version" in options and "asof" in options:
        raise ValueError("options version and asof are mutually exclusive")
    if "version" in options:
        ver = int(options["version"])
    elif "asof" in options:
        ts = float(options["asof"])
        live = pointer_version(root)
        ver = None
        for v in range(live, 0, -1):
            e = read_log_entry(root, v)
            if e is not None and e.get("ts", float("inf")) <= ts:
                ver = v
                break
        if ver is None:
            raise FileNotFoundError(f"{root}: no commit at or before ts={ts}")
    else:
        ver = pointer_version(root)
        if not ver:
            raise FileNotFoundError(f"no committed snapshot under {root}")
    entry = read_log_entry(root, ver)
    if entry is None:
        raise FileNotFoundError(f"{root}: no commit log entry for v{ver}")
    snap = os.path.join(root, entry["snapshot"])
    if not os.path.isdir(snap):
        raise FileNotFoundError(
            f"{root}: version {ver} aged past the retention contract and "
            f"its snapshot was garbage-collected"
        )
    return root, ver, entry
