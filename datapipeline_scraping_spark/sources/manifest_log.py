"""The manifest table's commit format, read with the stdlib only: the
``CURRENT`` pointer file (``"<snapshot dirname>\\n<version>"``) and the
``_log/<version>.json`` entries. The table layer and the JVM-free
datasource planner workers both resolve versions through this pair."""

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
