"""Incremental delta detection — the heart of the reference pipeline
(H2/H3/H5/H6 in SURVEY.md §2.3).

The reference pulls the whole raw ledger into a Python dict and probes
it per row (``src/storage.py:67-74``, ``dags/scraping_etl.py:59-69``):

    if pid not in existing or existing[pid] != h:  -> to_detail
    else:                                          -> bypass

In Spark that probe IS a join: new-or-changed = left-anti join on
``(key, hash)``, unchanged = left-semi join on ``(key, hash)``. The
dict build is the broadcast build side of a hash join.

Scale notes (100 TB): for a small ledger the engine broadcasts it
(reproducing the reference's in-memory probe exactly); for a huge
ledger AQE picks a shuffled hash/sort-merge join that shards state by
key — nothing collects to the driver either way. Both split sides
come from ONE join pass when the caller uses them in the same plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def delta_split(
    incoming: DataFrame,
    state: DataFrame,
    key: str,
    hash_col: str = "row_hash",
) -> tuple[DataFrame, DataFrame]:
    """Split ``incoming`` into ``(changed, bypass)`` against ``state``.

    ``changed`` = new keys or keys whose hash differs (reference
    ``dags/scraping_etl.py:59-69``); ``bypass`` = unchanged rows that
    skip the expensive downstream stages (H3).

    ``state`` is probed as it is, with no dedup: a left-anti or
    left-semi join emits each incoming row at most once whatever the
    number of matching probe rows, so duplicated ``(key, hash)`` pairs
    in the state cannot change either side. A ``dropDuplicates`` here
    would only add an Exchange and a HashAggregate over the whole
    state to every batch.
    """
    probe = state.select(key, hash_col)
    changed = incoming.join(probe, on=[key, hash_col], how="left_anti")
    bypass = incoming.join(probe, on=[key, hash_col], how="left_semi")
    return changed, bypass


def ledger_records(
    incoming: DataFrame,
    key: str,
    hash_col: str = "row_hash",
) -> DataFrame:
    """H6: the ``(lookup_key, row_hash)`` pairs for the ledger upsert
    (reference: ``dags/scraping_etl.py:61-64``). ``last_seen`` is
    stamped by the sink (``current_timestamp()``), mirroring the
    DB-default behavior the reference relies on
    (``src/storage.py:44-46``)."""
    return incoming.select(
        F.col(key).alias("lookup_key"), F.col(hash_col).alias("row_hash")
    )
