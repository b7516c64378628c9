"""Upsert/MERGE and union-of-accreted-schemas operators
(S10/S11, U1/U2 in SURVEY.md §2).

The reference upserts with ``INSERT ... ON CONFLICT (pk) DO UPDATE``
(``src/storage.py:41-53,90-131``) and merges detail columns over list
records with ``dict.update`` (``src/scrapers/scraper.py:104-107``).
Without a transactional table format the engine emulates MERGE as

    result = source UNION ALL (target ANTI-JOIN source ON pk)

which is idempotent and SQL-expressible (SURVEY.md §7.3). On a real
deployment the same API swaps in Delta/Iceberg ``MERGE INTO``.

``txn.merge_commit`` — behind both ``merge_write`` and SQL ``MERGE
INTO`` — runs exactly this rewrite (:func:`merge_upsert`) for every
merge without a clause or schema evolution; only conditional or
evolving merges pay :func:`merge_into`'s full-outer join.

Scale notes: the source is churn-sized, so AQE broadcasts its keys
and the anti join is a filter on the target scan — the target is read
once and never shuffled or sorted. A source too large to broadcast
shards both sides by pk instead. Sinks should be written partitioned
(e.g. by date) so the rewrite touches only affected partitions
(partition-overwrite-dynamic).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def merge_upsert(
    target: DataFrame, source: DataFrame, pk: str | list[str]
) -> DataFrame:
    """S10: source rows win on pk conflict; unmatched target rows kept.
    A list ``pk`` is a composite key (a row with any NULL key column
    matches nothing).

    Same rows and schema as :func:`merge_into` with no clauses: the
    output has the target's columns (extra source columns drop, a
    missing one is an analysis error), NULL pks never match, and a
    duplicated source pk inserts every copy. The source is read twice
    (its keys, its rows), so a source with an expensive or
    non-deterministic lineage should be cached first."""
    cols = target.columns
    kept = target.join(source.select(pk), on=pk, how="left_anti")
    return source.select(*cols).unionByName(kept)


def merge_into(
    target: DataFrame,
    source: DataFrame,
    pk: str | list[str],
    *,
    matched_delete: Column | None = None,
    matched_update: Column | None = None,
    matched_set: dict[str, Column] | None = None,
    not_matched_insert: Column | None = None,
    check_unique_source: bool = False,
    schema_evolution: bool = False,
) -> DataFrame:
    """Full conditional MERGE semantics (ANSI `MERGE INTO` / Delta-style)
    as ONE full-outer join + CASE routing — the relational rewrite of
    the reference's ``INSERT ... ON CONFLICT DO UPDATE``
    (``src/storage.py:41-53``) generalized with conditions:

    - matched  + ``matched_delete``  → row dropped
    - matched  + ``matched_update``  → source values win
    - matched  otherwise             → target row kept unchanged
    - source-only (NOT MATCHED)      → inserted
    - target-only                    → kept

    Conditions are Columns over the prefixed views ``t`` (target) and
    ``s`` (source) — reference them as ``F.col("t.x")`` /
    ``F.col("s.x")``.  Omitted conditions default to the classic upsert
    (update every match, delete nothing), making ``merge_upsert`` the
    degenerate case.

    ``pk`` may be a LIST of columns — a composite merge key joined as
    an AND of per-column equalities (ANSI ``ON a.k1 = b.k1 AND a.k2 =
    b.k2``); a source row with ANY NULL key column matches no target
    row (SQL equality) and routes as NOT MATCHED, exactly like the
    single-key case.

    ``matched_set``: explicit ``UPDATE SET col = expr`` assignments
    (``{column: Column over the t/s views}``) instead of the
    ``UPDATE SET *`` default — updated rows take the assignment
    expressions for the listed columns and KEEP their target values
    for every other column (ANSI UPDATE SET semantics; inserts still
    take the full source row). Assigning a merge-key column raises.

    ``not_matched_insert``: condition for ``WHEN NOT MATCHED AND cond
    THEN INSERT`` — a source-only row inserts only when the condition
    is TRUE (NULL/FALSE drops it); ``None`` inserts every source-only
    row (the ``INSERT *`` default).

    ANSI/Delta clause semantics are honoured precisely:

    - A clause condition that evaluates to SQL NULL does **not** fire
      (``WHEN MATCHED AND cond`` requires cond = TRUE); conditions are
      null-protected with ``coalesce(cond, FALSE)`` so a NULL
      ``matched_delete`` falls through to update/keep rather than
      silently deleting under three-valued logic.
    - Matched / source-only routing uses per-side presence markers
      (a ``lit(True)`` flag added before the join), NOT pk nullness —
      a target row whose own pk is NULL is correctly kept as
      target-only instead of being misrouted as an insert.
    - ANSI MERGE errors when multiple source rows match one target row;
      like Delta's default we require a unique source pk.  Duplicate
      source pks would fan matched target rows out — call
      ``merge_into(..., check_unique_source=True)`` to add a
      plan-side guard that fails the job on the first duplicate.

    Scale: one shuffle on pk (the full-outer join); both sides shard by
    the merge key, no driver state.  On a transactional table format
    (Delta/Iceberg) the same call maps 1:1 onto ``MERGE INTO``'s
    WHEN MATCHED [AND cond] THEN DELETE/UPDATE clauses — this rewrite
    produces the new table contents for a non-transactional sink
    (overwrite of the affected partitions).

    Schema drift: by default the output schema IS the target schema —
    extra source columns are dropped (SQL MERGE's explicit UPDATE SET
    semantics; a source missing a target column is an analysis error,
    never a silent null). ``schema_evolution=True`` (Delta autoMerge
    parity, VERDICT r7 item 5) widens instead: new source columns
    append (null for kept/unmatched target rows), lossless type
    widenings apply to both sides, and a narrowing incompatibility
    raises :class:`..txn.SchemaEvolutionError` — the accretive
    detail-merge layer of the reference (SURVEY §1.2,
    ``src/scrapers/scraper.py:106``) as a sound relational rewrite."""
    keys = [pk] if isinstance(pk, str) else list(pk)
    if not keys:
        raise ValueError("merge_into: pk must name at least one column")
    if matched_set is not None:
        bad = sorted(set(matched_set) & set(keys))
        if bad:
            raise ValueError(
                f"merge_into: UPDATE SET on merge-key column(s) {bad} "
                f"is a delete+insert, not an update"
            )
    if schema_evolution:
        # local import: txn imports merge (one-way dependency)
        from .txn import align_to_schema, evolve_schema

        out_schema = evolve_schema(target.schema, source.schema)
        # columns the source genuinely carries: only these update a
        # matched row — a target column MISSING from the source keeps
        # its target value (Delta updateAll semantics), it is NOT
        # nulled by the alignment's null-fill
        update_cols = set(source.columns)
        target = align_to_schema(target, out_schema)
        source = align_to_schema(source, out_schema)
    else:
        update_cols = set(target.columns)
    cols = target.columns
    if check_unique_source:
        # Distributed guard, no driver action: count per pk and raise
        # inside the row pipeline on the first duplicate.  raise_error
        # is codegen'd JVM-side; the window shares the join's pk shuffle.
        from pyspark.sql import Window

        # count only fully-non-NULL keys: a source row with any NULL
        # key column is an ordinary NOT-MATCHED insert under
        # ANSI/Delta (NULL matches no target row), not a duplicate
        all_set = None
        for k in keys:
            c = F.col(k).isNotNull()
            all_set = c if all_set is None else (all_set & c)
        n = F.count(F.when(all_set, F.lit(1))).over(
            Window.partitionBy(*keys)
        )
        # Embed the guard in a key column the join must evaluate, so
        # column pruning can't eliminate it.
        guard_col = keys[0]
        source = source.withColumn(
            guard_col,
            F.when(
                all_set & (n > 1),
                F.raise_error(
                    F.concat_ws(
                        " ",
                        F.lit("merge_into: duplicate source pk"),
                        *[F.col(k).cast("string") for k in keys],
                    )
                ).cast(source.schema[guard_col].dataType),
            ).otherwise(F.col(guard_col)),
        )
    t = target.withColumn("__t_present", F.lit(True)).alias("t")
    s = source.withColumn("__s_present", F.lit(True)).alias("s")
    on = None
    for k in keys:
        eq = F.col(f"t.{k}") == F.col(f"s.{k}")
        on = eq if on is None else (on & eq)
    joined = t.join(s, on=on, how="full_outer")
    is_matched = F.col("t.__t_present").isNotNull() & F.col("s.__s_present").isNotNull()
    src_only = F.col("t.__t_present").isNull()
    delete_cond = (
        is_matched & F.coalesce(matched_delete, F.lit(False))
        if matched_delete is not None
        else F.lit(False)
    )
    update_cond = (
        is_matched & F.coalesce(matched_update, F.lit(False))
        if matched_update is not None
        else is_matched
    )
    insert_cond = (
        src_only & F.coalesce(not_matched_insert, F.lit(False))
        if not_matched_insert is not None
        else src_only
    )
    do_update = update_cond & ~delete_cond
    if matched_set is None:
        take_source = insert_cond | do_update
        out_cols = [
            (
                F.when(take_source, F.col(f"s.{c}")).otherwise(F.col(f"t.{c}"))
                if c in update_cols
                else F.col(f"t.{c}")
            ).alias(c)
            for c in cols
        ]
    else:
        # explicit assignments: updated rows take the SET expressions
        # for listed columns and keep target values elsewhere; inserts
        # still take the full source row. Assignments cast back to the
        # column's target type (Delta UPDATE SET semantics) so the
        # merge output schema always equals the target schema.
        dtypes = {f.name: f.dataType for f in target.schema.fields}
        missing = sorted(set(matched_set) - set(cols))
        if missing:
            raise ValueError(
                f"merge_into: UPDATE SET on unknown column(s) {missing}"
            )
        out_cols = []
        for c in cols:
            col = F.col(f"t.{c}")
            if c in matched_set:
                col = F.when(
                    do_update, matched_set[c].cast(dtypes[c])
                ).otherwise(col)
            if c in update_cols:
                col = F.when(insert_cond, F.col(f"s.{c}")).otherwise(col)
            out_cols.append(col.alias(c))
    # a source-only row failing its NOT MATCHED condition emits nothing
    return joined.filter(~delete_cond & ~(src_only & ~insert_cond)).select(
        *out_cols
    )


def union_accreted(detailed: DataFrame, bypass: DataFrame) -> DataFrame:
    """U1: union streams whose schemas accreted differently mid-pipeline
    (detailed rows carry extra detail columns; reference
    ``dags/scraping_etl.py:108-114``)."""
    return detailed.unionByName(bypass, allowMissingColumns=True)


def overlay_merge(
    base: DataFrame, detail: DataFrame, on: str, *, detail_wins: bool = True
) -> DataFrame:
    """U2: detail columns overlay the base record for the same key
    (``b['meta'].update(detail)``, reference
    ``src/scrapers/scraper.py:104-107``); rows with no detail match
    pass through untouched (S2 pass-through semantics)."""
    overlap = [c for c in detail.columns if c in base.columns and c != on]
    d = detail
    for c in overlap:
        d = d.withColumnRenamed(c, f"__d_{c}")
    out = base.join(d, on=on, how="left")
    for c in overlap:
        winner = (
            F.coalesce(F.col(f"__d_{c}"), F.col(c))
            if detail_wins
            else F.coalesce(F.col(c), F.col(f"__d_{c}"))
        )
        out = out.withColumn(c, winner).drop(f"__d_{c}")
    return out


def keyed_multi_get(df: DataFrame, key: str, ids: list) -> DataFrame:
    """S8: ``WHERE lookup_key = ANY(%s)`` (reference
    ``src/storage.py:76-88``). For huge id lists pass a DataFrame and
    use a semi join instead; ``isin`` keeps it a pushed-down scan
    filter for small lists."""
    return df.where(F.col(key).isin(ids))
