"""Schema evolution, alignment, and the physical-to-logical column map."""

from __future__ import annotations

import json

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .errors import SchemaEvolutionError

# lossless scalar widenings (Delta-style type widening, Spark 4 set):
# each maps a DataType.simpleString() -> the types it may widen INTO.
_WIDEN: dict[str, tuple[str, ...]] = {
    "tinyint": ("smallint", "int", "bigint", "double"),
    "smallint": ("int", "bigint", "double"),
    "int": ("bigint", "double"),
    "float": ("double",),
    "date": ("timestamp",),
}



def _widens(frm: T.DataType, to: T.DataType) -> bool:
    return to.simpleString() in _WIDEN.get(frm.simpleString(), ())



def evolve_schema(old: T.StructType, new: T.StructType) -> T.StructType:
    """Union-by-name of a committed table schema and an incoming
    commit's schema: old columns first (type-widened where the incoming
    side is wider), new-only columns appended. Raises
    :class:`SchemaEvolutionError` on any narrowing — a dropped column
    is fine (it stays, null-filled), but an incompatible or lossy type
    change is not."""
    new_by_name = {f.name: f for f in new.fields}
    fields: list[T.StructField] = []
    for f in old.fields:
        n = new_by_name.pop(f.name, None)
        if n is None or n.dataType == f.dataType:
            fields.append(f)
        elif _widens(f.dataType, n.dataType):
            fields.append(T.StructField(f.name, n.dataType, True))
        elif _widens(n.dataType, f.dataType):
            fields.append(f)  # incoming is narrower: cast UP on align
        else:
            raise SchemaEvolutionError(
                f"column {f.name!r}: committed type {f.dataType.simpleString()} "
                f"is incompatible with incoming {n.dataType.simpleString()} "
                f"(only {_WIDEN} widenings evolve; use schema_mode='replace' "
                f"to rewrite the table schema deliberately)"
            )
    fields.extend(new_by_name.values())
    return T.StructType(fields)



def align_to_schema(df: DataFrame, schema: T.StructType) -> DataFrame:
    """Project ``df`` onto ``schema`` by name: missing columns become
    typed NULLs, narrower columns are cast up (the caller guarantees
    via :func:`evolve_schema` that every cast is lossless)."""
    have = {f.name for f in df.schema.fields}
    cols = [
        F.col(f.name).cast(f.dataType).alias(f.name)
        if f.name in have
        else F.lit(None).cast(f.dataType).alias(f.name)
        for f in schema.fields
    ]
    return df.select(*cols)



def _phys_schema(entry: dict | None) -> "T.StructType | None":
    """The entry's committed schema in PHYSICAL column names (what the
    files actually carry), or None for legacy/adopted entries without
    a recorded schema."""
    if not entry or not entry.get("schema"):
        return None
    try:
        logical = T.StructType.fromJson(json.loads(entry["schema"]))
    except (ValueError, KeyError, TypeError):
        return None
    cmap = entry.get("column_map") or {}
    return T.StructType(
        [
            T.StructField(cmap.get(f.name, f.name), f.dataType, f.nullable)
            for f in logical.fields
        ]
    )



def _apply_map(df: DataFrame, entry: dict | None) -> DataFrame:
    """Rename PHYSICAL parquet column names to the entry's LOGICAL
    names (``column_map``: logical -> physical, non-identity pairs
    only) and project away DROPPED physical columns (``dropped``) —
    the read half of metadata-only RENAME and DROP COLUMN (Delta
    column mapping ``name`` mode). A no-op for tables never renamed
    or dropped from."""
    # drop BEFORE rename: both lists hold PHYSICAL names and are
    # disjoint, but a later rename (or metadata-only ADD) may reuse a
    # dropped column's name as its new LOGICAL name — the stale
    # physical column must be gone before that name lands, or the two
    # would collide (for ADD, the stale bytes would silently
    # resurrect as the new column's values).
    dropped = (entry or {}).get("dropped")
    if dropped:
        df = df.drop(*[c for c in dropped if c in df.columns])
    cmap = (entry or {}).get("column_map")
    if cmap:
        df = df.withColumnsRenamed(
            {phys: logi for logi, phys in cmap.items()}
        )
    # metadata-only ADD COLUMN: the entry schema carries fields the
    # hardlinked files don't — null-fill them with their declared type
    # (parquet-declared reads and the Arrow data source do the same
    # fill natively; this is the plain-DataFrame read's half).
    if (entry or {}).get("added"):
        schema = T.StructType.fromJson(json.loads(entry["schema"]))
        for f in schema.fields:
            if f.name not in df.columns:
                df = df.withColumn(f.name, F.lit(None).cast(f.dataType))
        df = df.select(*[f.name for f in schema.fields])
    return df



def _diff_frames(old: DataFrame, new: DataFrame, keys: list[str]) -> DataFrame:
    """Change rows between two table states — the join :meth:`
    ManifestTable.diff` documents; shared by commit-time CDF
    materialization so the persisted feed and the lazy diff are the
    same computation by construction."""
    if old.columns != new.columns:
        # align by name so schema evolution between the versions
        # diffs as value changes (added columns: null pre-image)
        unioned = evolve_schema(old.schema, new.schema)
        old = align_to_schema(old, unioned)
        new = align_to_schema(new, unioned)
    cols = old.columns
    vals = [c for c in cols if c not in keys]
    # presence markers instead of key-null checks: NULL key values
    # then diff as ordinary (null-safe-matched) rows instead of
    # being misclassified as inserts/deletes
    o = old.withColumn("__in_old", F.lit(True)).alias("o")
    n = new.withColumn("__in_new", F.lit(True)).alias("n")
    cond = None
    for k in keys:
        eq = F.col(f"o.{k}").eqNullSafe(F.col(f"n.{k}"))
        cond = eq if cond is None else (cond & eq)
    joined = o.join(n, cond, "full_outer")
    row_o = F.struct(*[F.col(f"o.{c}").alias(c) for c in cols])
    row_n = F.struct(*[F.col(f"n.{c}").alias(c) for c in cols])
    changed = F.lit(False)
    for c in vals:
        changed = changed | ~F.col(f"o.{c}").eqNullSafe(F.col(f"n.{c}"))
    mk = lambda tag, row: F.struct(  # noqa: E731
        F.lit(tag).alias("_change_type"), row.alias("r")
    )
    # typed empty array for the unchanged branch (F.array() alone
    # is array<null> and would fail the union of branch types)
    empty = F.slice(F.array(mk("x", row_o)), 1, 0)
    cases = (
        F.when(F.col("o.__in_old").isNull(), F.array(mk("insert", row_n)))
        .when(F.col("n.__in_new").isNull(), F.array(mk("delete", row_o)))
        .when(
            changed,
            F.array(
                mk("update_preimage", row_o),
                mk("update_postimage", row_n),
            ),
        )
        .otherwise(empty)
    )
    return (
        joined.select(F.explode(cases).alias("c"))
        .select(F.col("c._change_type").alias("_change_type"), "c.r.*")
    )
