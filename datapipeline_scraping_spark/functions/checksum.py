"""Canonical row checksums (operator H1 in SURVEY.md §2.3).

The reference computes ``md5(json.dumps({k: item.get(k, '') for k in
hash_fields}, sort_keys=True, ensure_ascii=False))`` over a configured
field subset (reference: ``src/scrapers/scraper.py:53-56``, field lists
``configs/colombia.yml:54-60`` / ``configs/peru.yml:49-55``). The JSON
byte format is engine-hostile, so this engine re-specifies the
canonical form (SURVEY.md §7.3) as

    md5(concat_ws(US, coalesce(cast(f1 as string), ''), ...))

with fields in sorted-name order and US = ``\\x1f`` (ASCII unit
separator) so ``('ab','c')`` and ``('a','bc')`` cannot collide. The
preserved reference *semantics*: fixed field subset, missing -> '',
input-order insensitivity (sorted names). DuckDB replicates it exactly
as ``md5(concat_ws(chr(31), coalesce(CAST(f AS VARCHAR), ''), ...))``.

Scale note: pure narrow projection — no shuffle, whole-stage codegen,
safe at any scale.

WARNING on float columns: double->string formatting differs across
engines; canonicalize numeric columns first (see :func:`canon`).
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .sqltext import ident, string_lit

UNIT_SEP = "\x1f"


def canon(col: Column | str, dtype: str | None = None) -> Column:
    """Canonicalize a column to a cross-engine-stable string.

    - integers/strings/dates cast directly;
    - doubles are rescaled to integral hundredths
      (``cast(round(x*100) as bigint)``) because Java and C++ format
      doubles differently.
    """
    c = F.col(col) if isinstance(col, str) else col
    if dtype == "double":
        return F.round(c * F.lit(100)).cast(T.LongType()).cast(T.StringType())
    return c.cast(T.StringType())


def row_checksum(cols: Iterable[Column | str], *, sort_names: bool = True) -> Column:
    """H1 canonical checksum column over already-canonical columns.

    String column *names* are sorted to reproduce the reference's
    ``sort_keys=True`` order-insensitivity; pass Column objects (with
    ``canon()`` applied) positionally if you need explicit order.
    A names-only checksum is one SQL string (:func:`row_checksum_sql`).
    """
    cols = list(cols)
    names = [c for c in cols if isinstance(c, str)]
    exprs = [c for c in cols if not isinstance(c, str)]
    if not exprs:
        return F.expr(row_checksum_sql(names, sort_names=sort_names))
    if sort_names:
        names = sorted(names)
    parts = [F.coalesce(F.col(n).cast(T.StringType()), F.lit("")) for n in names]
    parts += [F.coalesce(e.cast(T.StringType()), F.lit("")) for e in exprs]
    return F.md5(F.concat_ws(UNIT_SEP, *parts))


def row_checksum_sql(names: Iterable[str], *, sort_names: bool = True) -> str:
    """Spark SQL text of :func:`row_checksum` over column ``names``:
    the same expression tree, parsed once on the JVM instead of built
    with one py4j call per node."""
    names = sorted(names) if sort_names else list(names)
    args = [string_lit(UNIT_SEP)]
    args += [f"coalesce(CAST({ident(n)} AS STRING), '')" for n in names]
    return f"md5(concat_ws({', '.join(args)}))"


def checksum_sql(fields: Iterable[str], *, sort_names: bool = True) -> str:
    """The byte-identical DuckDB/ANSI rendering of :func:`row_checksum`
    for oracle queries. ``fields`` are SQL expressions (already
    canonical); plain identifiers are sorted like the Spark side."""
    fields = list(fields)
    if sort_names and all(f.isidentifier() for f in fields):
        fields = sorted(fields)
    parts = ", ".join(f"coalesce(CAST({f} AS VARCHAR), '')" for f in fields)
    return f"md5(concat_ws(chr(31), {parts}))"


def with_row_checksum(
    df: DataFrame,
    fields: Iterable[str],
    out: str = "row_hash",
) -> DataFrame:
    """Attach the H1 checksum like the reference attaches ``row_hash``
    to every list row (reference: ``src/scrapers/scraper.py:100-101``)."""
    return df.withColumn(out, row_checksum(fields))
