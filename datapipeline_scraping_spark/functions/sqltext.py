"""Spark SQL text for generated expressions.

A generated expression family (a checksum over N fields, an ordered
rule chain) is built as ONE SQL string and parsed once on the JVM
through ``F.expr``: a Column built node by node costs one py4j call
per node. These two helpers make names and values safe to splice into
that text.
"""

from __future__ import annotations


def ident(name: str) -> str:
    """``name`` as a backtick-quoted Spark SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def string_lit(value: str) -> str:
    """``value`` as a Spark SQL string literal that parses back to
    exactly ``value``. Backslashes are doubled — in a SQL literal
    ``'\\b'`` is a backspace, not the regex word boundary — and single
    quotes are escaped. Other characters, control characters
    included, stand for themselves."""
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"
