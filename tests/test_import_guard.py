"""Import rules of the table layer, checked by parsing the modules, so
a lazy import inside a function counts too.

- No oracle engine. DuckDB is the oracle the queries are checked
  against (tests, scripts and the ``oracle=`` SQL strings). A
  table-layer module that evaluated anything with it would check Spark
  SQL text in another dialect, so a dialect difference could pass or
  refuse the wrong rows.
- No pandas in the bloom build or the dedup kernels. Their kernels run
  inside Spark's Python workers, where importing pandas costs about
  0.5 s a worker."""

from __future__ import annotations

import ast
import pathlib

import datapipeline_scraping_spark

PKG = pathlib.Path(datapipeline_scraping_spark.__file__).parent
FORBIDDEN = {"duckdb"}
#: the bloom kernel and its builder
NO_PANDAS = ("sources/skipping.py", "operators/txn/stats.py")


def _imported_roots(path: pathlib.Path) -> set[str]:
    roots = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            roots.update(a.name.split(".")[0] for a in node.names)
        elif isinstance(node, ast.ImportFrom) and node.level == 0:
            roots.add((node.module or "").split(".")[0])
    return roots


def test_table_layer_imports_no_oracle_engine():
    files = sorted(
        f
        for sub in ("operators", "sources")
        for f in (PKG / sub).rglob("*.py")
    )
    assert files
    bad = {
        str(f.relative_to(PKG)): sorted(_imported_roots(f) & FORBIDDEN)
        for f in files
        if _imported_roots(f) & FORBIDDEN
    }
    assert bad == {}


def test_bloom_build_imports_no_pandas():
    bad = [f for f in NO_PANDAS if "pandas" in _imported_roots(PKG / f)]
    assert bad == []


def test_dedup_kernels_import_no_pandas():
    assert "pandas" not in _imported_roots(PKG / "operators/dedup.py")
