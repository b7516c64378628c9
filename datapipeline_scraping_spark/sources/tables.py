"""Parquet table catalog over the driver test-data layout.

Stands in for the reference's JDBC state/final tables
(reference: ``src/storage.py:67-88``) and its remote paginated HTML
source (``src/scrapers/scraper.py:67-81``) — in this engine every
source is a columnar scan so Catalyst gets pushdown + pruning.

Like the reference's table config (``configs/colombia.yml:86-93``),
the column layout of every fixed table is declared here (FIXTURES.md
§B) rather than inferred: an inferred read starts a Spark job per
call to read a parquet footer, a declared one starts none.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: declared column layout per table, in file order (Spark reads every
#: parquet column as nullable; the writers' TIMESTAMP columns are not
#: UTC-adjusted, so they map to TIMESTAMP_NTZ)
SCHEMAS: dict[str, dict[str, str]] = {
    "region": {"r_regionkey": "INT", "r_name": "STRING"},
    "nation": {"n_nationkey": "INT", "n_name": "STRING", "n_regionkey": "INT"},
    "customer": {
        "c_custkey": "BIGINT", "c_name": "STRING", "c_nationkey": "INT",
        "c_acctbal": "DOUBLE", "c_mktsegment": "STRING",
    },
    "supplier": {
        "s_suppkey": "BIGINT", "s_name": "STRING", "s_nationkey": "INT",
        "s_acctbal": "DOUBLE",
    },
    "part": {
        "p_partkey": "BIGINT", "p_name": "STRING", "p_brand": "STRING",
        "p_type": "STRING", "p_size": "INT", "p_retailprice": "DOUBLE",
    },
    "orders": {
        "o_orderkey": "BIGINT", "o_custkey": "BIGINT", "o_orderstatus": "STRING",
        "o_totalprice": "DOUBLE", "o_orderdate": "TIMESTAMP_NTZ",
        "o_orderpriority": "STRING",
    },
    "lineitem": {
        "l_orderkey": "BIGINT", "l_partkey": "BIGINT", "l_suppkey": "BIGINT",
        "l_linenumber": "INT", "l_quantity": "DOUBLE",
        "l_extendedprice": "DOUBLE", "l_discount": "DOUBLE", "l_tax": "DOUBLE",
        "l_returnflag": "STRING", "l_linestatus": "STRING",
        "l_shipdate": "TIMESTAMP_NTZ",
    },
    "documents": {
        "doc_id": "BIGINT", "text": "STRING", "lang": "STRING",
        "source": "STRING", "n_chars": "BIGINT",
    },
    "embeddings": {"vec_id": "BIGINT", "embedding": "ARRAY<FLOAT>", "label": "INT"},
}

#: every table :func:`load_table` serves; ``events`` is the one read
#: with an inferred schema (see :func:`load_table`)
TABLES = (*SCHEMAS, "events")


def _footer_columns(path: str) -> list[str]:
    """Top-level column names of a parquet file (or of the first part
    file of a parquet directory), from its footer — no Spark job."""
    import pyarrow.parquet as pq

    if os.path.isdir(path):
        parts = sorted(
            f for f in os.listdir(path)
            if f.endswith(".parquet") and not f.startswith((".", "_"))
        )
        if not parts:
            raise ValueError(f"no parquet files under {path!r}")
        path = os.path.join(path, parts[0])
    return pq.read_schema(path).names


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one table. Column pruning + predicate pushdown are applied
    by Catalyst from whatever the caller selects/filters downstream.

    Every table but ``events`` is read with its declared schema
    (:data:`SCHEMAS`). A declared column the file lacks would read as
    NULL without error, so the file's footer is checked first and a
    missing column raises ``ValueError``.

    ``events.ts`` may be parquet TIMESTAMP(MICROS) (today's data) or
    TIMESTAMP(NANOS), which Spark 4 refuses to map to a timestamp type.
    So ``events`` keeps its inferred read: a NANOS column comes back
    through the ``nanosAsLong`` escape hatch as LongType and is
    truncated to microseconds (integral ``div`` — never double
    division, which loses precision above 2^53 ns) as TIMESTAMP_NTZ,
    matching both DuckDB's read of the same file and the µs columns of
    the other tables; a MICROS column is read as is."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    path = f"{sf_dir.rstrip('/')}/{name}.parquet"
    if name != "events":
        cols = SCHEMAS[name]
        missing = sorted(cols.keys() - set(_footer_columns(path)))
        if missing:
            raise ValueError(
                f"table {name!r} at {path!r} lacks declared column(s) {missing}"
            )
        ddl = ", ".join(f"{c} {t}" for c, t in cols.items())
        return spark.read.schema(ddl).parquet(path)
    # scope the legacy conf to this read: left set session-wide it
    # would silently map OTHER nanosecond-timestamp parquet reads
    # to LongType instead of failing loudly
    key = "spark.sql.legacy.parquet.nanosAsLong"
    prior = spark.conf.get(key, None)
    spark.conf.set(key, "true")
    try:
        df = spark.read.parquet(path)
        # force schema resolution (footer read) while the conf is on;
        # execution later replays the read with the plan's resolved
        # schema, so restoring the conf afterwards is safe
        if isinstance(df.schema["ts"].dataType, T.LongType):
            df = df.withColumn(
                "ts",
                F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz"),
            )
    finally:
        if prior is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prior)
    return df
