"""Sector classification — ordered regex rules, then a pluggable batch
backend for the remainder, then closed-domain validation (C1/C2/C3 in
SURVEY.md §2.4).

The reference classifies with a compiled (pattern, category) list —
first case-insensitive match wins, '' if none
(``src/classifier.py:52-72``) — then sends unresolved rows to Gemini in
batches of 20 (``src/classifier.py:75-120``, ``configs/classifier.yml:4``)
and coerces out-of-domain labels to 'otros' (``src/classifier.py:147-154``).

Engine design (SURVEY.md §4): the *rules-before-expensive-UDF* ordering
is encoded structurally — the rule chain is a pure Catalyst expression;
only rows it leaves unresolved enter the ``mapInPandas`` backend seam.
The backend is an injected callable (the reference's own test precedent:
``tests/test_classifier.py:103-105`` stubs ``_call_gemini``), so tests
and oracles use a deterministic stub while production plugs an LLM
client; batching comes from Arrow record batches, mirroring the
reference's batch_size semantics.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.sqltext import ident, string_lit


@dataclass(frozen=True)
class ClassifierConfig:
    """Mirrors the shape of the reference's ``configs/classifier.yml``:
    closed category set, ordered first-match rules, fallback label."""

    categories: tuple[str, ...]
    rules: tuple[tuple[str, str], ...]  # (regex, category), ordered
    fallback: str = "otros"
    title_col: str = "title"
    detail_col: str = "detail"
    batch_size: int = 20


# Engine default config, tuned to the synthetic ``documents`` corpus
# (same structure as the reference's 14-category Spanish config).
DEFAULT_CONFIG = ClassifierConfig(
    categories=(
        "joins",
        "aggregation",
        "storage",
        "streaming",
        "indexing",
        "query_opt",
        "otros",
    ),
    rules=(
        (r"\bjoin\b|\bmerge\b", "joins"),
        (r"\bagg\b|\bgroup\b|\bwindow\b", "aggregation"),
        (r"\btable\b|\bcolumn\b|\brow\b", "storage"),
        (r"\bstream\b|\bbatch\b", "streaming"),
        (r"\bhash\b|\bsort\b|\bkey\b", "indexing"),
        (r"\bscan\b|\bfilter\b|\bquery\b", "query_opt"),
    ),
)


def rule_sql(
    text: str, rules: tuple[tuple[str, str], ...], default: str = ""
) -> str:
    """C1: ordered first-match ``(regex, label)`` chain as one SQL
    ``CASE`` over the SQL expression ``text``. Case-insensitive via
    inline (?i); no match -> ``default`` ('' is the reference's
    sentinel for 'send to the LLM'). Patterns go in as escaped string
    literals, so ``\\b`` stays a word boundary and a quote in a YAML
    pattern cannot end the literal."""
    whens = " ".join(
        f"WHEN {text} RLIKE {string_lit(f'(?i){pattern}')} "
        f"THEN {string_lit(category)}"
        for pattern, category in rules
    )
    if not whens:
        return string_lit(default)
    return f"CASE {whens} ELSE {string_lit(default)} END"


def rule_expr(text: str, cfg: ClassifierConfig) -> Column:
    """:func:`rule_sql` as a ``sector`` Column; ``text`` is SQL text
    (a backtick-quoted column name or an expression)."""
    return F.expr(rule_sql(text, cfg.rules)).alias("sector")


def validate_domain(sector: str, cfg: ClassifierConfig) -> Column:
    """C3: closed-domain coercion — anything outside the category set
    becomes the fallback (reference ``src/classifier.py:147-154``).
    ``sector`` is SQL text, like :func:`rule_expr`'s ``text``."""
    if not cfg.categories:
        return F.expr(string_lit(cfg.fallback))
    cats = ", ".join(string_lit(c) for c in cfg.categories)
    return F.expr(
        f"CASE WHEN {sector} IN ({cats}) THEN {sector} "
        f"ELSE {string_lit(cfg.fallback)} END"
    )


def _text_sql(text_cols: tuple[str, ...]) -> str:
    """``concat_ws(' ', coalesce(c, ''), ...)`` over the text columns."""
    parts = ", ".join(f"coalesce({ident(c)}, '')" for c in text_cols)
    return f"concat_ws(' ', {parts})"


def stub_backend_label(categories: tuple[str, ...]):
    """Deterministic 'LLM' stub: label = categories[md5(id) % n].
    Cross-engine reproducible (DuckDB:
    ``categories[('0x'||substr(md5(id::VARCHAR),1,4))::INT % n]``)."""
    import hashlib

    cats = list(categories)

    def label(key: str) -> str:
        return cats[int(hashlib.md5(str(key).encode()).hexdigest()[:4], 16) % len(cats)]

    return label


def make_stub_backend(cfg: ClassifierConfig, id_col: str):
    """Backend callable for :func:`classify`: pandas-batch in,
    label series out — the seam where a real LLM client plugs in."""
    label = stub_backend_label(cfg.categories)

    def backend(pdf):
        return pdf[id_col].map(lambda k: label(str(k)))

    return backend


def classify(
    df: DataFrame,
    cfg: ClassifierConfig,
    id_col: str,
    text_cols: tuple[str, str],
    backend: Callable | None = None,
    payload_cols: tuple[str, ...] | None = None,
) -> DataFrame:
    """Full C1 -> C2 -> C3 composition.

    1. rule chain over ``concat_ws(' ', title, detail)`` (cheap, JVM);
    2. rows left at '' go through the batch backend (``mapInPandas``,
       Arrow-batched — the expensive path sees only the remainder);
    3. closed-domain validation.

    ``payload_cols`` (r16, guide §4: project before the opaque Python
    stage): the non-(id/text/sector) columns the caller needs in the
    output. ``mapInPandas`` is opaque to Catalyst — column pruning
    cannot reach through it, so every column listed here rides the
    repartition exchange AND crosses the JVM↔Python boundary twice.
    Default ``None`` keeps the historical full-schema pass-through;
    callers that only consume (id, sector) pass ``()`` and the Python
    path carries exactly id + text_cols + sector (the text columns stay
    because the backend seam is an LLM client that reads them)."""
    if payload_cols is not None:
        keep = [id_col, *text_cols]
        keep += [c for c in payload_cols if c not in keep]
        df = df.select(*keep)
    ruled = df.withColumn("sector", rule_expr(_text_sql(text_cols), cfg))

    resolved = ruled.filter(F.col("sector") != "")
    unresolved = ruled.filter(F.col("sector") == "")

    if backend is None:
        backend = make_stub_backend(cfg, id_col)

    # columns the backend's OUTPUT must carry back to the JVM: with an
    # explicit payload_cols the text columns are dropped on the return
    # leg (the backend reads them, nothing downstream does), halving
    # the Python->JVM Arrow traffic for wide text rows
    # "sector" is always appended last, so filter it from the carried
    # columns — an input that already has a sector column (withColumn
    # replaced it in place) must not yield a duplicated output column
    if payload_cols is not None:
        out_cols = (
            [id_col]
            + [c for c in payload_cols if c not in (id_col, "sector")]
            + ["sector"]
        )
    else:
        out_cols = [c for c in df.columns if c != "sector"] + ["sector"]
    out_schema = unresolved.select(*out_cols).schema

    def apply_backend(batches: Iterator) -> Iterator:
        for pdf in batches:
            if len(pdf):
                pdf = pdf.copy()
                # chunk to the configured batch size, mirroring the
                # reference's per-call batching (configs/classifier.yml:4)
                out = []
                for start in range(0, len(pdf), cfg.batch_size):
                    chunk = pdf.iloc[start : start + cfg.batch_size]
                    out.append(backend(chunk))
                import pandas as pd

                pdf["sector"] = pd.concat(out).values if out else pdf["sector"]
            yield pdf[out_cols]

    # repartition before the pandas stage: a single-file source would
    # otherwise funnel every row through one Python worker (mirrors
    # the reference's batched-parallel LLM calls); scale-adaptive
    # (r16) — a 100 TB input is already parallel, skip the shuffle
    from .dedup import spread_small_input

    backed = spread_small_input(unresolved, id_col).mapInPandas(
        apply_backend, schema=out_schema
    )
    merged = resolved.select(*out_cols).unionByName(backed)
    return merged.withColumn("sector", validate_domain("`sector`", cfg))


def classify_rules_only(
    df: DataFrame, cfg: ClassifierConfig, text_cols: tuple[str, str]
) -> DataFrame:
    """C1 + C3 without the backend ('' -> fallback directly), as one
    ``CASE``: the rules and the domain are both known when the plan is
    built, so each rule's label is validated here (out-of-domain ->
    fallback) and no match yields the fallback."""
    valid = set(cfg.categories)
    rules = tuple(
        (p, c if c in valid else cfg.fallback) for p, c in cfg.rules
    )
    sector = rule_sql(_text_sql(text_cols), rules, default=cfg.fallback)
    return df.withColumn("sector", F.expr(sector))


def load_config(path: str) -> ClassifierConfig:
    """Load a ClassifierConfig from YAML with the same key shape as the
    reference's ``configs/classifier.yml`` (categories / rules /
    gemini.batch_size)."""
    import yaml

    with open(path) as fh:
        raw = yaml.safe_load(fh)
    return ClassifierConfig(
        categories=tuple(raw["categories"]),
        rules=tuple((r["pattern"], r["category"]) for r in raw["rules"]),
        fallback=raw.get("fallback", "otros"),
        batch_size=int(raw.get("gemini", {}).get("batch_size", 20)),
    )


def hashed_feature_weights(spark, n_buckets: int = 512) -> DataFrame:
    """Deterministic stand-in (bucket, w_milli) model table for
    :func:`hashed_linear_score`: integer milli-weights in
    [-1000, 1000] derived from md5 so the scoring aggregate stays
    exact-integer (bit-stable cross-engine). A trained model's
    (bucket, weight) export has exactly this shape."""
    return spark.range(n_buckets).select(
        F.col("id").alias("b"),
        (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("w|"), F.col("id").cast("string"))), 1, 8
                ),
                16,
                10,
            ).cast("long")
            % 2001
            - 1000
        ).alias("w_milli"),
    )


def hashed_linear_score(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n_buckets: int = 512,
    weights: DataFrame | None = None,
) -> DataFrame:
    """Model-based quality scoring with the feature-hashing trick —
    the fastText/CCNet linear-classifier shape (hash each token into
    ``n_buckets`` buckets, dot the bucket counts with a weight vector):
    the learned filter a pretraining pipeline runs after rule-based
    quality and before dedup. Returns ``[id, n_tokens, sum_w]``; the
    caller thresholds (``sum_w > 0``) or normalizes
    (``sum_w / (n_tokens * 1000.0)``).

    ``weights`` is a ``(b, w_milli)`` DataFrame joined as a BROADCAST
    dimension — exactly how a trained model's export plugs in; defaults
    to :func:`hashed_feature_weights`.

    Scale: corpus-state-free — one map-side explode+hash, a broadcast
    hash join against the tiny model table (the fact side never
    shuffles for the join), and ONE id-keyed aggregation with map-side
    partial sums. Unlike corpus-statistics scores (rarity, entropy —
    q117/q93), a fixed model scores each partition independently: the
    shape that survives 100 TB."""
    if weights is None:
        weights = hashed_feature_weights(df.sparkSession, n_buckets)
    toks = df.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("__tok")
    ).select(
        F.col(id_col),
        (
            F.conv(F.substring(F.md5(F.col("__tok")), 1, 8), 16, 10).cast("long")
            % n_buckets
        ).alias("b"),
    )
    return (
        toks.join(F.broadcast(weights), "b")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum("w_milli").cast("long").alias("sum_w"),
        )
    )
