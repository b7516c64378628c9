"""C1/C2/C3 semantics — the engine twin of the reference's
``tests/test_classifier.py`` (first-match rule order, no-match
sentinel, backend fallback by id, out-of-domain coercion)."""

from __future__ import annotations

import pytest

from datapipeline_scraping_spark.operators.classify import (
    DEFAULT_CONFIG,
    ClassifierConfig,
    classify,
    classify_rules_only,
    rule_expr,
    stub_backend_label,
    validate_domain,
)

from pyspark.sql import functions as F

CFG = ClassifierConfig(
    categories=("economia", "salud", "otros"),
    rules=((r"impuesto|tribut", "economia"), (r"salud|hospital", "salud")),
)


def test_first_match_wins_case_insensitive(spark):
    # a row matching BOTH rules must take the FIRST (reference
    # tests/test_classifier.py:75-86)
    df = spark.createDataFrame(
        [("1", "IMPUESTO para hospitales"), ("2", "reforma hospital"), ("3", "nada")],
        "id string, text string",
    )
    out = {
        r["id"]: r["sector"]
        for r in df.select("id", rule_expr("`text`", CFG)).collect()
    }
    assert out == {"1": "economia", "2": "salud", "3": ""}


def test_out_of_domain_coerced_to_otros(spark):
    df = spark.createDataFrame([("x", "bogus_label")], "id string, sector string")
    out = df.select(validate_domain("`sector`", CFG).alias("s")).collect()
    assert out[0]["s"] == "otros"


def test_rules_only_fallback(spark):
    df = spark.createDataFrame([("1", "nothing relevant")], "id string, text string")
    out = classify_rules_only(
        df.withColumn("detail", F.lit("")), CFG, ("text", "detail")
    ).collect()
    assert out[0]["sector"] == "otros"


def test_backend_applies_to_unresolved_only(spark):
    # backend labels everything 'salud' — if a rules-resolved row ever
    # reached it, that row would come back 'salud' instead of its rule
    # label (the backend runs in worker processes, so observation is
    # via output, not driver-side capture)
    df = spark.createDataFrame(
        [("1", "impuesto algo", "d"), ("2", "zzz", "d2")],
        "id string, text string, detail string",
    )

    def backend(pdf):
        return pdf["id"].map(lambda _: "salud")

    out = {
        r["id"]: r["sector"]
        for r in classify(df, CFG, "id", ("text", "detail"), backend=backend).collect()
    }
    assert out == {"1": "economia", "2": "salud"}


def test_backend_out_of_domain_goes_otros(spark):
    df = spark.createDataFrame([("2", "zzz", "")], "id string, text string, detail string")

    def backend(pdf):
        return pdf["id"].map(lambda _: "NOT_A_CATEGORY")

    out = classify(df, CFG, "id", ("text", "detail"), backend=backend).collect()
    assert out[0]["sector"] == "otros"


def test_stub_backend_deterministic():
    label = stub_backend_label(CFG.categories)
    assert label("42") == label("42")
    assert label("42") in CFG.categories


def test_batching_respects_batch_size(spark):
    cfg = ClassifierConfig(
        categories=CFG.categories, rules=CFG.rules, batch_size=3
    )
    df = spark.createDataFrame(
        [(str(i), "zzz", "") for i in range(10)], "id string, text string, detail string"
    ).coalesce(1)

    # the backend encodes the chunk size it saw into the label; every
    # chunk must respect the configured batch size
    # (reference: configs/classifier.yml:4, classifier.py:139-145)
    def backend(pdf):
        label = "salud" if len(pdf) <= 3 else "economia"
        return pdf["id"].map(lambda _: label)

    out = classify(df, cfg, "id", ("text", "detail"), backend=backend).collect()
    assert len(out) == 10
    assert {r["sector"] for r in out} == {"salud"}


def test_yaml_config_roundtrip(tmp_path, spark):
    p = tmp_path / "classifier.yml"
    p.write_text(
        """
categories: [a, b, otros]
rules:
  - {pattern: "foo", category: a}
  - {pattern: "bar", category: b}
fallback: otros
gemini:
  batch_size: 7
"""
    )
    from datapipeline_scraping_spark.operators.classify import load_config

    cfg = load_config(str(p))
    assert cfg.categories == ("a", "b", "otros")
    assert cfg.rules[0] == ("foo", "a")
    assert cfg.batch_size == 7


# ---------------------------------------------------------------------------
# production-shaped batch LLM backend (C2 error semantics)
# ---------------------------------------------------------------------------

def test_llm_backend_applies_mapping_by_id(spark):
    import json

    from datapipeline_scraping_spark.operators.classify import (
        ClassifierConfig,
        classify,
    )
    from datapipeline_scraping_spark.operators.llm_backend import BatchLLMBackend

    cfg = ClassifierConfig(
        categories=("a_cat", "b_cat", "otros"),
        rules=((r"\bnevermatch\b", "a_cat"),),
    )

    def transport(prompt):
        # echo-ish fake: label every listed id by parity, out of order
        ids = [ln.split(":")[0] for ln in prompt.splitlines() if ln[:1].isdigit()]
        resp = [
            {"id": i, "label": "a_cat" if int(i) % 2 == 0 else "b_cat"}
            for i in reversed(ids)
        ]
        return json.dumps(resp)

    df = spark.createDataFrame(
        [(i, f"t{i}", f"d{i}") for i in range(10)],
        "doc_id long, title string, detail string",
    )
    backend = BatchLLMBackend(
        cfg.categories, transport, id_col="doc_id",
        title_col="title", detail_col="detail",
    )
    out = {
        r["doc_id"]: r["sector"]
        for r in classify(df, cfg, "doc_id", ("title", "detail"), backend).collect()
    }
    assert out == {i: ("a_cat" if i % 2 == 0 else "b_cat") for i in range(10)}


@pytest.mark.slow  # r17 tiering: measured 14s; full (evidence) tier only
def test_llm_backend_malformed_response_falls_back(spark):
    from datapipeline_scraping_spark.operators.classify import (
        ClassifierConfig,
        classify,
    )
    from datapipeline_scraping_spark.operators.llm_backend import BatchLLMBackend

    cfg = ClassifierConfig(
        categories=("a_cat", "otros"), rules=((r"\bnevermatch\b", "a_cat"),)
    )
    df = spark.createDataFrame(
        [(1, "x", "y"), (2, "p", "q")], "doc_id long, title string, detail string"
    )
    for transport in (
        lambda p: "NOT JSON AT ALL",
        lambda p: '{"id": 1}',            # wrong shape (not a list)
        lambda p: (_ for _ in ()).throw(RuntimeError("api down")),
    ):
        backend = BatchLLMBackend(
            cfg.categories, transport, id_col="doc_id",
            title_col="title", detail_col="detail",
        )
        out = classify(df, cfg, "doc_id", ("title", "detail"), backend).collect()
        assert {r["sector"] for r in out} == {"otros"}


def test_llm_backend_missing_ids_get_fallback(spark):
    import json

    from datapipeline_scraping_spark.operators.classify import (
        ClassifierConfig,
        classify,
    )
    from datapipeline_scraping_spark.operators.llm_backend import BatchLLMBackend

    cfg = ClassifierConfig(
        categories=("a_cat", "otros"), rules=((r"\bnevermatch\b", "a_cat"),)
    )
    df = spark.createDataFrame(
        [(1, "x", "y"), (2, "p", "q")], "doc_id long, title string, detail string"
    )
    backend = BatchLLMBackend(
        cfg.categories,
        lambda p: json.dumps([{"id": "1", "label": "a_cat"}]),
        id_col="doc_id", title_col="title", detail_col="detail",
    )
    out = {
        r["doc_id"]: r["sector"]
        for r in classify(df, cfg, "doc_id", ("title", "detail"), backend).collect()
    }
    assert out == {1: "a_cat", 2: "otros"}


def _column_built_rules_only(df, cfg, text_cols):
    """classify_rules_only as a node-by-node Column tree: the reference
    the one-string expression must match label for label."""
    text = F.concat_ws(" ", *[F.coalesce(F.col(c), F.lit("")) for c in text_cols])
    expr = F.lit("")
    if cfg.rules:
        expr = None
        for pattern, category in cfg.rules:
            cond = text.rlike(f"(?i){pattern}")
            expr = (
                F.when(cond, F.lit(category))
                if expr is None
                else expr.when(cond, F.lit(category))
            )
        expr = expr.otherwise(F.lit(""))
    sector = F.when(expr == "", F.lit(cfg.fallback)).otherwise(expr)
    return df.withColumn(
        "sector",
        F.when(sector.isin(*cfg.categories), sector).otherwise(F.lit(cfg.fallback)),
    )


@pytest.mark.parametrize(
    "cfg",
    [
        DEFAULT_CONFIG,
        ClassifierConfig(
            categories=("quote", "slash", "word", "otros"),
            rules=(
                (r"it's", "quote"),
                (r"a\\b", "slash"),  # a literal backslash
                (r"\bcat\b", "word"),
                (r"zebra", "not_in_domain"),
            ),
        ),
    ],
    ids=["default", "escapes"],
)
def test_rules_only_matches_column_built_version(spark, cfg):
    texts = [
        "a JOIN b", "group by", "the table", "stream", "hash key", "scan",
        "it's here", "a\\b", "ab", "cat", "concat", "bobcat cat", "zebra",
        "nothing", None, "", "ñ join", "x\bcat",
    ]
    df = spark.createDataFrame(
        [(i, t, "detail" if i % 2 else None) for i, t in enumerate(texts)],
        "id int, t string, d string",
    )
    got = classify_rules_only(df, cfg, ("t", "d")).orderBy("id").collect()
    want = _column_built_rules_only(df, cfg, ("t", "d")).orderBy("id").collect()
    assert got == want
    labels = {r["sector"] for r in got}
    assert len(labels) > 2
