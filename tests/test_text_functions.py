"""The per-turn text features run on compiled expressions only, with the
values of their regexp_replace / lambda forms.

``word_tokens``, ``token_count``, ``quality_score`` and ``lang_id`` avoid
the two constructs Spark evaluates per row outside whole-stage codegen:
``regexp_replace`` and higher-order-function lambdas. The reference forms
below are those constructs, kept here as the definition of the values.

The benchmark's synthetic vocabulary is ASCII-only, so its stream-vs-batch
check cannot see a Unicode divergence; the cases below are chosen to.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMALL

CASES = [
    None,
    "",
    "?!... -- ,;",
    "...Hello, world!?",
    "MiXeD CaSe, MIXED case.",
    "É",
    "Éclair à la crème",
    "ß",
    "Straße und Fußgänger",
    "\u212a",  # KELVIN SIGN: lowercases to ASCII "k"
    "Kelvin is \u212a",
    "\u0130",  # LATIN CAPITAL I WITH DOT ABOVE: lowercases to "i" + U+0307
    "\u0130stanbul is in the west",
    "\U0001f600",
    "emoji \U0001f600 in the middle \U0001f600",
    "0123456789",
    "route 66 and 7up",
    "the the THE",
    "the\tcat\nand\r\nthe dog\t",
    "\t\n\r\n",
    "Der Hund und die Katze ist nicht das",
    "le chat et la souris est une que",
    "the der le",  # three-way tie
    "thethe andand",
    "x" * 600,
]


def _col(c):
    return F.col(c) if isinstance(c, str) else c


def ref_word_tokens(col):
    return F.filter(F.split(F.lower(_col(col)), "[^a-z0-9]+"), lambda t: t != "")


def ref_token_count(col):
    return F.size(ref_word_tokens(col)).cast("int")


def ref_quality_score(col):
    c = _col(col)
    n = F.length(c).cast("double")
    alpha = F.length(F.regexp_replace(c, r"[^A-Za-z]", "")).cast("double")
    alpha_ratio = F.when(n > 0, alpha / n).otherwise(F.lit(0.0))
    len_score = F.least(n / F.lit(500.0), F.lit(1.0))
    ntok = ref_token_count(c).cast("double")
    awl = F.when(ntok > 0, alpha / ntok).otherwise(F.lit(0.0))
    awl_score = F.least(awl / F.lit(8.0), F.lit(1.0))
    return F.lit(0.4) * len_score + F.lit(0.4) * alpha_ratio + F.lit(0.2) * awl_score


def ref_lang_id(col):
    toks = ref_word_tokens(col)
    en = F.array(*[F.lit(w) for w in ("the", "and", "of", "to", "is", "in", "that", "it")])
    de = F.array(*[F.lit(w) for w in ("der", "die", "das", "und", "ist", "nicht", "ein", "zu")])
    fr = F.array(*[F.lit(w) for w in ("le", "la", "les", "et", "est", "un", "une", "que")])

    def hits(words):
        return F.size(F.filter(toks, lambda t: F.array_contains(words, t)))

    n_en, n_de, n_fr = hits(en), hits(de), hits(fr)
    best = F.greatest(n_en, n_de, n_fr)
    return (
        F.when(best == 0, F.lit("unknown"))
        .when(n_en == best, F.lit("en"))
        .when(n_de == best, F.lit("de"))
        .otherwise(F.lit("fr"))
    )


def _pairs():
    from arroyo_spark.functions import lang_id, quality_score, token_count, word_tokens

    return {
        "word_tokens": (word_tokens, ref_word_tokens),
        "token_count": (token_count, ref_token_count),
        "quality_score": (quality_score, ref_quality_score),
        "lang_id": (lang_id, ref_lang_id),
    }


@pytest.mark.parametrize("ansi", ["true", "false"])
def test_text_features_equal_reference(spark, ansi):
    """Every rewritten function equals its reference on every case, NULLs
    included, under both ANSI settings (they disagree on size(NULL))."""
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", ansi)
    try:
        df = spark.createDataFrame([(i, t) for i, t in enumerate(CASES)], "i int, text string")
        cols = [F.col("i")]
        for name, (new, ref) in _pairs().items():
            cols += [new("text").alias(f"{name}_new"), ref("text").alias(f"{name}_ref")]
        rows = df.select(*cols).orderBy("i").collect()
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)

    assert len(rows) == len(CASES)
    for r in rows:
        for name in _pairs():
            got, want = r[f"{name}_new"], r[f"{name}_ref"]
            assert got == want, f"{name}({CASES[r.i]!r}): {got!r} != reference {want!r}"
    # the cases exercise what they claim to
    by_text = {CASES[r.i]: r for r in rows}
    assert by_text["the the THE"].lang_id_new == "en"
    assert by_text["the the THE"].token_count_new == 3
    assert by_text["\u212a"].word_tokens_new == ["k"]
    assert by_text["\u0130"].word_tokens_new == ["i"]
    assert by_text[None].word_tokens_new is None


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString().lower()


def test_text_feature_plans_have_no_interpreted_kernels(spark):
    """The flagship pipeline and the text_quality_langid query plan no
    regexp_replace and no lambda — the per-row interpreted paths."""
    from arroyo_spark.queries import QUERIES
    from arroyo_spark.types import STREAM_SCHEMA
    from jobs import flagship_stream_pipeline

    plans = {
        "flagship_stream_pipeline": _plan(
            flagship_stream_pipeline(spark.createDataFrame([], STREAM_SCHEMA))
        ),
        "text_quality_langid": _plan(QUERIES["text_quality_langid"](spark, SF_SMALL)),
    }
    for name, plan in plans.items():
        assert "quality" in plan and "lang" in plan, f"{name}: features not in the plan"
        for slow in ("regexp_replace", "lambdafunction"):
            assert slow not in plan, f"{name} plans {slow}:\n{plan}"
