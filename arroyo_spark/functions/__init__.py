from arroyo_spark.functions.text import (  # noqa: F401
    boilerplate_line_count,
    char_ngram_entropy,
    fingerprint64,
    lang_id,
    normalize_text,
    quality_score,
    redact_pii,
    strip_boilerplate,
    token_count,
    word_tokens,
)
