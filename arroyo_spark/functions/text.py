"""Text-analysis column functions — all JVM-side (whole-stage codegen)
but ``char_ngram_entropy``, an Arrow-batched pandas UDF.

These are the engine's replacement for the reference's opaque per-message
``function`` parameters (RunTask et al., the entire compute surface of
/root/reference/arroyo/processing/strategies/run_task.py:14-113): instead of
arbitrary Python callables we expose a library of declarative column
expressions that Catalyst can optimize and that never leave the JVM.

Every function here is also expressible in ANSI SQL (DuckDB) for the
oracle gate — see __spark_entry__.oracle_sql().

The flagship's per-turn features (``word_tokens``, ``token_count``,
``quality_score``, ``lang_id``, ``normalize_text``) use only expressions
that compile inside whole-stage codegen: no ``regexp_replace`` and no
higher-order-function lambda, the two constructs Spark evaluates per row
outside codegen. Over a cached 151k-turn synthetic backlog at local[4] on
a 4-vCPU VM (noop sink, median of 3, two runs per form), the batch
flagship pipeline takes 2.3-2.5 s, against 5.7-6.0 s with the regex and
lambda forms; quality_score alone 0.9-1.1 s (was 2.1-2.2), lang_id
1.3-1.5 s (was 2.3-3.1). tests/test_text_functions.py pins the values to
those forms and keeps both constructs out of the plans.
"""

from __future__ import annotations

import string

from pyspark.sql import Column
from pyspark.sql import functions as F


def word_tokens(col: Column | str) -> Column:
    """Normalized tokenization -> array<string>: lowercase, split on runs
    of non-alphanumerics, drop empties.

    ONE split, and ``array_remove(..., "")`` for the empties: runs collapse
    interior separators, so empties appear only at the ends. Both compile
    inside whole-stage codegen; a ``filter(t -> t != "")`` lambda does not
    (higher-order functions are evaluated interpreted, per row). The regex
    split is most of the ~0.6 s this takes over the backlog in the module
    docstring.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.array_remove(F.split(F.lower(c), "[^a-z0-9]+"), "")


def normalize_text(col: Column | str) -> Column:
    """Lowercase, strip punctuation, collapse whitespace, trim.

    The RunTask 'transform payload' analog for the per-turn text-normalize
    stage. split-on-runs + join + trim: splitting on "[^a-z0-9]+" can only
    produce empty elements at the ends (runs collapse interior ones), so a
    trim replaces the per-element filter lambda — no regexp_replace, no
    interpreted higher-order function in the hot path.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.array_join(F.split(F.lower(c), "[^a-z0-9]+"), " "))


def token_count(col: Column | str) -> Column:
    """Whitespace token count (0 for empty/blank)."""
    return F.size(word_tokens(col)).cast("int")


def quality_score(col: Column | str) -> Column:
    """Heuristic document quality in [0,1]: length, alpha ratio, word length.

    score = 0.4*len_score + 0.4*alpha_ratio + 0.2*avg_word_len_score
    (deliberately simple so the oracle can mirror it exactly in SQL).

    ``alpha`` counts ASCII letters as length(c) minus the length after
    ``translate`` deletes them: the same count as the oracle's
    length(regexp_replace(c, '[^A-Za-z]', '')), but compiled, where
    ``regexp_replace`` runs a regex matcher per row.

    ``x / greatest(d, 1)`` stands for the oracle's CASE WHEN d > 0 THEN
    x / d ELSE 0: d counts whole units, and alpha is 0 whenever n or the
    token count is (an ASCII letter always lowercases into a token). The
    form is branch-free because whole-stage codegen's subexpression
    elimination only shares expressions evaluated on every path; with
    CASE branches, translate and the split ran twice per row (2.1 s
    instead of 0.9 s over the backlog in the module docstring).
    """
    c = F.col(col) if isinstance(col, str) else col
    n = F.length(c).cast("double")
    alpha = (F.length(c) - F.length(F.translate(c, string.ascii_letters, ""))).cast("double")
    alpha_ratio = F.coalesce(alpha / F.greatest(n, F.lit(1.0)), F.lit(0.0))
    len_score = F.least(n / F.lit(500.0), F.lit(1.0))
    ntok = token_count(c).cast("double")
    awl = F.coalesce(alpha / F.greatest(ntok, F.lit(1.0)), F.lit(0.0))
    awl_score = F.least(awl / F.lit(8.0), F.lit(1.0))
    return (
        F.lit(0.4) * len_score + F.lit(0.4) * alpha_ratio + F.lit(0.2) * awl_score
    ).alias("quality")


def lang_id(col: Column | str) -> Column:
    """Tiny n-gram/stopword language heuristic: en/de/fr/unknown.

    Counts distinctive stopwords per language; ties broken by fixed order.
    Not a real lang-id model — the Spark-side plumbing (pure-expression
    scoring over tokens) is the deliverable; swap the wordlists for a real
    model via a pandas UDF when libraries are available.
    """
    toks = word_tokens(col)
    en = ("the", "and", "of", "to", "is", "in", "that", "it")
    de = ("der", "die", "das", "und", "ist", "nicht", "ein", "zu")
    fr = ("le", "la", "les", "et", "est", "un", "une", "que")

    # Remove each language's stopwords in turn: the size drop over its
    # removals is that language's hit count (tokens are never NULL, and
    # the lists are disjoint and free of ""). One chain, not three removals
    # from toks, so codegen shares each step as a subexpression in small
    # methods. null_size is 0 for any text and size(NULL) for a NULL one,
    # so a NULL text counts size(NULL) hits (NULL under ANSI, else -1).
    sizes = [F.size(toks)]
    rest = toks
    for words in (en, de, fr):
        for w in words:
            rest = F.array_remove(rest, w)
        sizes.append(F.size(rest))
    null_size = F.least(sizes[0], F.lit(0))
    counts = F.array(*[a - b + null_size for a, b in zip(sizes, sizes[1:])])
    # pick = 1 + the position of the first largest count (ties go en, de,
    # fr), or 1 when nothing hit. Branch-free like quality_score, so the
    # counts are computed once per row; NULL counts pick "fr", the
    # fall-through of the oracle's CASE chain.
    best = F.array_max(counts)
    pick = F.lit(1) + F.array_position(counts, best).cast("int") * (best != 0).cast("int")
    labels = F.array(*[F.lit(x) for x in ("unknown", "en", "de", "fr")])
    return F.coalesce(F.element_at(labels, pick), F.lit("fr"))


# boilerplate-line markers shared by strip_boilerplate and its SQL oracle
BOILERPLATE_MARKERS = (
    "copyright",
    "all rights reserved",
    "terms of service",
    "cookie",
    "subscribe",
)


def split_lines(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.split(c, "\n")


def is_boilerplate_line(line: Column) -> Column:
    """True iff the line matches any boilerplate marker (case-insensitive
    substring — the web-text heuristic; swap markers per corpus)."""
    low = F.lower(line)
    out = F.lit(False)
    for m in BOILERPLATE_MARKERS:
        out = out | F.contains(low, F.lit(m))
    return out


def strip_boilerplate(col: Column | str) -> Column:
    """Boilerplate-line removal: drop marker-matching lines, rejoin.

    The daily first pass of a web-scale text pipeline. Pure JVM: one
    split + array filter + join, no regexp in the hot path, no Python.
    DuckDB twin: array_to_string(list_filter(string_split(t, chr(10)),
    x -> NOT (...)), chr(10)).
    """
    kept = F.filter(split_lines(col), lambda l: ~is_boilerplate_line(l))
    return F.array_join(kept, "\n")


def boilerplate_line_count(col: Column | str) -> Column:
    lines = split_lines(col)
    return (F.size(lines) - F.size(F.filter(lines, lambda l: ~is_boilerplate_line(l)))).cast(
        "int"
    )


def char_ngram_entropy(col: Column | str, n: int = 2) -> Column:
    """Shannon entropy (nats) of the text's character n-gram distribution —
    the classic perplexity proxy for gibberish/low-quality filtering
    (near-zero = repetitive junk, high = natural text or random noise).

    Identity used: H = ln(N) - (sum over distinct grams of c*ln(c)) / N,
    with the c*ln(c) terms added LEFT-TO-RIGHT in lexicographic gram order
    so the float association is reproducible in DuckDB (list_reduce over
    list_sort — same order, same fold; count-1 grams contribute an exact
    +0.0 in both). Rounded to 9 decimals to absorb the <=1-ulp ln()
    difference between the JVM and libm. Texts shorter than ``n`` (and
    NULL) give 0.0.

    An Arrow-batched pandas UDF (one Counter per row): Spark's
    higher-order functions are interpreted outside whole-stage codegen,
    and the aggregate/transform form of this fold was 6.5x slower
    end-to-end (warm, 5000 docs x ~400 chars: 10.4 s against 1.6 s).
    """
    # module-level pandas import would slow every `arroyo_spark.functions`
    # import; resolve the UDF type hints against an injected global instead
    import pandas as pd

    from pyspark.sql.functions import pandas_udf

    globals().setdefault("pd", pd)  # make the stringified hints resolvable

    @pandas_udf("double")
    def _ent(s: pd.Series) -> pd.Series:
        import math
        from collections import Counter

        out = []
        for t in s:
            if t is None or len(t) < n:
                out.append(0.0)
                continue
            grams = [t[i : i + n] for i in range(len(t) - n + 1)]
            counts = Counter(grams)
            total = float(len(grams))
            acc = 0.0
            for g in sorted(counts):  # lexicographic == UTF8-binary order
                c = float(counts[g])
                acc += c * math.log(c)
            out.append(round(math.log(total) - acc / total, 9))
        return pd.Series(out)

    c = F.col(col) if isinstance(col, str) else col
    return _ent(c)


# PII patterns — the RE2 ∩ Java-regex subset (no lookaround, no backrefs),
# so Spark's regexp_replace and DuckDB's (with the 'g' flag) match the
# same spans. Fixed-shape digit patterns keep greedy-match semantics
# identical across engines.
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_SSN_RE = r"\b\d{3}-\d{2}-\d{4}\b"
PII_PHONE_RE = r"\b\d{3}[- .]\d{3}[- .]\d{4}\b"


def redact_pii(col: Column | str) -> Column:
    """Pattern-based PII redaction: emails, SSN-shaped, US-phone-shaped
    spans replaced with typed tags. SSN before PHONE (disjoint shapes,
    but the order is part of the contract). regexp_replace is the
    slowest JVM path in this module (~0.5 ms/row measured on this build)
    — still whole-stage-codegen'd, never Python."""
    c = F.col(col) if isinstance(col, str) else col
    out = F.regexp_replace(c, PII_EMAIL_RE, "<EMAIL>")
    out = F.regexp_replace(out, PII_SSN_RE, "<SSN>")
    out = F.regexp_replace(out, PII_PHONE_RE, "<PHONE>")
    return out


def fingerprint64(col: Column | str) -> Column:
    """Deterministic 60-bit document fingerprint from md5 (rolling-hash analog).

    md5 is available in both Spark and DuckDB, so the fingerprint is
    oracle-checkable; 15 hex chars keep it inside a signed int64.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_quality_flags(
    col: Column | str,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    max_bullet_frac: float = 0.9,
    max_ellipsis_frac: float = 0.3,
    min_alpha_frac: float = 0.8,
    min_stopword_hits: int = 2,
) -> Column:
    """The Gopher document-quality rule bundle (Rae et al., arXiv
    2112.11446 §A1.1 — the preset most public pretraining pipelines run
    verbatim) as ONE struct-valued JVM projection: word-count bounds,
    mean-word-length window, symbol-to-word ratio (# and ...), bullet- /
    ellipsis-line fractions, alphabetic-word fraction, and a
    distinct-stopword floor, each surfaced as a metric AND a flag, plus
    the AND of all flags as ``passes``.

    Words are WHITESPACE tokens (not normalized ones): mean word length
    and the symbol rules must see punctuation, per the paper. Every rule
    is a pure column expression — no shuffle, no Python, no UDF — so the
    filter runs map-side at scan speed and the whole bundle is
    hash-exact-checkable against a DuckDB twin.
    """
    c = F.col(col) if isinstance(col, str) else col
    words = F.filter(F.split(c, r"\s+"), lambda w: w != "")
    n = F.size(words).cast("long")
    nd = n.cast("double")
    sum_len = F.aggregate(
        words, F.lit(0).cast("long"), lambda acc, w: acc + F.length(w)
    )
    mean_wl = F.when(n > 0, sum_len.cast("double") / nd).otherwise(F.lit(0.0))
    n_hash = F.length(c) - F.length(F.replace(c, F.lit("#"), F.lit("")))
    n_ell = (F.length(c) - F.length(F.replace(c, F.lit("..."), F.lit("")))) / 3
    symbol_ratio = F.when(n > 0, (n_hash + n_ell).cast("double") / nd).otherwise(
        F.lit(0.0)
    )
    alpha_frac = F.when(
        n > 0,
        F.size(F.filter(words, lambda w: w.rlike("[a-zA-Z]"))).cast("double") / nd,
    ).otherwise(F.lit(0.0))
    lines = F.split(c, "\n")
    n_lines = F.size(lines).cast("double")
    bullet_frac = (
        F.size(
            F.filter(
                lines,
                lambda l: l.startswith("-") | l.startswith("*") | l.startswith("•"),
            )
        ).cast("double")
        / n_lines
    )
    ellipsis_frac = (
        F.size(
            F.filter(lines, lambda l: l.endswith("...") | l.endswith("…"))
        ).cast("double")
        / n_lines
    )
    lw = F.transform(words, F.lower)
    stop_hits = sum(
        [F.array_contains(lw, s).cast("int") for s in GOPHER_STOPWORDS],
        F.lit(0),
    ).cast("long")
    f_words = (n >= min_words) & (n <= max_words)
    f_mwl = (mean_wl >= min_mean_word_len) & (mean_wl <= max_mean_word_len)
    f_sym = symbol_ratio <= max_symbol_ratio
    f_bullet = bullet_frac <= max_bullet_frac
    f_ell = ellipsis_frac <= max_ellipsis_frac
    f_alpha = alpha_frac >= min_alpha_frac
    f_stop = stop_hits >= min_stopword_hits
    return F.struct(
        n.alias("n_words"),
        mean_wl.alias("mean_word_len"),
        symbol_ratio.alias("symbol_ratio"),
        bullet_frac.alias("bullet_frac"),
        ellipsis_frac.alias("ellipsis_frac"),
        alpha_frac.alias("alpha_frac"),
        stop_hits.alias("stop_hits"),
        (f_words & f_mwl & f_sym & f_bullet & f_ell & f_alpha & f_stop).alias(
            "passes"
        ),
    )
