"""Corpus-curation operators: deterministic sampling + sequence packing.

Not present in the reference (arroyo has no relational surface); these are
the engine's training-data-pipeline additions alongside dedup/similarity.
Both families are pure JVM column expressions + at most one shuffle, and
both are bit-reproducible across engines so the DuckDB oracle gate holds
hash-exact. The per-document lexical passes (``ngram_repetition``,
``term_freqs``) are Python row functions on the one per-row Arrow driver
``map._row_kernel``, with the tokenizer/hash twins from ``dedup``.

Scale notes (10^9+ docs):
- hash sampling: zero shuffles — a map-side filter on a 60-bit md5-derived
  bucket. Reproducible across runs/retries/engines (unlike rand()-based
  df.sample, which is seed-AND-partitioning dependent), so a replayed epoch
  samples the same rows — the property the exactly-once sink needs.
- stratified rates ship as one broadcast map (strata cardinality is tiny:
  languages, sources, quality bins).
- sequence packing: one shuffle (hash by shard) + one per-shard window
  pass. Shards bound window-state skew: a shard is a unit of packing
  locality (at 100 TB: pick n_shards >> cores so stragglers rebalance, and
  pack within e.g. (lang, shard) so no single window sees the corpus).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from arroyo_spark.functions.text import normalize_text, word_tokens
from arroyo_spark.operators.dedup import (
    _distinct_shingle_hashes,
    _distinct_shingle_rows,
    _py_md5_h64,
    _py_word_tokens,
    md5_hash64,
)
from arroyo_spark.operators.map import _row_kernel, _spread


def hash_bucket(col: Column | str, n_buckets: int = 10_000, salt: str = "") -> Column:
    """Deterministic bucket in [0, n_buckets): md5 of (salt || key).

    md5 -> first 15 hex chars -> int64 -> mod, the same primitive the dedup
    family uses — evaluates bit-identically in Spark and DuckDB. Swap for
    xxhash64 on a real cluster (cheaper); the algebra is unchanged.
    """
    c = F.col(col) if isinstance(col, str) else col
    return (md5_hash64(F.concat(F.lit(salt), c.cast("string"))) % n_buckets).cast("int")


def hash_sample(
    df: DataFrame,
    key_col: str,
    fraction: float,
    salt: str = "",
    n_buckets: int = 10_000,
) -> DataFrame:
    """Keep a deterministic ~fraction of rows keyed by key_col.

    A row survives iff its hash bucket < fraction * n_buckets, so the
    sample is a stable function of the key: re-runs, retries, and other
    engines agree row-for-row, and two samples with the same salt nest
    (fraction 0.1 is a subset of fraction 0.2 — the standard trick for
    growing a held-out set without resampling).
    """
    thr = int(round(fraction * n_buckets))
    return df.filter(hash_bucket(key_col, n_buckets, salt) < thr)


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    key_col: str,
    rates: dict[str, float],
    default_rate: float = 0.0,
    salt: str = "",
    n_buckets: int = 10_000,
) -> DataFrame:
    """Per-stratum deterministic sampling: keep rate[stratum] of each stratum.

    The up/down-sampling step of corpus mixing (e.g. keep 100% of low-
    resource languages, 5% of crawl boilerplate). Rates ship as a literal
    CASE expression (strata cardinality is small by construction), the
    filter is map-side only: no shuffle, no driver collect.
    """
    thr: Column = F.lit(int(round(default_rate * n_buckets)))
    for value, rate in sorted(rates.items()):
        thr = F.when(
            F.col(strata_col) == F.lit(value), F.lit(int(round(rate * n_buckets)))
        ).otherwise(thr)
    return df.filter(hash_bucket(key_col, n_buckets, salt) < thr)


def ngram_repetition(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """Intra-document n-gram repetition ratio — the Gopher/C4 quality
    signal for machine-generated or boilerplate-heavy text: ratio =
    1 - distinct_ngrams / total_ngrams over the doc's own word n-grams.

    Runs per document as a row function. Arithmetic parity with the SQL
    form: n_ngrams and the distinct count are exact ints and
    ``1.0 - (distinct / total)`` is the same two IEEE ops as
    ``1.0 - size(array_distinct(a)) / size(a)``. Docs with fewer than
    ``n`` tokens have no n-grams and are excluded, matching the shingle
    family's contract. Returns (id, n_ngrams, repeat_ratio)."""

    def row(text):
        toks = _py_word_tokens(text)
        total = len(toks) - n + 1
        if total < 1:
            return None
        grams = {" ".join(toks[i : i + n]) for i in range(total)}
        return total, 1.0 - (len(grams) / total)

    return _row_kernel(
        _spread(df), (id_col, text_col), row, "n_ngrams long, repeat_ratio double"
    )


def domain_mix_sample(
    df: DataFrame,
    strata_col: str,
    key_col: str,
    weight_col: str,
    targets: dict[str, float],
    default_target: float = 0.0,
    salt: str = "",
    n_buckets: int = 10_000,
) -> DataFrame:
    """Corpus mixing to a TARGET WEIGHT BUDGET per stratum (the daily
    pretraining op: "give me ~5B tokens of en, ~3B of code, ...").

    ``stratified_sample`` needs the caller to know the rates; this derives
    them: rate_s = min(1, target_s / actual_s) where actual_s is the
    measured per-stratum weight sum — downsampling strata that exceed
    their budget, keeping under-budget strata whole. The kept rows'
    expected weight per stratum is min(target_s, actual_s).

    Fully declarative — no driver action: the per-stratum sums come from
    one partial-agg'd groupBy (strata cardinality is tiny), join back as a
    BROADCAST, and the keep decision is the same deterministic md5-bucket
    predicate as hash_sample, so the mix is replay/retry/engine-stable and
    re-mixes with a larger budget NEST the smaller mix. Weight sums are
    INTEGER (token/char counts), so actual_s is exact and order-independent
    — the derived thresholds are bit-reproducible.
    """
    actual = df.groupBy(strata_col).agg(F.sum(weight_col).alias("_actual"))
    tgt: Column = F.lit(float(default_target))
    for value, t in sorted(targets.items()):
        tgt = F.when(F.col(strata_col) == F.lit(value), F.lit(float(t))).otherwise(tgt)
    thr = F.least(
        F.lit(n_buckets).cast("long"),
        F.floor(F.lit(float(n_buckets)) * tgt / F.col("_actual")),
    )
    return (
        df.join(F.broadcast(actual), strata_col)
        .filter(hash_bucket(key_col, n_buckets, salt).cast("long") < thr)
        .drop("_actual")
    )


def ngram_decontaminate(
    train: DataFrame,
    bench: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    min_overlap: int = 3,
    frac_threshold: float | None = None,
) -> DataFrame:
    """Benchmark decontamination: flag training docs that share >=
    min_overlap distinct word n-grams with ANY benchmark document.

    The standard pretraining hygiene step (n-gram-overlap decontamination,
    as popularized by public LM training reports). Shape at 100 TB: the
    benchmark side is tiny by construction (eval suites, ~10^4-10^6 docs),
    so its distinct shingle set is collected into a BROADCAST hash side —
    the 10^9-doc train side streams map-side through one broadcast
    semi-join + one partial-aggregating count, shuffling only (id, n_hits)
    pairs. Returns every train row's decision: (id, n_hits, contaminated).

    ``frac_threshold``: an absolute hit count is not scale-robust — a
    growing benchmark suite inflates everyone's n_hits until the floor
    flags the whole corpus. When set, contamination additionally requires
    ``n_hits >= frac_threshold * n_shingles(doc)`` (the fraction-of-doc
    criterion from public LM decontamination write-ups). The per-doc
    shingle count rides the SAME shuffle as the hit count (one broadcast
    left join + one groupBy), so the scale shape is unchanged.
    """
    # per-doc distinct shingles: the train side needs no corpus-wide
    # distinct() exchange; the bench side still needs its tiny cross-doc
    # distinct before broadcasting
    bench_sh = (
        _distinct_shingle_rows(_spread(bench), id_col, text_col, shingle_n)
        .select("shingle")
        .distinct()
    )
    train_sh = _distinct_shingle_rows(_spread(train), id_col, text_col, shingle_n)
    if frac_threshold is not None:
        hits = (
            train_sh.join(
                F.broadcast(bench_sh.withColumn("_b", F.lit(1))), "shingle", "left"
            )
            .groupBy(id_col)
            .agg(
                F.count(F.lit(1)).alias("_n_sh"),
                F.count("_b").alias("n_hits"),
            )
        )
        return (
            train.select(id_col)
            .join(hits, id_col, "left")
            .select(
                F.col(id_col),
                F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
                F.coalesce(F.col("_n_sh"), F.lit(0)).cast("long").alias("_n_sh"),
            )
            .withColumn(
                "contaminated",
                (F.col("n_hits") >= F.lit(min_overlap))
                & (
                    F.col("n_hits").cast("double")
                    >= F.lit(float(frac_threshold)) * F.col("_n_sh").cast("double")
                ),
            )
            .drop("_n_sh")
        )
    hits = (
        train_sh.join(F.broadcast(bench_sh), "shingle")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        train.select(id_col)
        .join(hits, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
        )
        .withColumn("contaminated", F.col("n_hits") >= min_overlap)
    )


def duplicate_span_stats(
    df: DataFrame, id_col: str, text_col: str, span_n: int = 6, min_docs: int = 2
) -> DataFrame:
    """Per-document duplicated-span fraction — the corpus-level signal
    behind exact-substring dedup (Lee et al., "Deduplicating Training Data
    Makes Language Models Better", arXiv 2107.06499): for each doc, what
    fraction of its distinct ``span_n``-word windows also appear in at
    least ``min_docs`` documents (itself included)?

    Where suffix-array ExactSubstr removes the duplicated bytes, this
    surfaces the same signal declaratively so a curation pipeline can
    filter/score on it: dup_frac == 1.0 is an exact/near dup, high
    fractions are template families, ~0 is unique prose.

    Scale shape (10^9 docs): spans are hashed to 60 bits IN the explode
    projection, so every shuffle carries (id, int64) pairs — never span
    text. distinct() partial-aggregates map-side; the span-frequency
    groupBy and the stats join both hash-partition on the span hash, so
    Catalyst reuses one exchange for them. Per-doc output rides one final
    (id)-keyed partial agg. Like the shingle family, docs with fewer than
    ``span_n`` tokens have no windows and are excluded.

    Returns (id, n_spans, n_dup_spans, dup_frac) with n_spans counting
    DISTINCT spans (multiplicity within a doc is ngram_repetition's job).
    """
    # per-doc distinct span hashes: distinctness within a doc needs no
    # shuffle, so no corpus-wide distinct() exchange
    sh = _distinct_shingle_hashes(df, id_col, text_col, span_n)
    # staged once: the frequency agg and the stats join both consume it;
    # unstaged, Catalyst would run the kernel twice
    sh = sh.localCheckpoint(eager=False)
    # join back only the DUPLICATED spans — the head of the frequency
    # distribution — instead of the full per-span frequency table. The
    # flagged set is orders of magnitude smaller than the span universe
    # (unique prose dominates any real corpus), so AQE turns the join's
    # build side into a broadcast and the probe side never reshuffles; a
    # left join + count of hits computes the same n_dup_spans (span has
    # >= min_docs docs ⟺ it is flagged).
    flagged = (
        sh.groupBy("_sh")
        .agg(F.count(F.lit(1)).alias("_docs"))
        .filter(F.col("_docs") >= min_docs)
        .select("_sh", F.lit(1).alias("_dup"))
    )
    return (
        sh.join(flagged, "_sh", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.count("_dup").alias("n_dup_spans"),
        )
        .withColumn(
            "dup_frac",
            F.col("n_dup_spans").cast("double") / F.col("n_spans").cast("double"),
        )
    )


def strip_duplicate_lines(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_docs: int = 2,
    min_line_chars: int = 2,
) -> DataFrame:
    """Cross-corpus duplicated-line removal — the RefinedWeb/CCNet
    boilerplate pass: drop every line that occurs (as an exact string) in
    >= ``min_docs`` documents, then reassemble each document from its
    surviving lines in original order.

    Distinct from ``strip_boilerplate`` (per-doc marker heuristics): here
    the corpus itself defines boilerplate by frequency — nav bars, cookie
    banners, license footers fall out without a marker list. Lines shorter
    than ``min_line_chars`` (e.g. blank lines) are never counted or
    removed; they are structure, not boilerplate.

    Scale shape (10^9 docs): the frequency side reduces each line to a
    60-bit hash before any shuffle — distinct (id, hash) pairs partial-agg
    map-side, then one count per hash. The flagged-hash set (lines in
    >= min_docs docs) is SMALL by construction — boilerplate is the head
    of the line-frequency distribution — so the anti-join's build side is
    broadcast-friendly and AQE will pick that; ineligible lines carry a
    NULL join key, which a left_anti join keeps by definition (no match),
    so they bypass the probe entirely. The rebuild is one (id)-keyed
    shuffle carrying surviving (pos, line) pairs — O(kept corpus), the
    unavoidable payload since the operator's OUTPUT is the rebuilt text.

    Returns every input row: (id, text, n_lines_kept, n_lines_removed) —
    a doc whose every line is boilerplate comes back with text '' rather
    than vanishing (the caller decides whether to drop empties).
    """
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("_pos", "_line"),
    ).withColumn(
        "_lh",
        F.when(
            F.length("_line") >= min_line_chars, md5_hash64(F.col("_line"))
        ),
    )
    flagged = (
        lines.filter(F.col("_lh").isNotNull())
        .select(id_col, "_lh")
        .distinct()
        .groupBy("_lh")
        .agg(F.count(F.lit(1)).alias("_docs"))
        .filter(F.col("_docs") >= min_docs)
        .select("_lh")
    )
    kept = lines.join(flagged, "_lh", "left_anti")
    rebuilt = (
        kept.groupBy(id_col)
        .agg(F.array_sort(F.collect_list(F.struct("_pos", "_line"))).alias("_a"))
        .select(
            F.col(id_col),
            F.concat_ws(
                "\n", F.transform("_a", lambda s: s["_line"])
            ).alias("_text"),
            F.size("_a").cast("long").alias("n_lines_kept"),
        )
    )
    totals = df.select(
        F.col(id_col),
        F.size(F.split(F.col(text_col), "\n")).cast("long").alias("_n_total"),
    )
    return (
        totals.join(rebuilt, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("_text"), F.lit("")).alias(text_col),
            F.coalesce(F.col("n_lines_kept"), F.lit(0)).alias("n_lines_kept"),
            (F.col("_n_total") - F.coalesce(F.col("n_lines_kept"), F.lit(0))).alias(
                "n_lines_removed"
            ),
        )
    )


def deterministic_shuffle(
    df: DataFrame, key_col: str, salt: str = "", n_shards: int = 64
) -> DataFrame:
    """Deterministic global shuffle rank: the training-order permutation.

    Pretraining wants a reproducible global shuffle of the corpus; a naive
    ``orderBy(hash)`` + zipWithIndex funnels 100 TB through ONE partition's
    window. This is the two-phase rank instead:

      shard  = high bits of the 60-bit key hash (a RANGE partition of the
               hash space, so shard order == global hash order)
      rank   = (sum of smaller shards' counts) + row_number within shard

    The shard-count prefix sum runs over n_shards rows (a single tiny
    window), offsets come back via one broadcast join, and the per-shard
    row_number windows parallelize across the cluster — no driver action,
    no single-partition window, fully lazy. Ties in the 60-bit hash break
    on the key itself, so the rank is a total order and bit-reproducible
    across runs and engines.
    """
    span = (1 << 60) // n_shards + 1
    h = md5_hash64(F.concat(F.lit(salt), (F.col(key_col)).cast("string")))
    keyed = df.withColumn("_h", h).withColumn(
        "_shard", (F.col("_h") / span).cast("int")
    )
    counts = keyed.groupBy("_shard").agg(F.count(F.lit(1)).alias("_n"))
    w_off = Window.orderBy("_shard").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "_shard", F.coalesce(F.sum("_n").over(w_off), F.lit(0)).alias("_off")
    )
    w_rank = Window.partitionBy("_shard").orderBy("_h", key_col)
    return (
        keyed.join(F.broadcast(offsets), "_shard")
        .withColumn(
            "shuffle_rank", (F.col("_off") + F.row_number().over(w_rank) - 1).cast("long")
        )
        .drop("_h", "_shard", "_off")
    )


def pack_sequences(
    df: DataFrame,
    shard_col: str,
    order_col: str,
    tokens_col: str,
    budget: int,
) -> DataFrame:
    """Concat-packing: assign documents to fixed token-budget packs.

    LLM pretraining concatenates documents in a deterministic order and
    cuts the token stream every ``budget`` tokens; a document belongs to
    the pack where its FIRST token lands (it may straddle the boundary —
    that is the actual training-data semantics, and it is what makes the
    operator exactly expressible as a window cumsum instead of a stateful
    first-fit loop):

      pack_id   = floor(exclusive_cumsum(tokens) / budget)
      pack_pos  = exclusive_cumsum(tokens) % budget

    per (shard, order). One shuffle (hash by shard), one window pass; the
    window state is a single running sum. Adds pack_id / pack_pos / the
    materialized token count; callers group by (shard, pack_id) to emit
    training rows.
    """
    w = (
        Window.partitionBy(shard_col)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    excl = F.coalesce(F.sum(tokens_col).over(w), F.lit(0)).cast("long")
    return (
        df.withColumn("_excl", excl)
        .withColumn("pack_id", (F.col("_excl") / budget).cast("long"))
        .withColumn("pack_pos", (F.col("_excl") % budget).cast("long"))
        .drop("_excl")
    )


def validate_transcripts(
    df: DataFrame,
    key: str = "conv_id",
    order: tuple[str, ...] = ("ts", "turn_idx"),
    role_col: str = "role",
    text_col: str = "text",
    partition_by: list[str] | None = None,
) -> DataFrame:
    """Per-conversation structural QA: the transcript-ingest validator.

    A transcripts pipeline (SFT/RLHF data prep) gates every incoming
    conversation on structural invariants before any content filter runs:

      starts_with_user  first turn's role is 'user'
      orphan_tools      tool turns whose previous turn is neither an
                        assistant turn nor another tool turn (a tool
                        result with no call — allows parallel tool calls)
      empty_turns       NULL/whitespace-only text
      wellformed        all of the above hold AND >=1 assistant turn

    One lag() window pass + one aggregation, both keyed by the
    conversation — the groupBy reuses the window's hash partitioning
    (grouping keys are a superset of the partition keys), so the whole
    validator is a SINGLE exchange at any corpus size. ``partition_by``
    lets callers window/group by a raw upstream key that is 1:1 with
    ``key`` (e.g. the user_id the transcript derivation already
    partitioned by) to reuse that exchange too.
    """
    part = list(partition_by) if partition_by else [key]
    w = Window.partitionBy(*part).orderBy(*order)
    role = F.col(role_col)
    # first turn = row_number()==1 under the DECLARED order (same window
    # spec as the lag -> no extra exchange/sort), NOT turn_idx==0: 1-based
    # or offset turn indices must not mark every conversation malformed
    d = df.withColumn("_prev_role", F.lag(role).over(w)).withColumn(
        "_rn", F.row_number().over(w)
    )
    group_cols = part + [key] if partition_by else [key]
    orphan = (role == "tool") & ~F.coalesce(
        F.col("_prev_role").isin("assistant", "tool"), F.lit(False)
    )
    empty = F.col(text_col).isNull() | (F.trim(F.col(text_col)) == "")
    agg = d.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.count(F.when(role == "user", 1)).alias("n_user"),
        F.count(F.when(role == "assistant", 1)).alias("n_assistant"),
        F.count(F.when(role == "tool", 1)).alias("n_tool"),
        F.count(F.when(orphan, 1)).alias("orphan_tools"),
        F.count(F.when(empty, 1)).alias("empty_turns"),
        (
            F.max(
                F.when((F.col("_rn") == 1) & (role == "user"), 1).otherwise(0)
            )
            == 1
        ).alias("starts_with_user"),
    )
    out = agg.withColumn(
        "wellformed",
        F.col("starts_with_user")
        & (F.col("orphan_tools") == 0)
        & (F.col("empty_turns") == 0)
        & (F.col("n_assistant") > 0),
    )
    if partition_by:
        out = out.drop(*partition_by)
    return out


def transcript_fingerprints(
    df: DataFrame,
    key: str = "conv_id",
    turn_idx_col: str = "turn_idx",
    role_col: str = "role",
    text_col: str = "text",
) -> DataFrame:
    """Order-sensitive per-conversation fingerprint: (key, conv_fp, n_turns).

    Each turn hashes to a 60-bit fp over (role, normalized text); the
    conversation fp is the hash of the comma-joined per-turn fps in turn
    order — so two conversations collide iff they have the same turns in
    the same order (swapping two turns changes the fp; dedup_exact's
    bag-of-text normalization would not see the difference).

    Scale shape (10^12 turns): the per-turn projection is map-side; the
    only shuffle keyed by conversation carries (key, turn_idx, fp) rows —
    ~20 bytes/turn, never the text. collect_list state per key is
    O(n_turns(conv)) ints, bounded by the longest conversation, not the
    corpus. Bit-identical in DuckDB (string_agg ORDER BY turn_idx over the
    same md5-derived int64), so the oracle gate is hash-exact.
    """
    tfp = md5_hash64(
        F.concat_ws("|", F.col(role_col), normalize_text(text_col))
    )
    turns = df.select(F.col(key), F.col(turn_idx_col).alias("_i"), tfp.alias("_tfp"))
    sig = F.concat_ws(
        ",",
        F.transform(
            F.array_sort(
                F.collect_list(F.struct(F.col("_i"), F.col("_tfp").cast("string").alias("_s")))
            ),
            lambda x: x["_s"],
        ),
    )
    return (
        turns.groupBy(key)
        .agg(sig.alias("_sig"), F.count(F.lit(1)).alias("n_turns"))
        .select(F.col(key), md5_hash64(F.col("_sig")).alias("conv_fp"), "n_turns")
    )


def transcript_dedup(
    df: DataFrame,
    key: str = "conv_id",
    turn_idx_col: str = "turn_idx",
    role_col: str = "role",
    text_col: str = "text",
) -> DataFrame:
    """Conversation-level exact dedup: retries/resubmissions of a whole
    conversation collapse to one keeper.

    The transcript analog of ``exact_dedup`` — but at conversation
    granularity and order-SENSITIVE (see transcript_fingerprints): an SFT
    pipeline that dedups turn bags would merge genuinely different
    dialogues. Returns (conv_fp, keep_conv_id, dup_count, n_turns).

    Two exchanges total: one keyed by conversation (turn fps), one keyed
    by the 64-bit conv_fp — both shuffle fixed-width rows, never text.
    """
    fps = transcript_fingerprints(df, key, turn_idx_col, role_col, text_col)
    return fps.groupBy("conv_fp").agg(
        F.min(key).alias("keep_conv_id"),
        F.count(F.lit(1)).alias("dup_count"),
        F.max("n_turns").alias("n_turns"),
    )


def turn_echo_stats(
    df: DataFrame,
    key: str = "conv_id",
    order: tuple[str, ...] = ("ts", "turn_idx"),
    role_col: str = "role",
    text_col: str = "text",
    partition_by: list[str] | None = None,
) -> DataFrame:
    """Adjacent-turn echo detection: turns whose normalized text equals
    the previous turn's — the classic SFT-data defect where the assistant
    parrots the user (or a retry double-writes a turn).

    Per conversation: n_turns, n_echo (normalized text == previous turn's),
    n_echo_cross (echo where the ROLE also differs — the dangerous kind:
    one side restating the other verbatim), echo_frac, has_echo.

    Same single-exchange shape as validate_transcripts: one lag() window +
    one aggregation sharing the window's hash partitioning (pass
    ``partition_by`` to reuse an upstream key that is 1:1 with ``key``).
    Echo comparison is on 60-bit fps, so the window state per turn is an
    int, not the text.
    """
    part = list(partition_by) if partition_by else [key]
    w = Window.partitionBy(*part).orderBy(*order)
    fp = md5_hash64(normalize_text(text_col))
    d = df.withColumn("_fp", fp).withColumn(
        "_prev_fp", F.lag(F.col("_fp")).over(w)
    ).withColumn("_prev_role", F.lag(F.col(role_col)).over(w))
    echo = F.col("_fp") == F.col("_prev_fp")
    cross = echo & (F.col(role_col) != F.col("_prev_role"))
    group_cols = part + [key] if partition_by else [key]
    out = d.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.count(F.when(echo, 1)).alias("n_echo"),
        F.count(F.when(cross, 1)).alias("n_echo_cross"),
    ).withColumn(
        "echo_frac", F.col("n_echo").cast("double") / F.col("n_turns")
    ).withColumn("has_echo", F.col("n_echo") > 0)
    if partition_by:
        out = out.drop(*partition_by)
    return out


def role_transition_stats(
    df: DataFrame,
    key: str = "conv_id",
    order: tuple[str, ...] = ("ts", "turn_idx"),
    role_col: str = "role",
    partition_by: list[str] | None = None,
) -> DataFrame:
    """Corpus-wide role-transition (Markov bigram) matrix over transcripts.

    Counts adjacent (prev_role -> role) pairs within each conversation and
    row-normalizes: ``frac`` is P(to_role | from_role). The shape of this
    matrix is a fast whole-corpus QA signal — user->user means double-sends,
    tool->tool means unconsumed tool results, a missing assistant->user edge
    means truncated conversations.

    Scale shape: one lag() window per conversation (pass ``partition_by``
    to reuse an upstream exchange that is 1:1 with ``key``), then a
    groupBy over at most |roles|^2 rows; the row-normalizing window runs
    on that tiny aggregate, not on the corpus.
    """
    part = list(partition_by) if partition_by else [key]
    w = Window.partitionBy(*part).orderBy(*order)
    d = df.withColumn("_prev_role", F.lag(F.col(role_col)).over(w)).filter(
        F.col("_prev_role").isNotNull()
    )
    counts = d.groupBy(
        F.col("_prev_role").alias("from_role"), F.col(role_col).alias("to_role")
    ).agg(F.count(F.lit(1)).alias("n_trans"))
    w_row = Window.partitionBy("from_role")
    return counts.withColumn(
        "frac", F.col("n_trans").cast("double") / F.sum("n_trans").over(w_row)
    )


def feature_hash_tfidf(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    dim: int = 64,
    idf_scale: int = 1 << 12,
) -> DataFrame:
    """Signed feature hashing (the "hashing trick", Weinberger et al.
    ICML'09) with smooth TF-IDF weighting: text -> L2-normalized sparse
    vectors with NO trained vocabulary, no external model, no Python.
    Completes the text->vector->ANN pipeline engine-natively: the output
    composes directly with the similarity family (cosine_topk / LSH / IVF
    take any vector column).

    Per token: ``fp = md5-60bit(token)``; ``bucket = fp mod dim``;
    ``sign = ±1`` from the next bit of the same hash (signed hashing keeps
    collisions zero-mean). Weight per (doc, bucket) =
    Σ tf(doc,tok) · sign(tok) · idf(tok), idf = ln((N+1)/(df+1)) + 1
    (sklearn's smooth idf), then L2-normalized per doc.

    Determinism contract (the kmeans fixed-point pattern): idf is
    QUANTIZED to the 1/idf_scale grid and every accumulation happens in
    exact int64 — tf, sign, idf_int are integers, so per-bucket sums and
    the per-doc Σw² are order-independent and engine-independent; the
    final sqrt/divide are IEEE-correctly-rounded functions of those
    exact ints. Caveat stated honestly: the quantization itself evaluates
    ``ln`` (JVM Math.log vs libm — a documented ≤1-ulp discrepancy, see
    char_ngram_entropy), so a (N, df) pair landing within 1 ulp of a grid
    midpoint COULD flip idf_int by 1 between engines; the grid makes that
    a measure-zero set, and the deterministic corpora here verify clean.
    Overflow is GUARDED, not assumed: |w_int| must stay under
    sqrt(2^62/dim) so Σw² and downstream dot products fit int64 — a
    pathological doc (e.g. one rare token repeated 10^5×) raises loudly
    instead of letting Spark's non-ANSI sum wrap while DuckDB's HUGEINT
    doesn't (a silent oracle divergence).

    Scale shape: explode is map-side; every shuffle carries int64 triples,
    never tokens — (id, fp) for tf, (fp) for df+idf, (id, bucket) for the
    vector sums, (id) for the norm window. 4 exchanges total, all
    partial-aggregated. Rows out: ≤ dim per doc (sparse, zero-weight
    buckets kept only when a collision cancels exactly — both engines
    produce them identically).
    """
    ints = feature_hash_ints(df, id_col, text_col, dim, idf_scale)
    return ints.select(
        id_col,
        "bucket",
        (F.col("w_int") / F.sqrt(F.col("nsq").cast("double"))).alias("weight"),
    )


def term_freqs(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Shared tokenize → 60-bit-hash → per-doc term-frequency pass:
    ``(id, fp, tf)``. The dominant map-side cost of every lexical
    operator; compute it ONCE (and localCheckpoint it) when composing
    feature hashing with BM25 in one plan.

    Runs per document as a row function: term frequency is a PER-DOC
    aggregate, so no token rows and no (id, fp) count exchange exist.
    The Python tokenizer/hash are the exact twins of
    ``word_tokens``/``md5_hash64`` (see ``dedup._py_word_tokens``); counts
    are exact ints — identical rows."""
    from collections import Counter

    def row(text):
        counts = Counter(_py_md5_h64(t) for t in _py_word_tokens(text))
        return list(counts), list(counts.values())

    return _row_kernel(
        _spread(df), (F.col(id_col).alias("id"), text_col), row, "fp long, tf long"
    )


def feature_hash_ints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    dim: int = 64,
    idf_scale: int = 1 << 12,
    tf: DataFrame | None = None,
) -> DataFrame:
    """The exact-integer core of ``feature_hash_tfidf``: sparse rows
    ``(id_col, bucket, w_int, nsq)`` where ``w_int`` is the un-normalized
    fixed-point vector entry and ``nsq = Σ w_int²`` per doc (both exact
    int64). Downstream consumers that keep arithmetic in this domain —
    ``sparse_cosine_topk``'s dot products — stay order-independent and
    cross-engine bit-exact; normalization is one IEEE op at the edge.
    Pass a precomputed ``tf`` (from ``term_freqs``) to share the
    tokenize→hash→count pass with other consumers (e.g. ``bm25_topk`` in
    a hybrid plan)."""
    if tf is None:
        # staged: the diamond below (n_docs agg + df agg + contrib join)
        # would otherwise re-run the term_freqs kernel per consumer
        tf = term_freqs(df, id_col, text_col).localCheckpoint(eager=False)
    n_docs = tf.agg(F.countDistinct("id").alias("n"))
    dfreq = tf.groupBy("fp").agg(F.count(F.lit(1)).alias("dfq"))
    idf = dfreq.crossJoin(F.broadcast(n_docs)).select(
        "fp",
        F.floor(
            (F.log((F.col("n") + F.lit(1.0)) / (F.col("dfq") + F.lit(1.0))) + F.lit(1.0))
            * F.lit(float(idf_scale))
            + F.lit(0.5)
        )
        .cast("long")
        .alias("idf_int"),
    )
    contrib = tf.join(idf, "fp").select(
        "id",
        F.pmod(F.col("fp"), F.lit(dim)).cast("int").alias("bucket"),
        (
            F.col("tf")
            * (F.lit(1) - F.lit(2) * F.pmod(F.expr(f"fp div {dim}"), F.lit(2)))
            * F.col("idf_int")
        ).alias("c_int"),
    )
    w = contrib.groupBy("id", "bucket").agg(F.sum("c_int").alias("w_int"))
    # overflow guard (see docstring): beyond this bound Σw² / downstream
    # dot products can wrap int64 in Spark (ANSI off) while DuckDB's
    # HUGEINT keeps going — fail loudly instead of silently diverging
    bound = int(((1 << 62) // max(dim, 1)) ** 0.5)
    w = w.withColumn(
        "w_int",
        F.when(F.abs(F.col("w_int")) < F.lit(bound), F.col("w_int")).otherwise(
            F.raise_error(
                F.lit(
                    f"feature_hash_ints: |w_int| >= {bound} would overflow the "
                    "exact-int64 contract (pathological token repetition?); "
                    "raise dim or pre-clamp tf"
                )
            ).cast("long")
        ),
    )
    nrm = Window.partitionBy("id")
    return (
        w.withColumn("nsq", F.sum(F.col("w_int") * F.col("w_int")).over(nrm))
        .filter(F.col("nsq") > 0)
        .withColumnRenamed("id", id_col)
    )


def bm25_topk(
    df: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    score_scale: int = 1 << 12,
    tf: DataFrame | None = None,
    exclude_self: bool = True,
) -> DataFrame:
    """BM25 top-k retrieval (Robertson-Spärck Jones / Okapi) — THE
    standard lexical ranking function — by query-by-example: each query
    row's distinct tokens probe the corpus posting lists and candidates
    rank by Σ_t idf(t) · tf·(k1+1)/(tf + k1·(1-b+b·len/avglen)).

    Determinism contract: idf = ln((N-df+0.5)/(df+0.5)+1) is quantized to
    the 1/score_scale grid (exact int64); the tf-saturation term is a
    fixed-order IEEE expression of exact integers (tf, len, N, total
    tokens), so its double value is bit-identical across engines; the
    per-(doc,term) partial score is floored back to the grid and summed
    as int64 — order-independent, hash-exact against the DuckDB twin
    (same honest ln-quantization caveat as ``feature_hash_tfidf``: a
    grid-midpoint tie could flip one unit across engines — measure-zero,
    verified clean on these corpora). Ranking on the integer score keeps
    ties (and therefore row sets) engine-independent; the reported
    ``score`` is score_int/score_scale. Overflow headroom is structural
    here (s_int ≤ (k1+1)·idf_int < 2^18; query term counts bound sums
    far below 2^63), so no runtime guard is needed.

    Scale shape: tf groupBy (id, fp) then len groupBy (id) — both
    partial-aggregated int shuffles; df+idf groupBy (fp); the query token
    set broadcasts (bounded query contract, as the ANN verifiers); the
    ONE retrieval exchange carries (query_id, neighbor_id, int partial
    sums). Nothing shuffles token text. Pass a precomputed ``tf``
    (``term_freqs``) to share the tokenize pass across operators.

    ``exclude_self`` drops candidates whose id EQUALS the query id — the
    query-by-example convention where queries ⊆ corpus. Set it False when
    ``queries`` is a SEPARATE relation whose id space may coincide with
    corpus ids: there an id match is a different document, and silently
    dropping it would be wrong.
    """
    if tf is None:
        # staged: dlen/idf/postings all consume tf — unstaged, each would
        # re-run the term_freqs kernel
        tf = term_freqs(df, id_col, text_col).localCheckpoint(eager=False)
    dlen = tf.groupBy("id").agg(F.sum("tf").alias("len"))
    totals = dlen.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("len").alias("total_len")
    )
    idf = (
        tf.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("dfq"))
        .crossJoin(F.broadcast(totals))
        .select(
            "fp",
            "n_docs",
            "total_len",
            F.floor(
                F.log(
                    (F.col("n_docs") - F.col("dfq") + F.lit(0.5))
                    / (F.col("dfq") + F.lit(0.5))
                    + F.lit(1.0)
                )
                * F.lit(float(score_scale))
                + F.lit(0.5)
            )
            .cast("long")
            .alias("idf_int"),
        )
    )
    # per-(doc, term) partial score, floored to the grid: every operand is
    # an exact integer and the expression tree is written in ONE fixed
    # order on both engines, so the pre-floor double is bit-identical
    sat = (F.col("tf") * F.lit(k1 + 1.0)) / (
        F.col("tf")
        + F.lit(k1)
        * (
            F.lit(1.0 - b)
            + F.lit(b)
            * (F.col("len") * F.col("n_docs"))
            / F.col("total_len")
        )
    )
    postings = (
        tf.join(dlen, "id")
        .join(idf, "fp")
        .select(
            "id",
            "fp",
            F.floor(F.col("idf_int") * sat + F.lit(0.5)).cast("long").alias("s_int"),
        )
    )
    q_terms = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"),
            F.explode(word_tokens(text_col)).alias("tok"),
        )
        .select("query_id", md5_hash64(F.col("tok")).alias("fp"))
        .distinct()
    )
    joined = q_terms.join(postings, "fp")
    if exclude_self:
        joined = joined.filter(F.col("query_id") != F.col("id"))
    scored = joined.groupBy("query_id", F.col("id").alias("neighbor_id")).agg(
        F.sum("s_int").alias("score_int")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score_int").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            (F.col("score_int") / F.lit(float(score_scale))).alias("score"),
            "rank",
        )
    )


def rrf_fuse(
    rankings: list[DataFrame],
    k0: int = 60,
    k: int = 5,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. SIGIR'09) — the standard
    hybrid-retrieval combiner: fused(q,d) = Σ_systems 1/(k0 + rank_s(q,d))
    over the union of each system's candidates (a system that didn't
    surface a pair contributes nothing). Rank-based, so it fuses scores
    of incomparable scales (BM25 vs cosine) with no normalization model.

    Each input needs (query_id, neighbor_id, rank). Determinism: ranks
    are exact ints and each 1/(k0+rank) is one correctly-rounded IEEE op;
    with ≤2 systems the per-pair sum is EXACT regardless of aggregation
    order (IEEE addition is commutative — only associativity is lost), so
    the DuckDB twin matches hash-exact. With 3+ systems the sum order
    could matter in the last ulp; fuse pairwise if bit-parity is needed.
    Final ties rank by neighbor_id. Scale shape: one union + one
    (query_id, neighbor_id) exchange over int keys + one top-k window —
    candidate lists are already top-k-bounded by the input systems.
    """
    if not rankings:
        raise ValueError("rrf_fuse: need at least one ranking DataFrame")
    cols = ["query_id", "neighbor_id", "rank"]
    u = rankings[0].select(*cols)
    for r in rankings[1:]:
        u = u.unionByName(r.select(*cols))
    fused = u.groupBy("query_id", "neighbor_id").agg(
        F.sum(F.lit(1.0) / (F.lit(float(k0)) + F.col("rank"))).alias("rrf")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("rrf").desc(), F.col("neighbor_id")
    )
    return (
        fused.withColumn("fused_rank", F.row_number().over(w))
        .filter(F.col("fused_rank") <= k)
        .select("query_id", "neighbor_id", "rrf", "fused_rank")
    )


def sparse_cosine_topk(
    ints: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "doc_id",
    exclude_self: bool = True,
) -> DataFrame:
    """Inverted-index top-k retrieval over sparse feature-hash vectors —
    how text engines do similarity search at corpus scale: instead of
    scoring every (query, doc) pair over dense vectors, each query's
    non-zero buckets probe only the docs sharing a bucket (the posting
    lists), so per-corpus-row work is O(query rows in its buckets).

    ``ints``/``queries`` are ``feature_hash_ints`` relations (queries ⊆
    corpus or separately hashed with the SAME idf corpus). The query side
    broadcasts (bounded query set — same contract as ``cosine_topk``'s
    verifier); the ONE exchange carries (query_id, neighbor_id, partial
    int sums). cosine = dot_int / (sqrt(nsq_q)·sqrt(nsq_n)): the dot is
    an exact order-independent int64 sum (products of fixed-point entries
    — overflow headroom: feature_hash_ints' runtime guard enforces
    |w_int| < sqrt(2^62/dim), so Σ over dim products stays < 2^62; a
    caller feeding vectors from another source must honor the same
    bound), the three
    IEEE ops at the edge are correctly rounded with a fixed evaluation
    order — the DuckDB twin matches hash-exact. Ties rank by neighbor_id.
    """
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col("bucket"),
            F.col("w_int").alias("wq"),
            F.col("nsq").alias("nsq_q"),
        )
    )
    c = ints.select(
        F.col(id_col).alias("neighbor_id"),
        "bucket",
        F.col("w_int").alias("wn"),
        F.col("nsq").alias("nsq_n"),
    )
    qc = q.join(c, "bucket")
    if exclude_self:  # query-by-example (queries ⊆ corpus); pass False for
        # a separate query relation whose ids may coincide with corpus ids
        qc = qc.filter(F.col("query_id") != F.col("neighbor_id"))
    scored = (
        qc.groupBy("query_id", "neighbor_id")
        .agg(
            F.sum(F.col("wq") * F.col("wn")).alias("dot_int"),
            F.max("nsq_q").alias("nsq_q"),  # constant per id; max = pick it
            F.max("nsq_n").alias("nsq_n"),
        )
        .withColumn(
            "cosine",
            F.col("dot_int")
            / (
                F.sqrt(F.col("nsq_q").cast("double"))
                * F.sqrt(F.col("nsq_n").cast("double"))
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def tool_latency_stats(
    df: DataFrame,
    key: str = "conv_id",
    order: tuple[str, ...] = ("ts", "turn_idx"),
    role_col: str = "role",
    tool_col: str = "tool",
    ts_col: str = "ts",
    partition_by: list[str] | None = None,
) -> DataFrame:
    """Per-tool response-latency distribution over transcripts.

    A tool turn's latency is the event-time gap from the INVOKING turn —
    the last non-tool turn before it in the conversation — so parallel
    tool batches (tool-after-tool, legal per ``validate_transcripts``) are
    each timed from the shared invocation, not from each other.
    Per tool: call counts, p50/p95/max latency, and the mean — all built
    on integer microseconds (``unix_micros``) so sums are order-independent
    and the DuckDB oracle matches hash-exact; percentiles are order
    statistics (exact interpolating ``F.percentile``), never approximations.

    Scale shape: one lag() window per conversation (``partition_by`` reuses
    an upstream 1:1 exchange), a map-side filter to tool turns only, then
    a groupBy over |tools| keys. The percentile state per group is the
    tool's latency multiset — bounded by calls-per-tool; at 100 TB swap
    ``F.percentile`` for ``percentile_approx`` if a single tool's call
    count outgrows executor memory (documented trade: approx vs exact).
    """
    part = list(partition_by) if partition_by else [key]
    w = Window.partitionBy(*part).orderBy(*order)
    # parquet timestamps load as TIMESTAMP_NTZ; the cast to TIMESTAMP is
    # micro-exact under the engine's UTC session contract (session.py:41),
    # and any constant offset cancels in the gap difference anyway
    ts_us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    invoke_us = F.last(
        F.when(F.col(role_col) != "tool", ts_us), ignorenulls=True
    ).over(w.rowsBetween(Window.unboundedPreceding, -1))
    d = (
        df.withColumn("_invoke_us", invoke_us)
        .filter(F.col(tool_col).isNotNull() & (F.col(role_col) == "tool"))
        .withColumn("_lat_us", ts_us - F.col("_invoke_us"))
    )
    return d.groupBy(tool_col).agg(
        F.count(F.lit(1)).alias("n_calls"),
        F.count("_lat_us").alias("n_timed"),
        (F.percentile("_lat_us", 0.5) / F.lit(1000.0)).alias("p50_ms"),
        (F.percentile("_lat_us", 0.95) / F.lit(1000.0)).alias("p95_ms"),
        (F.max("_lat_us") / F.lit(1000.0)).alias("max_ms"),
        (F.sum("_lat_us").cast("double") / F.count("_lat_us") / F.lit(1000.0)).alias(
            "avg_ms"
        ),
    )
