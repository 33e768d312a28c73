"""Incremental (streaming) deduplication — epoch-over-store composition.

The shape a 100 TB training-data pipeline actually consumes dedup in: each
micro-batch brings NEW documents, and a document is kept only if its
fingerprint has never been committed before. The accumulated fingerprint
store IS the sink's committed output — no side database:

  epoch N batch ──(fingerprint)──(first-wins within epoch)──
      ──(anti-join vs committed epochs < N)──> exactly-once epoch dir N

Exactly-once falls out of the existing ledger contract: a replayed epoch
re-reads the SAME committed store (its own uncommitted dir is not in the
ledger, so it never sees itself), recomputes the same keep-set, and
overwrites idempotently. Crash between data write and ledger commit ⇒ the
orphan dir is invisible to ``read_output`` and the replay regenerates it.

Scale notes (10^12 rows): the per-epoch work shuffles 64-bit fingerprints
(plus the epoch's own rows), never the historical documents — the store
anti-join reads ONLY the ``fingerprint`` column off the committed parquet
(column pruning). The store itself is COMPACTED every ``compact_every``
epochs (sink.compact(): previous compaction + tail rewritten into one dir
hash-partitioned by the join key, ledger-recorded, inputs pruned), so the
per-epoch store read touches O(1 + tail) dirs instead of O(committed
epochs) — without it, epoch N pays a listing/planning cost linear in all
N-1 prior epochs. At 10^12 rows the compacted dir is an Iceberg table
bucketed by fingerprint/band; ``repartition(n, keys)`` is the sandbox
analog with the same join-side clustering effect.

Keep rule: FIRST ARRIVAL WINS — within an epoch the lowest ``id_col``
(deterministic under replay), across epochs the earliest committed epoch.
This is the only causally-consistent rule a stream can implement (a later
"better" duplicate cannot retract an already-committed keeper).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from arroyo_spark.operators.dedup import md5_hash64, normalize_text
from arroyo_spark.streaming.ledger import OffsetsLedger
from arroyo_spark.streaming.sink import ExactlyOnceSink


def epoch_dedup_transform(sink: ExactlyOnceSink, id_col: str = "doc_id", text_col: str = "text"):
    """Per-epoch transform: fingerprint -> first-wins within epoch ->
    anti-join against the sink's own committed history."""

    def transform(batch_df: DataFrame) -> DataFrame:
        spark = batch_df.sparkSession
        fp = md5_hash64(normalize_text(text_col)).alias("fingerprint")
        batch = batch_df.select(fp, *batch_df.columns)
        # within-epoch first-wins: min_by keeps the whole row with the
        # lowest id per fingerprint — a partial-aggregating groupBy (map-
        # side combine), not a count-over-window shuffle-and-sort
        cols = [c for c in batch.columns if c != "fingerprint"]
        epoch_keep = (
            batch.groupBy("fingerprint")
            .agg(F.min_by(F.struct(*cols), F.col(id_col)).alias("_r"))
            .select("fingerprint", "_r.*")
        )
        try:
            store = sink.read_output(spark).select("fingerprint")
        except FileNotFoundError:
            return epoch_keep  # first epoch: nothing committed yet
        return epoch_keep.join(store, "fingerprint", "left_anti")

    return transform


def incremental_dedup_sink(
    output_dir: str,
    ledger: OffsetsLedger,
    id_col: str = "doc_id",
    text_col: str = "text",
    compact_every: int | None = 16,
    **sink_kwargs,
) -> ExactlyOnceSink:
    """ExactlyOnceSink whose committed output is the deduplicated corpus:
    every committed row is the first-ever arrival of its fingerprint.

    ``compact_every`` (default 16) bounds the store read at O(1 + tail)
    dirs by periodically rewriting it hash-partitioned by fingerprint —
    the anti-join key (see module docstring / sink.compact())."""
    sink = ExactlyOnceSink(
        output_dir=output_dir,
        ledger=ledger,
        compact_every=compact_every,
        compact_keys=("fingerprint",),
        **sink_kwargs,
    )
    sink.transform = epoch_dedup_transform(sink, id_col, text_col)
    return sink


# ---------------------------------------------------------------------------
# Incremental NEAR-duplicate dedup (MinHash-LSH over the committed band store)
# ---------------------------------------------------------------------------
def epoch_minhash_transform(
    sink: ExactlyOnceSink,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_perm: int = 16,
    band_size: int = 4,
    shingle_n: int = 3,
):
    """Per-epoch MinHash-LSH near-dup transform — streaming equal to the
    batch rule by construction.

    Keep rule (the standard scalable LSH-dedup rule, applied first-wins):
    a document is DROPPED iff any of its LSH band buckets was already
    occupied by ANY earlier document — earlier epoch (committed store) or
    smaller id within this epoch. "Any earlier document" — kept or
    dropped — is deliberate: it makes the rule non-recursive (no
    connected-components pass per epoch) AND makes the streaming result
    provably equal to the same rule evaluated in one batch over the whole
    corpus, because the committed store records the band rows of EVERY
    seen document, not only the keepers.

    PRECONDITION for that batch equality: ids must be monotone with
    arrival order (epoch-N ids < epoch-N+1 ids — the natural shape when
    ids derive from stream offsets). "Earlier" means earlier-EPOCH here
    but smaller-ID in ``batch_minhash_keep_set``; if an epoch can carry a
    smaller id than an already-committed doc, the two rules keep
    different members of that duplicate cluster (same cluster count,
    different representative).

    Committed output per epoch: the epoch's band rows
    (id, band, band_key, kept) — the band store and the keep-set are the
    same table (keep-set = ``kept`` rows, one per doc per band; dedupe on
    id to enumerate docs). At 10^12 docs this is the bucketed Iceberg
    band table; per epoch the store side is read as two small columns
    with a left-semi join — documents themselves never reshuffle.
    """
    from arroyo_spark.operators.dedup import lsh_bands, minhash_signatures

    def transform(batch_df: DataFrame) -> DataFrame:
        spark = batch_df.sparkSession
        bands = lsh_bands(
            minhash_signatures(batch_df, id_col, text_col, n_perm, shingle_n),
            id_col,
            band_size,
        ).localCheckpoint(eager=False)  # consumed 3x below (store hit, self-join x2)
        try:
            store = sink.read_output(spark).select("band", "band_key")
        except FileNotFoundError:
            store = None
        hit_store = (
            bands.join(store, ["band", "band_key"], "left_semi").select(id_col).distinct()
            if store is not None
            else None
        )
        a = bands.select(F.col(id_col).alias("_ida"), "band", "band_key")
        c = bands.select(F.col(id_col).alias("_idb"), "band", "band_key")
        hit_epoch = (
            a.join(c, ["band", "band_key"])
            .filter(F.col("_ida") < F.col("_idb"))
            .select(F.col("_idb").alias(id_col))
            .distinct()
        )
        dropped = hit_epoch if hit_store is None else hit_store.unionByName(hit_epoch).distinct()
        return bands.join(
            dropped.withColumn("_dropped", F.lit(True)), id_col, "left"
        ).select(
            id_col, "band", "band_key", F.coalesce(~F.col("_dropped"), F.lit(True)).alias("kept")
        )

    return transform


def incremental_minhash_sink(
    output_dir: str,
    ledger: OffsetsLedger,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_perm: int = 16,
    band_size: int = 4,
    shingle_n: int = 3,
    compact_every: int | None = 16,
    **sink_kwargs,
) -> ExactlyOnceSink:
    """ExactlyOnceSink committing per-epoch LSH band rows with a ``kept``
    flag; keep-set = first-arrival docs with no band collision against
    anything seen before (see ``epoch_minhash_transform``).

    ``compact_every`` (default 16) keeps the band-store read at O(1 +
    tail) dirs, hash-partitioned by the (band, band_key) semi-join key."""
    sink = ExactlyOnceSink(
        output_dir=output_dir,
        ledger=ledger,
        compact_every=compact_every,
        compact_keys=("band", "band_key"),
        **sink_kwargs,
    )
    sink.transform = epoch_minhash_transform(
        sink, id_col, text_col, n_perm, band_size, shingle_n
    )
    return sink


def minhash_keep_set(sink: ExactlyOnceSink, spark, id_col: str = "doc_id") -> DataFrame:
    """Doc ids kept across all committed epochs (one row per doc)."""
    return sink.read_output(spark).filter(F.col("kept")).select(id_col).distinct()


# ---------------------------------------------------------------------------
# Incremental ANN (sign-LSH index maintained through the exactly-once sink)
# ---------------------------------------------------------------------------
def epoch_ann_transform(
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    seed: int = 0,
    dim: int | None = None,
):
    """Per-epoch ANN-index transform: each arriving vector is committed as
    one index row (id, bucket, vec, norm) — the sink's committed store IS
    the sign-LSH index, no side database (the similarity twin of
    ``epoch_dedup_transform``).

    Unlike the dedup transforms this one never reads the store: index
    maintenance is append-only (a vector's bucket depends only on itself),
    so per-epoch cost is O(epoch) regardless of index size. The
    degenerate-bucket cap CANNOT be applied at write time — a bucket only
    becomes overfull as epochs accumulate — so it is applied at query time
    (``ann_query_topk``), which also keeps the cap semantics identical to
    batch ``lsh_ann_topk`` over the same corpus.
    """
    from arroyo_spark.operators.similarity import _bucketize, _infer_dim, _np_planes

    # the (constant) hyperplanes, built on the first epoch: inferring dim
    # every epoch would add a .first() driver job to each trigger — the
    # serial fixed cost perfbench's processor.serial_ms_p50 tracks
    planes = []

    def transform(batch_df: DataFrame) -> DataFrame:
        if not planes:
            d = dim if dim is not None else _infer_dim(batch_df, vec_col)
            planes.append(_np_planes(n_planes, d, seed))
        return _bucketize(batch_df, id_col, vec_col, planes).select(
            F.col("_id").alias(id_col),
            "bucket",
            F.col("_vec").alias("vec"),
            F.col("_norm").alias("norm"),
        )

    return transform


def incremental_ann_sink(
    output_dir: str,
    ledger: OffsetsLedger,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    seed: int = 0,
    dim: int | None = None,
    compact_every: int | None = 16,
    **sink_kwargs,
) -> ExactlyOnceSink:
    """ExactlyOnceSink whose committed output is a queryable sign-LSH ANN
    index. ``compact_every`` (default 16) keeps the index read at O(1 +
    tail) dirs, hash-partitioned by ``bucket`` — the query join key, so a
    compacted index joins bucket-clustered (at 10^12 vectors: an Iceberg
    table bucketed by `bucket`)."""
    sink = ExactlyOnceSink(
        output_dir=output_dir,
        ledger=ledger,
        compact_every=compact_every,
        compact_keys=("bucket",),
        **sink_kwargs,
    )
    sink.transform = epoch_ann_transform(id_col, vec_col, n_planes, seed, dim)
    return sink


def ann_query_topk(
    sink: ExactlyOnceSink,
    spark,
    queries_df: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    seed: int = 0,
    dim: int | None = None,
    max_bucket_size: int | None = 10000,
) -> DataFrame:
    """Top-k over the committed incremental index — equal BY CONSTRUCTION
    to batch ``lsh_ann_topk`` over the same corpus when ``queries_df`` is
    that corpus: same hyperplane constants, same query-time degenerate-
    bucket cap over the full index, same zero-norm exclusion on both the
    query and neighbor sides, same (cosine DESC, neighbor_id) tie-break.

    Plan shape: index and query sides cogroup on the bucket id into one
    Arrow kernel that scores each bucket's query x member grid and emits
    each query's ranked top-k directly — a query lives in exactly one
    bucket, so the per-bucket top-k IS the global answer. Output schema
    matches ``lsh_ann_topk``: (query_id, bucket, neighbor_id, cosine,
    rank).
    """
    from arroyo_spark.operators.similarity import (
        _bucketize,
        _cap_buckets,
        _infer_dim,
        _np_planes,
        _side,
        _topk_frame,
    )

    d = dim if dim is not None else _infer_dim(queries_df, vec_col)
    store = _cap_buckets(sink.read_output(spark), max_bucket_size, "bucket")
    nb = store.filter(F.col("norm") > 0).select(
        F.col(id_col).alias("_id"),
        "bucket",
        F.col("vec").alias("_vec"),
        F.col("norm").alias("_norm"),
    )
    planes = [_np_planes(n_planes, d, seed)]
    q = _bucketize(queries_df, id_col, vec_col, planes).filter(F.col("_norm") > 0)
    idt = dict(queries_df.dtypes)[id_col]

    def score(key, left, right):
        return _topk_frame(_side(right), _side(left), k, rank=True).assign(bucket=key[0])

    return (
        nb.groupBy("bucket")
        .cogroup(q.groupBy("bucket"))
        .applyInPandas(
            score,
            f"query_id {idt}, bucket int, neighbor_id {idt}, cosine double, rank int",
        )
    )


def batch_minhash_keep_set(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_perm: int = 16,
    band_size: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """The SAME keep rule evaluated in one batch over the whole corpus —
    the equivalence oracle for the streaming composition: drop every doc
    that shares a band bucket with any smaller-id doc."""
    from arroyo_spark.operators.dedup import lsh_bands, minhash_signatures

    bands = lsh_bands(
        minhash_signatures(df, id_col, text_col, n_perm, shingle_n), id_col, band_size
    ).localCheckpoint(eager=False)
    a = bands.select(F.col(id_col).alias("_ida"), "band", "band_key")
    c = bands.select(F.col(id_col).alias("_idb"), "band", "band_key")
    dropped = (
        a.join(c, ["band", "band_key"])
        .filter(F.col("_ida") < F.col("_idb"))
        .select(F.col("_idb").alias(id_col))
        .distinct()
    )
    return df.select(id_col).distinct().join(dropped, id_col, "left_anti")


# ---------------------------------------------------------------------------
# Incremental CONVERSATION-level dedup (transcript retries across epochs)
# ---------------------------------------------------------------------------
def epoch_transcript_dedup_transform(
    sink: ExactlyOnceSink,
    key: str = "conv_id",
    turn_idx_col: str = "turn_idx",
    role_col: str = "role",
    text_col: str = "text",
):
    """Per-epoch conversation-level exact dedup — the streaming twin of
    ``operators.corpus.transcript_dedup``.

    Ingest shape: each epoch carries WHOLE conversations (the natural
    retry/resubmission unit — a resubmitted conversation re-arrives as a
    unit, e.g. downstream of a session-window close). PRECONDITION: a
    conversation's turns must not straddle epochs, or its prefix would be
    fingerprinted as the whole; enforce upstream with session windows or
    a conv-complete marker.

    Keep rule: first arrival wins — within an epoch the lowest ``key``,
    across epochs the earliest committed epoch (same causal rule as
    ``epoch_dedup_transform``; a later retry cannot retract a committed
    keeper). Committed rows are the keeper conversations' TURN rows plus
    ``conv_fp`` — the deduped corpus and the fingerprint history are the
    same table, so the per-epoch store read is ONE pruned column
    (``conv_fp``) off the compacted store; turn text never reshuffles on
    the anti-join side.
    """
    from arroyo_spark.operators.corpus import transcript_fingerprints

    def transform(batch_df: DataFrame) -> DataFrame:
        spark = batch_df.sparkSession
        fps = transcript_fingerprints(batch_df, key, turn_idx_col, role_col, text_col)
        epoch_keep = fps.groupBy("conv_fp").agg(F.min(key).alias(key))
        try:
            store = sink.read_output(spark).select("conv_fp").distinct()
        except FileNotFoundError:
            store = None
        if store is not None:
            epoch_keep = epoch_keep.join(store, "conv_fp", "left_anti")
        return batch_df.join(epoch_keep.select(key, "conv_fp"), key, "inner")

    return transform


def incremental_transcript_dedup_sink(
    output_dir: str,
    ledger: OffsetsLedger,
    key: str = "conv_id",
    turn_idx_col: str = "turn_idx",
    role_col: str = "role",
    text_col: str = "text",
    compact_every: int | None = 16,
    **sink_kwargs,
) -> ExactlyOnceSink:
    """ExactlyOnceSink whose committed output is the deduplicated
    transcript corpus: every committed conversation is the first-ever
    arrival of its order-sensitive fingerprint (see
    ``epoch_transcript_dedup_transform``)."""
    sink = ExactlyOnceSink(
        output_dir=output_dir,
        ledger=ledger,
        compact_every=compact_every,
        compact_keys=("conv_fp",),
        **sink_kwargs,
    )
    sink.transform = epoch_transcript_dedup_transform(
        sink, key, turn_idx_col, role_col, text_col
    )
    return sink
