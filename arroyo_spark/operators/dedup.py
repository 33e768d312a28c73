"""Deduplication operators for large-scale training-data pipelines.

Not present in the reference (arroyo has no relational/dedup surface);
these are the engine's first-class additions for the 100 TB corpus case.
Every operator is column expressions + shuffles that Catalyst can plan,
plus per-document Python row functions (tokenize, shingle, hash, fold) run
by the one per-row Arrow driver ``map._row_kernel``; no driver-side loops.

Determinism & oracle-checkability: the hash primitive is
``md5 -> first 15 hex chars -> int64`` which evaluates bit-identically in
Spark (conv) and DuckDB (hex cast), so MinHash/SimHash signatures match an
ANSI-SQL oracle exactly. In production you would swap md5 for xxhash64
(cheaper); the algebra is unchanged.

Scale notes (10^9+ docs):
- minhash: shingles x n_perm is the dominant cost; it runs per document
  in the row function, so no shingle rows exist JVM-side and the first
  shuffle carries n_perm (id, perm, minhash) rows per doc.
- LSH bands: candidate generation is a self-equi-join on (band, band_key)
  — hash-partitioned, no cross product; hot buckets (boilerplate docs)
  are bounded by ``max_bucket_size``.
- exact dedup: hash-groupBy on the normalized text fingerprint, not the
  text itself (64-bit shuffle keys, not document bodies).
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from arroyo_spark.functions.text import normalize_text, word_tokens
from arroyo_spark.operators.map import _row_kernel, _spread


def md5_hash64(col: Column) -> Column:
    """Deterministic 60-bit hash, identical in Spark and DuckDB."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


# ---------------------------------------------------------------------------
# Python twins of the JVM text primitives, used by the row functions below
# and in ``corpus``. Parity contracts:
# - _py_word_tokens == word_tokens: lower + split on [^a-z0-9]+ + drop
#   empties. The character classes are pure-ASCII, where Java and Python
#   regex/casing agree exactly; the oracle gate verifies end to end.
# - _py_md5_h64 == md5_hash64: md5 hex, first 15 chars, base-16 -> int64.
#   hashlib.md5 and JVM/DuckDB md5 are the same RFC 1321 function.
# ---------------------------------------------------------------------------
_TOKEN_SPLIT_RE = re.compile(r"[^a-z0-9]+")

# per-worker token-hash memo: vocabularies are tiny next to token
# occurrences, so one md5 per DISTINCT token amortizes across every batch
# a reused Python worker sees (guide §4.5); bounded to keep RSS flat
_H64_MEMO: dict[str, str] = {}
_H64_MEMO_CAP = 1_000_000


def _py_word_tokens(text: str | None) -> list[str]:
    if not text:
        return []
    return [t for t in _TOKEN_SPLIT_RE.split(text.lower()) if t]


def _py_md5_hex(s: str) -> str:
    import hashlib

    h = _H64_MEMO.get(s)
    if h is None:
        if len(_H64_MEMO) >= _H64_MEMO_CAP:
            _H64_MEMO.clear()
        h = hashlib.md5(s.encode("utf-8")).hexdigest()
        _H64_MEMO[s] = h
    return h


def _py_md5_h64(s: str) -> int:
    return int(_py_md5_hex(s)[:15], 16)


def shingles_of_tokens(toks: Column, n: int = 3) -> Column:
    """n-word shingles from a MATERIALIZED token-array column.

    ``toks`` must be a plain column attribute (produced by a prior
    projection), not an expression tree: the lambda references it 3x per
    element, and re-deriving normalize+split per reference is ~50x slower.

    Guarded for short docs: Spark's sequence(1, 0) would generate a
    DESCENDING [1, 0] — docs with < n tokens get an empty array instead.
    """
    idx = F.sequence(F.lit(1), F.size(toks) - (n - 1))
    return F.when(F.size(toks) >= n, F.transform(
        idx,
        lambda i: F.concat_ws(" ", *[F.element_at(toks, i + k) for k in range(n)]),
    )).otherwise(F.array().cast("array<string>"))


def shingles(col: Column | str, n: int = 3) -> Column:
    """n-word shingles over normalized tokens (expression form — prefer
    materializing word_tokens() into a column and using shingles_of_tokens
    in hot paths)."""
    return shingles_of_tokens(word_tokens(col), n)


def _distinct_shingle_rows(
    df: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    """Distinct (id, shingle) rows per document: the n-word shingles of
    ``word_tokens``, deduplicated within the doc. Per-doc distinctness
    needs no corpus-wide exchange; the Python tokenizer is the exact twin
    of ``word_tokens`` (see ``_py_word_tokens``). The input keeps its
    partitioning: callers spread it where that pays."""

    def row(text):
        toks = _py_word_tokens(text)
        return (list({" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}),)

    return _row_kernel(df, (id_col, text_col), row, "shingle string")


def _distinct_shingle_hashes(
    df: DataFrame, id_col: str, text_col: str, n: int, out_col: str = "_sh"
) -> DataFrame:
    """Per-doc DISTINCT 60-bit span hashes (id, out_col): the
    ``md5_hash64`` of each ``_distinct_shingle_rows`` shingle, hashed in
    the row function (memoized md5) so only (id, int64) rows reach the
    JVM."""

    def row(text):
        toks = _py_word_tokens(text)
        return (
            list({_py_md5_h64(" ".join(toks[i : i + n])) for i in range(len(toks) - n + 1)}),
        )

    return _row_kernel(_spread(df), (id_col, text_col), row, f"{out_col} long")


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact duplicate groups keyed by the normalized-text fingerprint.

    Shuffles 64-bit fingerprints, not documents. Returns
    (fingerprint, keep_id, dup_count).
    """
    fp = md5_hash64(normalize_text(text_col))
    return (
        df.select(F.col(id_col), fp.alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("dup_count"))
    )


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, n_perm: int = 16, shingle_n: int = 3
) -> DataFrame:
    """MinHash signature rows: (id, perm, minhash).

    Double hashing (Kirsch-Mitzenmacher, the standard minhash trick): ONE
    md5 per shingle yields two independent halves h1 (60-bit) and h2
    (56-bit); permutation i's hash is (h1 + i*h2) mod 2^60. This replaces
    n_perm md5 invocations per shingle occurrence with one md5 + n_perm
    integer ops — the dominant map-side cost at corpus scale drops ~n_perm
    fold. Overflow-safe in ANSI int64 only while max(h1 + i*h2) =
    (2^60-1) + i*(2^56-1) < 2^63, i.e. i < 7*2^60/2^56 = 112 — enforced
    below (a larger n_perm would raise a runtime overflow error under ANSI
    mode, and a bigint overflow in the DuckDB oracle). Bit-identical in
    DuckDB (same bigint arithmetic).
    """
    if not 1 <= n_perm <= 112:
        raise ValueError(
            f"n_perm={n_perm} out of range [1, 112]: h1 + i*h2 overflows int64 "
            "past i=111 (h1 is 60-bit, h2 is 56-bit)"
        )
    import numpy as np

    # the whole signature pipeline — shingles, per-occurrence md5, the
    # n_perm-way walk and the per-perm min — runs per document: no shingle
    # or permutation rows ever exist JVM-side. Arithmetic parity: h1/h2
    # are the same md5-hex substrings (_py_md5_hex), the
    # (h1 + i*h2) % 2^60 walk is exact int64 (bounded < 2^63 by the
    # n_perm guard), and min() over exact ints is order-independent.
    perm_arr = np.arange(n_perm, dtype=np.int64)
    perms = perm_arr.tolist()

    def row(text):
        toks = _py_word_tokens(text)
        if len(toks) < shingle_n:
            return None
        hexes = [
            _py_md5_hex(" ".join(toks[i : i + shingle_n]))
            for i in range(len(toks) - shingle_n + 1)
        ]
        h1 = np.array([int(h[:15], 16) for h in hexes], dtype=np.int64)
        h2 = np.array([int(h[16:30], 16) for h in hexes], dtype=np.int64)
        # (n_sh, n_perm) walk — int64 exact, no overflow by guard
        hv = (h1[:, None] + perm_arr[None, :] * h2[:, None]) % (1 << 60)
        return perms, hv.min(axis=0).tolist()

    return _row_kernel(_spread(df), (id_col, text_col), row, "perm int, minhash long")


def lsh_bands(sig_df: DataFrame, id_col: str, band_size: int = 4) -> DataFrame:
    """Group signature rows into bands: (id, band, band_key).

    band_key = md5 of the comma-joined minhashes in perm order.
    """
    banded = sig_df.withColumn("band", (F.col("perm") / band_size).cast("int"))
    return banded.groupBy(id_col, "band").agg(
        F.md5(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("perm", "minhash"))),
                    lambda s: s["minhash"].cast("string"),
                ),
                ",",
            )
        ).alias("band_key")
    )


def minhash_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_perm: int = 16,
    band_size: int = 4,
    shingle_n: int = 3,
    max_bucket_size: int = 1000,
) -> DataFrame:
    """Near-duplicate candidate pairs (id_a < id_b) sharing >= 1 LSH band.

    max_bucket_size drops degenerate buckets (e.g. empty-text boilerplate)
    whose quadratic blowup would dominate at corpus scale; dropped buckets
    should be routed to an exact-dedup pass instead.
    """
    bands = lsh_bands(
        minhash_signatures(df, id_col, text_col, n_perm, shingle_n), id_col, band_size
    )
    # stage the (id, band, band_key) mapping — three small columns — since
    # the plan below is diamond-shaped (cap agg + both self-join sides):
    # unstaged, each consumer would recompute the whole signature subtree
    # (md5 + shingle explode + two aggregations). On a cluster the same
    # staging is a temp-table write.
    bands = bands.localCheckpoint(eager=False)
    # degenerate buckets are found with a partial-aggregating groupBy and
    # removed via broadcast anti-join (similarity._cap_buckets): counting
    # them with a window over (band, band_key) would shuffle every band row
    # by the very key whose skew the cap exists to control — the overflow
    # bucket IS the hot partition. Semantics identical: buckets with
    # > max_bucket_size members are dropped, <= kept.
    from arroyo_spark.operators.similarity import _cap_buckets

    sized = _cap_buckets(bands, max_bucket_size, "band", "band_key")
    a = sized.select(F.col(id_col).alias("id_a"), "band", "band_key")
    b = sized.select(F.col(id_col).alias("id_b"), "band", "band_key")
    return (
        a.join(b, ["band", "band_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def simhash(df: DataFrame, id_col: str, text_col: str, bits: int = 32) -> DataFrame:
    """SimHash fingerprints: (id, simhash) with ``bits`` bits.

    Token multiset (not set): repeated tokens weigh more, per the original
    algorithm. Bit j is 1 iff sum over tokens of (+1 if token-hash bit j
    else -1) is positive.
    """
    import numpy as np

    # exact integer votes per document: one output row per doc
    jj = np.arange(bits, dtype=np.int64)

    def row(text):
        toks = _py_word_tokens(text)
        if not toks:
            return None  # token-less docs have no fingerprint
        h = np.array([_py_md5_h64(t) for t in toks], dtype=np.int64)
        bitm = (h[:, None] >> jj[None, :]) & 1  # h >= 0: logical shift
        votes = (2 * bitm - 1).sum(axis=0)
        return (int(((votes > 0).astype(np.int64) << jj).sum()),)

    return _row_kernel(_spread(df), (id_col, text_col), row, "simhash long")


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact n-gram Jaccard similarity pairs >= threshold.

    The exact verifier for minhash candidates: |A ∩ B| via a self-join on
    distinct shingles, |A ∪ B| = |A|+|B|-|A∩B|. Quadratic only within
    shingle buckets — at corpus scale run it on LSH candidates, not all
    pairs (compose: minhash_candidates >> join >> this).
    """
    # the input keeps its partitioning: the verifier runs on a bounded
    # candidate set (1000 docs, one partition, in the registry query), where
    # spreading it costs a shuffle stage (about 0.3 s at sf0.1 on 4 cores)
    # that the shingle kernel never wins back. Staged once: the count agg
    # and both join sides consume it; unstaged, Catalyst runs the kernel
    # per consumer (7 MapInPandas in the plan, 1.09-1.23 s against
    # 0.61-0.80 s staged, best of 5, sf0.1, 4 cores)
    sh = _distinct_shingle_rows(df, id_col, text_col, shingle_n).localCheckpoint(eager=False)
    counts = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.select(F.col(id_col).alias("id_a"), "shingle")
    b = sh.select(F.col(id_col).alias("id_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    ca = counts.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    cb = counts.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    jac = (
        inter.join(ca, "id_a")
        .join(cb, "id_b")
        .withColumn(
            "jaccard",
            F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
        )
    )
    return jac.filter(F.col("jaccard") >= threshold).select("id_a", "id_b", "jaccard")


def connected_components(
    pairs: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iters: int = 50,
) -> DataFrame:
    """Connected components over a candidate-pair graph: (id, cluster_id).

    cluster_id is the MINIMUM id in each component — the canonical survivor
    of a duplicate cluster. This is the step every near-dup pipeline needs
    after LSH: candidate pairs are edges, true duplicate GROUPS are the
    transitive closure (A~B, B~C => {A,B,C} even if A,C never shared a
    band).

    Algorithm: distributed min-label propagation with pointer jumping
    (the MapReduce CC family, cf. Kiveris et al., "Connected Components in
    MapReduce and Beyond", SoCC'14 — public literature, not the reference,
    which has no graph surface):

      label(v) <- min(label(v), min_{u in N(v)} label(u))   # neighbor min
      label(v) <- label(label(v))                            # pointer jump

    Neighbor-min alone converges in O(diameter) rounds; the pointer-jump
    join cuts long chains to O(log d). Each round is two hash joins + one
    partial-aggregating groupBy, all keyed on node ids — at 10^9 docs the
    graph is the LSH candidate set (orders of magnitude smaller than the
    corpus), and every shuffle carries (id, label) pairs only. Lineage is
    truncated per round with localCheckpoint (on a cluster: a temp-table
    write), and the per-round driver action is a single changed-row count.

    Termination: labels are monotonically non-increasing and bounded below
    by the component minimum, so the changed-count hits zero in finitely
    many rounds; at the neighbor-min fixed point labels are constant across
    every (symmetric) edge, i.e. constant per component, and the component
    minimum keeps its own label, so constant == minimum. max_iters is a
    backstop (a graph needing >50 pointer-jumped rounds is pathological);
    hitting it raises rather than returning wrong clusters.
    """
    sym = pairs.select(
        F.col(src_col).alias("s"), F.col(dst_col).alias("d")
    ).union(pairs.select(F.col(dst_col).alias("s"), F.col(src_col).alias("d")))
    edges = sym.distinct().localCheckpoint(eager=False)
    labels = (
        edges.select(F.col("s").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
        .localCheckpoint(eager=False)
    )
    # termination check, one driver action per round: labels are
    # monotonically NON-INCREASING per node, so the label sum strictly
    # decreases until the fixed point and "sum unchanged" ⟺ "no label
    # changed" — one aggregate over the (checkpointed) new labels, no
    # old-vs-new join of the label table. decimal(38,0) keeps the sum
    # exact at any node count / id range (a raw long sum could wrap).
    numeric_ids = dict(labels.dtypes)["label"] in (
        "tinyint", "smallint", "int", "bigint"
    )
    prev_sum = None
    for _ in range(max_iters):
        nbr_min = (
            edges.join(labels, edges["d"] == labels["id"])
            .groupBy("s")
            .agg(F.min("label").alias("nbr_label"))
        )
        stepped = (
            labels.join(nbr_min, labels["id"] == nbr_min["s"], "left")
            .select(
                "id",
                F.least(
                    F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
                ).alias("label"),
            )
        )
        # pointer jump: label(v) <- label(label(v)); labels are node ids by
        # construction (min over initial ids), so the self-join always hits
        parent = stepped.select(
            F.col("id").alias("p_id"), F.col("label").alias("p_label")
        )
        jumped = (
            stepped.join(parent, stepped["label"] == parent["p_id"])
            .select("id", F.col("p_label").alias("label"))
            .localCheckpoint(eager=True)
        )
        if numeric_ids:
            new_sum = jumped.agg(
                F.sum(F.col("label").cast("decimal(38,0)")).alias("s")
            ).collect()[0]["s"]
            done = prev_sum is not None and new_sum == prev_sum
            prev_sum = new_sum
        else:  # non-numeric ids: the monotone-sum trick has no total order
            done = (
                jumped.alias("n")
                .join(labels.alias("o"), "id")
                .filter(F.col("n.label") != F.col("o.label"))
                .count()
                == 0
            )
        labels = jumped
        if done:
            return labels.select("id", F.col("label").alias("cluster_id"))
    raise RuntimeError(f"connected_components did not converge in {max_iters} rounds")


def dedup_clusters(
    df: DataFrame, pairs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Full-corpus keep decision from candidate pairs: (id, cluster_id, keep).

    Composes connected_components over the (small) candidate subgraph, then
    LEFT-joins the labels back onto the full corpus — singleton documents
    never enter the iteration, so the per-round cost is O(candidate set),
    not O(corpus). keep == true for exactly one document per duplicate
    cluster (the minimum id) and for every singleton.
    """
    cc = connected_components(pairs)
    return (
        df.select(F.col(id_col))
        .join(cc.withColumnRenamed("id", id_col), id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("cluster_id"), F.col(id_col)).alias("cluster_id"),
        )
        .withColumn("keep", F.col("cluster_id") == F.col(id_col))
    )
