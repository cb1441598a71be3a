"""Deduplication operators for large-scale training-data pipelines.

Beyond the reference's idempotency dedup (A2, handlers.go:247-256), these
are the standard corpus-dedup family, each designed scale-first:

- exact dedup: hash-groupBy — one shuffle on the text hash, never on the
  raw text (100 TB of text never moves as join keys).
- n-gram Jaccard: shingle → inverted index self-join with blocking; the
  candidate-pair space is bounded by shingle frequency capping (drop
  ubiquitous shingles — they generate O(df²) pairs and no information).
- MinHash/LSH: signatures via k independent min-hashes, band-bucket
  equi-join; only candidates sharing a band bucket are compared.
- SimHash: 64-bit fingerprints via per-token hash bit-voting (pandas UDF),
  near-dup = small Hamming distance within same band.

Hash choice for oracle parity: md5/sha2 — identical hex in Spark & DuckDB.
Engine-internal paths use xxhash64 (faster, JVM-side).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _tokens(col: str = "text") -> Column:
    return F.split(F.lower(F.col(col)), " ")


# One live cached relation per operator slot. These relations feed BOTH
# sides of a self-join, so they must be cached — but the operators return
# lazy plans, so there is no in-operator point where unpersist is safe.
# Instead each new invocation releases the PREVIOUS invocation's cache:
# repeated driver sweeps hold at most one cached copy per operator rather
# than accumulating executor-memory blocks without bound.
_live_caches: dict[str, DataFrame] = {}


def _swap_cache(slot: str, df: DataFrame) -> DataFrame:
    old = _live_caches.get(slot)
    if old is not None:
        # non-blocking: any still-running plan over the old blocks simply
        # recomputes its partitions
        try:
            old.unpersist(blocking=False)
        except Exception:
            # the slot's cache belonged to a since-stopped SparkSession;
            # its blocks died with that context — nothing to free
            pass
    _live_caches[slot] = df.cache()
    return _live_caches[slot]


def exact_dedup(documents: DataFrame) -> DataFrame:
    """Exact dedup groups keyed by content hash; keeps the smallest doc_id
    as canonical (deterministic survivor pick). Shuffles 32-byte hashes,
    not documents."""
    return (
        documents.select("doc_id", F.sha2(F.col("text"), 256).alias("h"))
        .groupBy("h")
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("n_copies"))
    )


def shingles(documents: DataFrame, n: int = 3) -> DataFrame:
    """Distinct n-token shingles per doc (the unit of Jaccard/MinHash).

    Small corpora arrive as a single parquet split; spread the (CPU-heavy)
    shingle/hash computation across the cluster first."""
    par = documents.sparkSession.sparkContext.defaultParallelism
    documents = documents.repartition(par)
    toks = _tokens()
    sh = F.transform(
        F.sequence(F.lit(1), F.size(toks) - (n - 1)),
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, i + j) for j in range(n)]
        ),
    )
    return (
        documents.filter(F.size(toks) >= n)
        .select("doc_id", F.explode(F.array_distinct(sh)).alias("shingle"))
    )


def ngram_jaccard_pairs(
    documents: DataFrame,
    n: int = 3,
    threshold: float = 0.2,
    max_df: int = 100,
) -> DataFrame:
    """Near-dup pairs by n-gram Jaccard similarity.

    Inverted-index self-join: pairs sharing ≥1 (non-ubiquitous) shingle.
    ``max_df`` caps shingle document frequency — a shingle occurring in f
    docs produces f·(f-1)/2 candidate pairs, so frequency capping is what
    keeps this sub-quadratic at corpus scale. Jaccard = |∩|/|∪| of
    *distinct* shingles — an exact integer ratio (oracle-portable)."""
    sh = _swap_cache("ngram_shingles", shingles(documents, n))
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    rare = sh.join(
        sh.groupBy("shingle").agg(F.count("*").alias("df")).filter(F.col("df") <= max_df),
        "shingle",
    ).select("doc_id", "shingle")
    inter = (
        rare.alias("a")
        .join(rare.alias("b"), "shingle")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sz", "sz_a"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sz", "sz_b"), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("inter").cast("double")
                / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_signatures(documents: DataFrame, n: int = 3, k: int = 8) -> DataFrame:
    """k-permutation MinHash: hash function i = md5(i || shingle); the
    signature component is the minimum hash value. min() over strings is
    deterministic and engine-portable. One row per (doc, i)."""
    sh = shingles(documents, n)
    hashed = sh.select(
        "doc_id",
        F.explode(F.array(*[F.lit(i) for i in range(k)])).alias("perm"),
        F.col("shingle"),
    ).select(
        "doc_id",
        "perm",
        F.md5(F.concat_ws("|", F.col("perm"), F.col("shingle"))).alias("h"),
    )
    return hashed.groupBy("doc_id", "perm").agg(F.min("h").alias("minhash"))


def minhash_lsh_candidates(documents: DataFrame, n: int = 3, k: int = 8) -> DataFrame:
    """LSH banding with band size 1: candidate pairs share at least one
    minhash component; `n_bands_shared` estimates Jaccard as shared/k.
    The join key is (perm, minhash) — tiny, uniform, skew-free. The
    signature relation is cached: it feeds both sides of the self-join."""
    sig = _swap_cache("minhash_sig", minhash_signatures(documents, n, k))
    return (
        sig.alias("a")
        .join(sig.alias("b"), ["perm", "minhash"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_bands_shared"))
    )


def near_dup_clusters(
    documents: DataFrame, threshold: float = 0.2, max_iter: int = 12
) -> DataFrame:
    """Connected components over the near-dup graph: every doc gets the
    MIN doc_id reachable through ngram-Jaccard edges as its cluster id —
    the canonical-survivor assignment a dedup pipeline keys its
    keep-one-per-cluster filter on.

    Pregel-style min-label propagation with pointer jumping (GraphX/
    GraphFrames are not on the classpath): each round every node takes the
    min over (its label, its neighbors' labels, its LABEL'S label). The
    third term is the pointer jump — labels propagate through labels, not
    just edges — which halves the remaining path length every round, so
    convergence is O(log diameter) rounds, not O(diameter). The driver
    loop only reads a convergence COUNT, never data rows, and
    ``localCheckpoint`` truncates the growing lineage each round — at
    100 TB this runs exactly the same shape with checkpointing to cluster
    storage. Raises if the round budget is exhausted before convergence
    (a silently-unconverged labeling would split real dup chains)."""
    pairs = ngram_jaccard_pairs(documents, threshold=threshold).select("doc_a", "doc_b")
    edges = pairs.union(
        pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    ).localCheckpoint(eager=True)
    labels = documents.select("doc_id", F.col("doc_id").alias("cluster_id"))
    for _ in range(max_iter):
        nb = (
            edges.join(
                labels.select(
                    F.col("doc_id").alias("doc_b"), F.col("cluster_id").alias("nb_label")
                ),
                "doc_b",
            )
            .groupBy(F.col("doc_a").alias("doc_id"))
            .agg(F.min("nb_label").alias("nb_min"))
        )
        # pointer jump: the current label OF my current label (cluster ids
        # are always doc_ids, so the self-join key always resolves)
        jump = labels.select(
            F.col("doc_id").alias("cluster_id"), F.col("cluster_id").alias("jump_label")
        )
        new_labels = (
            labels.join(nb, "doc_id", "left")
            .join(jump, "cluster_id", "left")
            .select(
                "doc_id",
                F.least(
                    "cluster_id",
                    F.coalesce("nb_min", "cluster_id"),
                    F.coalesce("jump_label", "cluster_id"),
                ).alias("cluster_id"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "doc_id")
            .filter(F.col("n.cluster_id") < F.col("o.cluster_id"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            return labels
    raise RuntimeError(
        f"near_dup_clusters did not converge in {max_iter} rounds — "
        "component min-labels were still moving; raise max_iter"
    )


def chunk_shared_pairs(
    documents: DataFrame, window: int = 8, max_df: int = 50, min_shared: int = 2
) -> DataFrame:
    """Content-defined chunk dedup: doc pairs sharing ≥ ``min_shared``
    rolling-fingerprint spans (functions/text.py rolling_fingerprints) —
    catches partial overlap / quotation / boilerplate reuse that
    whole-document hashing misses. Same inverted-index blocking discipline
    as ngram_jaccard: ``max_df`` caps chunk document-frequency, because a
    chunk in f docs yields f·(f-1)/2 candidate pairs — the cap is what
    keeps this sub-quadratic at corpus scale (and ubiquitous chunks are
    boilerplate, not signal)."""
    from distributed_classification_system_spark.functions.text import rolling_fingerprints

    fp = _swap_cache("chunk_fp", rolling_fingerprints(documents, window))
    rare = fp.join(
        fp.groupBy("chunk_hash").agg(F.count("*").alias("df")).filter(F.col("df") <= max_df),
        "chunk_hash",
    ).select("doc_id", "chunk_hash")
    return (
        rare.alias("a")
        .join(rare.alias("b"), "chunk_hash")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


@F.pandas_udf(T.LongType())
def simhash64(text: pd.Series) -> pd.Series:
    """64-bit SimHash fingerprint: per-token md5-prefix hash, bitwise
    majority vote over token OCCURRENCES. Fully batch-vectorized: tokens
    are exploded once per Arrow batch, md5 runs only over the batch's
    UNIQUE tokens (natural-language vocabulary is tiny relative to token
    count), and the per-(row, bit) vote matrix is one numpy scatter-add —
    no per-token Python in the fingerprint path.

    Token hash = first 8 bytes of md5, the engine-portable choice (DuckDB:
    ('0x'||substr(md5(t),1,16))::UBIGINT is bit-identical), which makes the
    whole simhash family oracle-checkable end to end."""
    import hashlib

    import pyarrow as pa
    import pyarrow.compute as pc

    n = len(text)
    shifts = np.arange(64, dtype=np.uint64)
    # null/empty text → fingerprint 0 (a contentless doc has no bits to
    # vote). Without this guard "" would tokenize to the single token ""
    # and get an md5("")-derived fingerprint — while the DuckDB twin drops
    # null-text docs entirely (string_split(NULL) unnests to zero rows), a
    # silent parity divergence. simhash_near_dups filters such docs out on
    # both engines; the 0 sentinel keeps the bare UDF honest too.
    # Tokenization runs in Arrow C kernels (guide §4.2): lower +
    # single-space split (NOT whitespace runs — bit-matching DuckDB
    # string_split(lower(text), ' ')) + flatten + dictionary-encode, so
    # md5 touches only the batch's UNIQUE tokens and no per-row Python.
    # type pinned: an all-null batch would otherwise infer Arrow `null`
    # type and fill_null("") cannot cast into it
    filled = pc.fill_null(pa.Array.from_pandas(text, type=pa.string()), "")
    keep = np.flatnonzero(pc.not_equal(filled, "").to_numpy(zero_copy_only=False))
    if keep.size == 0:
        return pd.Series(np.zeros(n, dtype=np.int64))
    toks = pc.split_pattern(pc.utf8_lower(filled.take(pa.array(keep))), " ")
    n_tok = pc.list_value_length(toks).to_numpy().astype(np.int64)
    row_of = keep[np.repeat(np.arange(keep.size, dtype=np.int64), n_tok)]
    enc = pc.list_flatten(toks).dictionary_encode()
    codes = enc.indices.to_numpy().astype(np.int64)
    uniques = enc.dictionary.to_pylist()
    uh = np.fromiter(
        (int.from_bytes(hashlib.md5(u.encode()).digest()[:8], "big") for u in uniques),
        dtype=np.uint64,
        count=len(uniques),
    )
    # (64 × tokens) bit planes; per-doc bit counts via contiguous-run
    # reduceat along the LAST axis (the fast path — axis-0 reduceat and
    # np.add.at both measured 5-50x slower on this shape)
    ubits_t = np.ascontiguousarray(
        ((uh[:, None] >> shifts[None, :]) & np.uint64(1)).astype(np.int32).T
    )
    tok_bits = ubits_t[:, codes]
    starts = np.flatnonzero(np.diff(row_of, prepend=-1))
    ones = np.add.reduceat(tok_bits, starts, axis=1)
    cnt = np.diff(np.append(starts, len(row_of)))
    votes = 2 * ones.astype(np.int64) - cnt[None, :]
    packed = ((votes > 0).astype(np.uint64) * (np.uint64(1) << shifts)[:, None]).sum(
        axis=0, dtype=np.uint64
    )  # disjoint bits: sum == bitwise OR
    out = np.zeros(n, dtype=np.int64)
    out[row_of[starts]] = packed.view(np.int64)
    return pd.Series(out)


def simhash_near_dups(
    documents: DataFrame,
    band_bits: int = 16,
    max_hamming: int = 8,
    max_bucket: int = 256,
) -> DataFrame:
    """SimHash near-dup candidates: block on each of 64/band_bits bands
    (near-dups agree on ≥1 band by pigeonhole), verify Hamming ≤ max.
    The fingerprint relation is cached — it feeds BOTH sides of the
    band self-join, and without the cache the UDF scan runs twice.

    ``max_bucket`` caps band-bucket size (same discipline as the ngram
    ``max_df`` cap): a bucket of f docs yields f·(f-1)/2 candidates, and
    oversized buckets are near-identical boilerplate clusters — at corpus
    scale the cap is what bounds the self-join output; the survivors of
    such a cluster are found through exact dedup instead.

    Null/empty-text docs are excluded up front (matching the DuckDB twin,
    where string_split(NULL) unnests to zero rows): a contentless doc has
    no meaningful near-dups, and admitting them would cluster every empty
    doc with every other through the shared 0 fingerprint."""
    # spread the fingerprint UDF across the cluster first: a small corpus
    # arrives as one scan split, which would serialize the whole pandas
    # UDF through a single Python worker (same discipline as shingles())
    par = documents.sparkSession.sparkContext.defaultParallelism
    sh = _swap_cache(
        "simhash_fp",
        documents.repartition(par)
        .filter(F.coalesce(F.length("text"), F.lit(0)) > 0)
        .select("doc_id", simhash64("text").alias("simhash")),
    )
    n_bands = 64 // band_bits
    mask = (1 << band_bits) - 1
    banded = sh.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftrightunsigned("simhash", b * band_bits).bitwiseAND(F.lit(mask)).alias("key"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "simhash", "bk.band", "bk.key")
    banded = banded.join(
        banded.groupBy("band", "key").agg(F.count("*").alias("df")).filter(F.col("df") <= max_bucket),
        ["band", "key"],
    ).select("doc_id", "simhash", "band", "key")
    pairs = (
        banded.alias("a")
        .join(banded.alias("b"), ["band", "key"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias("hamming"),
        )
        .distinct()
    )
    return pairs.filter(F.col("hamming") <= max_hamming)
