"""Deduplication operator family for the training-data pipeline:

- **exact** (hash-groupBy on a content fingerprint)
- **n-gram Jaccard** (exact set-similarity self-join — the ground truth the
  approximate methods are validated against)
- **MinHash + LSH** (shingle -> minhash signature -> banded bucket join ->
  within-bucket exact verify)
- **SimHash** (64-bit signature, Hamming-ball candidate blocking)
- **embedding near-dup** (all-pairs under a squared-L2 threshold — the
  similarity SELF-join: T1/T3 semantics where queries = corpus)

Everything is pure DataFrame/Catalyst: hashes are ``xxhash64`` (JVM,
codegen'd, deterministic across runs/engines), shingling is higher-order
array functions, candidate generation is equi-joins on computed keys —
i.e., shuffle-on-bucket, the only join shape that scales to 100 TB. No
Python UDF appears anywhere in this module.

Scale notes baked into the design:
- the shingle/band self-joins are equi-joins keyed by content hashes, so
  Spark distributes them; hot shingles (stop-phrases) are the skew risk —
  ``max_shingle_doc_freq`` drops shingles that appear in more than N
  documents (standard stop-shingle removal), bounding bucket sizes.
- MinHash signatures are one groupBy with 128 partial-aggregated mins —
  map-side combined, O(num_perm) state per doc.
- exact pair verification only ever runs on LSH candidates, never all
  pairs.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import distance as D
from ..functions import text as TXT
from ..util import SharedCache, bucket_candidate_pairs, respread

# shingle tables and signature sets are rebuilt verbatim by sibling
# operators in a dedup pipeline (pair finding, then cluster resolution
# reruns the identical pass) — share them through a bounded registry with
# an explicit eviction hook instead of leaking per-call cache() entries.
# Callers wanting a cold start: dedup.shared_cache.release().
shared_cache = SharedCache(max_entries=8)


def _col(c):
    return F.col(c) if isinstance(c, str) else c

DEFAULT_NUM_PERM = 128
DEFAULT_BANDS = 32  # 32 bands x 4 rows: P(miss | j=0.9) ~ 1e-15


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def with_fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    return df.withColumn("fingerprint", TXT.doc_fingerprint_expr(text_col))


def exact_duplicate_groups(df: DataFrame, text_col: str = "text") -> DataFrame:
    """{fingerprint, cnt, doc_ids} for every content-identical group >1."""
    return (
        with_fingerprint(df, text_col)
        .groupBy("fingerprint")
        .agg(F.count("*").alias("cnt"), F.sort_array(F.collect_list("doc_id")).alias("doc_ids"))
        .filter(F.col("cnt") > 1)
    )


def dedup_exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the smallest-id representative per fingerprint (deterministic,
    the T4 keep-one-per-key discipline)."""
    w = Window.partitionBy("fingerprint").orderBy(F.col(id_col).asc())
    return (
        with_fingerprint(df, text_col)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "fingerprint")
    )


def exact_dedup_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Single-row {n_docs, n_unique, n_dup} summary."""
    return with_fingerprint(df, text_col).agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("fingerprint").alias("n_unique"),
        (F.count("*") - F.countDistinct("fingerprint")).alias("n_dup"),
    )


# ---------------------------------------------------------------------------
# URL dedup (crawled corpora: canonicalize, then the exact-dedup shape)
# ---------------------------------------------------------------------------


def url_duplicate_stats(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Per-canonical-URL group stats over a crawl manifest ->
    {canonical_url, n_urls, n_raw_forms} for groups with >1 raw URL —
    the C4/RefinedWeb URL-level dedup signal, computed BEFORE any
    content pass (it needs only the URL column, so it runs on the crawl
    index, not the payload). Canonicalization is the pure-Catalyst
    ``functions.urls.canonical_url_expr`` chain; the aggregation is a
    hash-groupBy on the canonical key — the exact-dedup scale shape."""
    from ..functions import urls as U

    return (
        df.select(
            U.canonical_url_expr(url_col).alias("canonical_url"),
            F.col(url_col).alias("__raw"),
        )
        .groupBy("canonical_url")
        .agg(
            F.count("*").alias("n_urls"),
            F.countDistinct("__raw").alias("n_raw_forms"),
        )
        .filter(F.col("n_urls") > 1)
    )


def dedup_by_url(
    df: DataFrame, url_col: str = "url", id_col: str = "doc_id"
) -> DataFrame:
    """Keep the smallest-id row per canonical URL (the ``dedup_exact``
    keep-one-per-key discipline, keyed on the canonical form instead of
    the content fingerprint)."""
    from ..functions import urls as U

    keyed = df.withColumn("__curl", U.canonical_url_expr(url_col))
    w = Window.partitionBy("__curl").orderBy(F.col(id_col).asc())
    return (
        keyed.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__curl")
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard (exact set similarity — ground truth)
# ---------------------------------------------------------------------------


def _shingle_table(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int,
    max_shingle_doc_freq: int | None,
) -> DataFrame:
    """{doc_id, shingle: bigint} — shingles are xxhash64'd at birth so every
    downstream join/groupBy keys on an 8-byte long, not a variable-length
    string (cheaper shuffle + compare; a 64-bit collision perturbs a Jaccard
    count with p ~ |shingles|^2 / 2^64 — negligible).

    Case/whitespace-normalized before shingling, in lockstep with the
    exact-dedup fingerprint normalization."""
    # respread: shingling + hashing is per-row CPU work that a one-file scan
    # would otherwise serialize on a single core
    sh = respread(df.select(F.col(id_col).alias("doc_id"), _col(text_col).alias("_t"))).select(
        "doc_id",
        F.explode(TXT.word_shingles_expr(F.lower(F.col("_t")), n)).alias("s"),
    ).select("doc_id", F.xxhash64("s").alias("shingle"))
    if max_shingle_doc_freq is not None:
        hot = (
            sh.groupBy("shingle")
            .agg(F.count("*").alias("df"))
            .filter(F.col("df") > max_shingle_doc_freq)
            .select("shingle")
        )
        sh = sh.join(F.broadcast(hot), "shingle", "left_anti")
    return sh


def containment_pairs(
    df: DataFrame,
    tau: float = 0.8,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_shingle_doc_freq: int | None = None,
) -> DataFrame:
    """Asymmetric near-containment pairs:

        containment(inner in outer)
            = |shingles(inner) ∩ shingles(outer)| / |shingles(inner)|

    emitted as (inner_id, outer_id, containment) for every DIRECTED pair
    at or above ``tau``. This is the quote/boilerplate-wrapping detector
    the symmetric Jaccard family misses: a short document fully quoted
    inside a long one has Jaccard ≈ |A|/|B| → 0 but containment 1.0 —
    the C4/RealNews-style "document subsumed by another" signal.

    Shape: the same freq-capped inverted-index equi-join as the Jaccard
    family (DISTINCT doc-shingle rows → self-join on the 8-byte shingle
    hash → one shared count per UNORDERED pair), then BOTH directed
    ratios come from that single count — no second join pass. Skew guard
    and sub-quadratic behavior come from ``max_shingle_doc_freq``,
    exactly as in ``ngram_jaccard_pairs``.
    """
    if not 0.0 < tau <= 1.0:
        raise ValueError(f"tau must be in (0, 1], got {tau}")
    # NOT persisted, on measurement (r14): the shingle table feeds three
    # plan branches (both self-join sides + sizes), but routing it through
    # shared_cache.persist like ngram_jaccard_pairs was REFUTED at 0.6x —
    # the cache materialization barrier costs more than re-running the
    # pipelined scan+shingle pass three times over a page-cached source
    # (scripts/ab_containment_persist.py, identical pairs). Jaccard keeps
    # its persist because the funnel and sibling operators REUSE its table
    # across calls; containment has no such sharer.
    sh = _shingle_table(df, text_col, id_col, n, max_shingle_doc_freq)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a = sh.select(F.col("doc_id").alias("ia"), "shingle")
    b = sh.select(F.col("doc_id").alias("ib"), "shingle")
    sized = (
        a.join(b, "shingle")
        .filter(F.col("ia") < F.col("ib"))
        .groupBy("ia", "ib")
        .agg(F.count("*").alias("c"))
        .join(
            sizes.select(F.col("doc_id").alias("ia"), F.col("n_sh").alias("na")),
            "ia",
        )
        .join(
            sizes.select(F.col("doc_id").alias("ib"), F.col("n_sh").alias("nb")),
            "ib",
        )
    )
    dir_a = sized.select(
        F.col("ia").alias("inner_id"),
        F.col("ib").alias("outer_id"),
        (F.col("c") / F.col("na")).alias("containment"),
    )
    dir_b = sized.select(
        F.col("ib").alias("inner_id"),
        F.col("ia").alias("outer_id"),
        (F.col("c") / F.col("nb")).alias("containment"),
    )
    return dir_a.unionByName(dir_b).filter(F.col("containment") >= tau)


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_shingle_doc_freq: int | None = None,
) -> DataFrame:
    """EXACT all-pairs Jaccard >= threshold over n-word shingle sets.

    Pairs are generated only for documents sharing >= 1 shingle (the
    self-equi-join), so complexity is driven by shingle co-occurrence, not
    |docs|^2. Returns {doc_id_a, doc_id_b, jaccard} with doc_id_a < doc_id_b.

    The shingle table feeds three plan branches (both self-join sides +
    sizes) — persisted through the shared registry so the tokenize/shingle/
    hash pass runs once here AND is reused by sibling dedup operators on
    the same corpus (bounded + evictable; see ``shared_cache``).
    """
    sh = shared_cache.persist(
        _shingle_table(df, text_col, id_col, n, max_shingle_doc_freq)
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_id_a"), F.col("b.doc_id").alias("doc_id_b"))
        .agg(F.count("*").alias("c"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_id_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_id_b"), F.col("n_sh").alias("nb"))
    jac = F.col("c").cast("double") / (F.col("na") + F.col("nb") - F.col("c"))
    return (
        inter.join(sa, "doc_id_a")
        .join(sb, "doc_id_b")
        .select("doc_id_a", "doc_id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def minhash_signatures(
    df: DataFrame,
    num_perm: int = DEFAULT_NUM_PERM,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_shingle_doc_freq: int | None = None,
    seed: int = 42,
    shingles_grouped: DataFrame | None = None,
) -> DataFrame:
    """{doc_id, sig: array<bigint>[num_perm]}. Permutation j is
    ``min((a_j * h + b_j) mod 2^64)`` over the doc's shingle hashes — the
    multiply-shift family, computed in ONE vectorized numpy pass per Arrow
    batch with a segmented min (np.minimum.reduceat). Replaces num_perm
    JVM hash evaluations per shingle row (~64M calls at 500K shingles x
    128 perms) with a handful of (num_perm x n_hashes) matrix ops.
    Docs with zero shingles are omitted. ``shingles_grouped`` skips the
    internal shingle pass and groupBy entirely when the caller already
    holds the {doc_id, hs: array<bigint>} relation (the exact-verify path
    of ``minhash_dedup_pairs`` persists exactly that); ``n``, ``text_col``
    and ``max_shingle_doc_freq`` are then ignored."""
    import pyarrow as pa

    rng = np.random.default_rng(seed)
    # odd multipliers: a*h+b mod 2^64 is the multiply-shift universal family
    A = (rng.integers(0, 2**63, size=num_perm, dtype=np.uint64) << np.uint64(1)) | np.uint64(1)
    B = rng.integers(0, 2**63, size=num_perm, dtype=np.uint64)

    if shingles_grouped is not None:
        grouped = shingles_grouped
    else:
        grouped = (
            _shingle_table(df, text_col, id_col, n, max_shingle_doc_freq)
            .groupBy("doc_id")
            .agg(F.collect_list("shingle").alias("hs"))
        )

    def sigs(batches):
        np_err = np.seterr(over="ignore")  # uint64 wraparound is the design
        try:
            for rb in batches:
                if rb.num_rows == 0:
                    continue
                doc_ids = rb.column(rb.schema.get_field_index("doc_id")).to_numpy(
                    zero_copy_only=False
                )
                hs = rb.column(rb.schema.get_field_index("hs"))
                offsets = hs.offsets.to_numpy(zero_copy_only=False)
                values = hs.values.to_numpy(zero_copy_only=False).astype(np.uint64)
                values = values[offsets[0] : offsets[-1]]
                starts = (offsets[:-1] - offsets[0]).astype(np.int64)
                # chunk perms so the (chunk x n_values) matrix stays small
                sig = np.empty((len(doc_ids), num_perm), dtype=np.uint64)
                for c0 in range(0, num_perm, 16):
                    c1 = min(c0 + 16, num_perm)
                    P = A[c0:c1, None] * values[None, :] + B[c0:c1, None]
                    sig[:, c0:c1] = np.minimum.reduceat(P, starts, axis=1).T
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(doc_ids, pa.int64()),
                        pa.array(
                            list(sig.view(np.int64)), pa.list_(pa.int64())
                        ),
                    ],
                    names=["doc_id", "sig"],
                )
        finally:
            np.seterr(**np_err)

    return grouped.mapInArrow(sigs, schema="doc_id long, sig array<bigint>")


def band_rows(
    signatures: DataFrame,
    bands: int = DEFAULT_BANDS,
    num_perm: int = DEFAULT_NUM_PERM,
) -> DataFrame:
    """{doc_id, band, bh}: each signature sliced into ``bands`` bands, each
    band hashed to one 64-bit key — the LSH bucket coordinates shared by
    the batch candidate join and the streaming near-dup store."""
    if num_perm % bands != 0:
        raise ValueError(f"num_perm={num_perm} not divisible by bands={bands}")
    r = num_perm // bands
    return signatures.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(F.lit(b), F.slice("sig", b * r + 1, r)).alias("bh"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bh")


def lsh_candidate_pairs(
    signatures: DataFrame,
    bands: int = DEFAULT_BANDS,
    num_perm: int = DEFAULT_NUM_PERM,
    max_bucket_size: int | None = 10_000,
) -> DataFrame:
    """Banded LSH: hash each band of the signature, equi-join on
    (band, band_hash). Returns distinct {doc_id_a < doc_id_b} candidates.

    ``max_bucket_size`` bounds the candidate volume: a (band, hash) bucket
    larger than this is dropped whole — a degenerate bucket of B
    near-identical docs would otherwise emit B^2/2 candidates and turn the
    plan quadratic exactly on the corpora dedup targets. Members of a
    dropped bucket can still pair through their other bands; run exact
    dedup first so identical docs never form the bucket. ``None`` disables
    the cap (and falls back to the self-join shape — see
    ``util.bucket_candidate_pairs``, the r15 one-exchange pair generator
    shared by the whole bucket-LSH family)."""
    rows = band_rows(signatures, bands, num_perm)
    return bucket_candidate_pairs(
        rows, ["band", "bh"], "doc_id", "doc_id_a", "doc_id_b", max_bucket_size
    )


def minhash_dedup_pairs(
    df: DataFrame,
    threshold: float,
    num_perm: int = DEFAULT_NUM_PERM,
    bands: int = DEFAULT_BANDS,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    verify: bool = True,
    max_shingle_doc_freq: int | None = None,
    max_bucket_size: int | None = 10_000,
) -> DataFrame:
    """MinHash-LSH near-dup pairs. With ``verify=True`` candidates are
    re-checked with EXACT Jaccard (join back to shingle sets), so the output
    contains no false positives — recall is governed by the band/row choice
    (32x4 default: misses a j=0.9 pair with p ~ 1e-15).
    ``max_bucket_size`` caps the per-band candidate buckets (see
    ``lsh_candidate_pairs``)."""
    if not verify:
        sigs = minhash_signatures(
            df, num_perm, n, text_col, id_col, max_shingle_doc_freq
        )
        cand = lsh_candidate_pairs(sigs, bands, num_perm, max_bucket_size)
        est = (
            F.size(
                F.filter(
                    F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
                    lambda v: v == 1,
                )
            ).cast("double")
            / num_perm
        )
        sa = sigs.select(F.col("doc_id").alias("doc_id_a"), F.col("sig").alias("sig_a"))
        sb = sigs.select(F.col("doc_id").alias("doc_id_b"), F.col("sig").alias("sig_b"))
        return (
            cand.join(sa, "doc_id_a")
            .join(sb, "doc_id_b")
            .select("doc_id_a", "doc_id_b", est.alias("jaccard"))
            .filter(F.col("jaccard") >= threshold)
        )
    # Array-verify shape: signatures already group the shingle table into
    # per-doc arrays internally — persist THAT relation (one barrier), feed
    # the signature kernel from it, and verify each candidate with
    # size(array_intersect(ha, hb)) instead of two joins back to the flat
    # table + a per-pair groupBy + two size joins (OPTIMIZATION_r15.md §4).
    # Per-doc arrays are distinct by construction (word_shingles_expr is
    # array_distinct before xxhash64), so the set intersection equals the
    # flat-table row-count intersection that ngram_jaccard_pairs computes
    # (test_minhash_verify_impls_identical compares the two). The signature
    # set is reread by sibling operators (cluster resolution reruns this
    # exact pipeline) — both persists go through the bounded shared
    # registry.
    grouped = shared_cache.persist(
        _shingle_table(df, text_col, id_col, n, max_shingle_doc_freq)
        .groupBy("doc_id")
        .agg(F.collect_list("shingle").alias("hs"))
    )
    sigs = shared_cache.persist(
        minhash_signatures(
            df, num_perm, n, text_col, id_col, max_shingle_doc_freq,
            shingles_grouped=grouped,
        )
    )
    cand = lsh_candidate_pairs(sigs, bands, num_perm, max_bucket_size)
    ga = grouped.select(F.col("doc_id").alias("doc_id_a"), F.col("hs").alias("_ha"))
    gb = grouped.select(F.col("doc_id").alias("doc_id_b"), F.col("hs").alias("_hb"))
    c = F.size(F.array_intersect("_ha", "_hb")).cast("double")
    jac = c / (F.size("_ha") + F.size("_hb") - c)
    return (
        cand.join(ga, "doc_id_a")
        .join(gb, "doc_id_b")
        .select("doc_id_a", "doc_id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def fuzzy_edit_pairs(
    df: DataFrame,
    min_similarity: float = 0.8,
    max_distance: int | None = None,
    jaccard_floor: float = 0.3,
    num_perm: int = 128,
    bands: int = DEFAULT_BANDS,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_shingle_doc_freq: int | None = None,
    max_bucket_size: int | None = 10_000,
) -> DataFrame:
    """Edit-distance-verified fuzzy duplicate pairs ->
    {doc_id_a < doc_id_b, edit_distance, edit_sim}.

    The character-level confirmation tier of the dedup stack: shingle
    methods (Jaccard/MinHash/SimHash) measure SET overlap and can pair
    documents whose shared vocabulary hides substantial edits; the
    Levenshtein distance is the standard fine-grained verifier
    (``edit_sim = 1 - dist / max(len_a, len_b)``). All-pairs Levenshtein
    is O(N^2 * L^2) — never viable — so candidates come from the
    sub-quadratic MinHash-LSH tier at ``jaccard_floor`` and only those
    pairs are verified, with the distance computed by the JVM
    ``levenshtein`` built-in (whole-stage codegen, no Python).

    ``max_distance`` additionally enables Spark's banded early-exit
    (``levenshtein(l, r, threshold)`` is O(threshold * min(len)) and
    returns -1 above it) — the scale knob when texts are long: pass the
    largest absolute distance you care about and the DP never leaves the
    band. Rows whose distance exceeds it are dropped (they cannot reach
    any similarity floor you'd pair at).

    Recall discipline matches ``minhash_dedup_pairs``: a pair missed by
    LSH at ``jaccard_floor`` is missed here too (32x4 bands: P(miss) at
    j>=0.9 ~ 1e-15); surfaced distances are exact."""
    if not 0.0 <= min_similarity <= 1.0:
        raise ValueError(f"min_similarity must be in [0, 1], got {min_similarity}")
    cand = minhash_dedup_pairs(
        df,
        threshold=jaccard_floor,
        num_perm=num_perm,
        bands=bands,
        n=n,
        text_col=text_col,
        id_col=id_col,
        max_shingle_doc_freq=max_shingle_doc_freq,
        max_bucket_size=max_bucket_size,
    ).select("doc_id_a", "doc_id_b")
    ta = df.select(F.col(id_col).alias("doc_id_a"), F.col(text_col).alias("_ta"))
    tb = df.select(F.col(id_col).alias("doc_id_b"), F.col(text_col).alias("_tb"))
    if max_distance is not None:
        dist = F.levenshtein("_ta", "_tb", max_distance)
    else:
        dist = F.levenshtein("_ta", "_tb")
    maxlen = F.greatest(F.length("_ta"), F.length("_tb"))
    out = (
        cand.join(ta, "doc_id_a")
        .join(tb, "doc_id_b")
        .select(
            "doc_id_a",
            "doc_id_b",
            dist.alias("edit_distance"),
            F.when(
                F.greatest(F.length("_ta"), F.length("_tb")) == 0, F.lit(1.0)
            )
            .otherwise(1.0 - dist.cast("double") / maxlen)
            .alias("edit_sim"),
        )
    )
    if max_distance is not None:
        out = out.filter(F.col("edit_distance") >= 0)
    return out.filter(F.col("edit_sim") >= min_similarity)


# ---------------------------------------------------------------------------
# duplicate-cluster resolution (connected components over the pair graph)
# ---------------------------------------------------------------------------


def connected_components(
    pairs: DataFrame,
    id_a: str = "doc_id_a",
    id_b: str = "doc_id_b",
    max_iter: int = 25,
    driver_threshold: int = 1_000_000,
) -> DataFrame:
    """Connected components of the undirected near-dup pair graph:
    ``{doc_id, component}`` where ``component`` is the minimum doc_id
    reachable from ``doc_id`` (only ids that appear in >= 1 pair are
    returned; callers treat absent ids as singletons).

    Hybrid execution: edge sets up to ``driver_threshold`` run a
    driver-side union-find (one pass, zero shuffles — the pair graph is the
    near-dup set, orders of magnitude smaller than the corpus); larger
    graphs fall back to the distributed loop below. Both produce identical
    labels.

    Distributed algorithm: iterated min-label propagation with a
    pointer-jumping step —
    each round every node takes the min of its own label, its neighbors'
    labels, and its *label's* label (path halving), so convergence is
    O(log(diameter)) rounds, each round a pair of shuffles on the edge/label
    key. Near-dup clusters are near-cliques (diameter ~2-3), so this
    terminates in 2-4 rounds in practice; the loop exits on a fixed point
    (no label changed) and is capped at ``max_iter``. All state lives in
    DataFrames — nothing is collected to the driver — so the same plan runs
    on a 1000-executor cluster; for adversarial long-path graphs swap in the
    large-star/small-star variant (Kiveris et al., same join shapes).

    Extends the reference's dedup-by-id discipline
    (engine/ivf_flat_index.cpp:474-518) from identical ids to a similarity
    relation; the reference itself has no group-resolution operator.
    """
    spark = pairs.sparkSession
    raw = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    # The pair graph is orders of magnitude smaller than the corpus (it IS
    # the near-dup set), so it usually fits on the driver: union-find there
    # is one pass, zero shuffles, exactly the same answer. The distributed
    # min-label loop below is the fallback once the edge set itself is
    # cluster-sized. limit(threshold+1) caps the probe, so the decision
    # never materializes an oversized collect.
    probe = raw.limit(driver_threshold + 1).collect()
    if len(probe) <= driver_threshold:
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:  # path compression
                parent[x], x = r, parent[x]
            return r

        for row in probe:
            a, b = row["src"], row["dst"]
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:  # union by min id keeps "component = min reachable"
                if ra < rb:
                    parent[rb] = ra
                else:
                    parent[ra] = rb
        rows = [(int(x), int(find(x))) for x in parent]
        return spark.createDataFrame(rows, "doc_id long, component long")

    edges = raw
    edges = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    edges.cache()
    labels = (
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("component", F.col("doc_id"))
    )
    checkpoint_every = 5
    for it in range(max_iter):
        labels.cache()
        nbr_min = (
            edges.join(labels, edges.dst == labels.doc_id)
            .groupBy("src")
            .agg(F.min("component").alias("nbr_min"))
        )
        stepped = (
            labels.join(nbr_min, labels.doc_id == nbr_min.src, "left")
            .select(
                "doc_id",
                F.least(
                    F.col("component"), F.coalesce("nbr_min", F.col("component"))
                ).alias("component"),
            )
        )
        # pointer jumping: component <- label(component)
        ptr = labels.select(
            F.col("doc_id").alias("component"), F.col("component").alias("jump")
        )
        new_labels = stepped.join(ptr, "component", "left").select(
            "doc_id",
            F.least(F.col("component"), F.coalesce("jump", F.col("component"))).alias(
                "component"
            ),
        )
        # bound lineage on adversarial long-path graphs: every few rounds the
        # label frame is checkpointed (truncates the iteration's growing plan
        # — cache() alone keeps the full lineage and replans it each round)
        if (it + 1) % checkpoint_every == 0:
            new_labels = new_labels.localCheckpoint(eager=True)
        else:
            new_labels = new_labels.cache()
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "doc_id")
            .filter(F.col("n.component") != F.col("o.component"))
            .limit(1)
            .count()
        )
        labels.unpersist()
        labels = new_labels
        if changed == 0:
            break
    # hand back a checkpointed frame and drop every loop cache: the caller
    # gets stable labels whose storage is reclaimed when they drop the ref,
    # not a relation-cache entry that outlives them
    out = labels.localCheckpoint(eager=True)
    labels.unpersist()
    edges.unpersist()
    return out


def duplicate_clusters(
    pairs: DataFrame, id_a: str = "doc_id_a", id_b: str = "doc_id_b"
) -> DataFrame:
    """{cluster_id, sz}: one row per near-dup cluster (>= 2 members),
    cluster_id = the minimum doc_id in the cluster — the canonical survivor
    under keep-smallest-id dedup."""
    cc = connected_components(pairs, id_a, id_b)
    return cc.groupBy(F.col("component").alias("cluster_id")).agg(
        F.count("*").alias("sz")
    )


def resolve_duplicates(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    id_a: str = "doc_id_a",
    id_b: str = "doc_id_b",
) -> DataFrame:
    """Annotate ``docs`` with {cluster_id, is_canonical}: singletons are
    their own cluster; within a cluster only the minimum id survives.
    ``docs.filter("is_canonical")`` is the deduplicated corpus."""
    cc = connected_components(pairs, id_a, id_b).withColumnRenamed(
        "doc_id", "__cc_id"
    )
    return (
        docs.join(cc, docs[id_col] == F.col("__cc_id"), "left")
        .drop("__cc_id")
        .withColumn("cluster_id", F.coalesce("component", F.col(id_col)))
        .drop("component")
        .withColumn("is_canonical", F.col(id_col) == F.col("cluster_id"))
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def _md5_token_hash64(tok) -> "F.Column":
    """Portable 64-bit token hash: the first 16 hex chars of md5, big-endian.
    md5 spells identically in Spark and DuckDB (unlike xxhash64), so SimHash
    signatures built on it can be recomputed bit-for-bit by a SQL oracle.
    Assembled from two 32-bit halves (conv() output fits a long); the <<32
    wraps into the sign bit exactly like a two's-complement reinterpret."""
    hx = F.md5(tok)
    hi = F.conv(F.substring(hx, 1, 8), 16, 10).cast("long")
    lo = F.conv(F.substring(hx, 9, 8), 16, 10).cast("long")
    return F.shiftleft(hi, 32).bitwiseOR(lo)


def simhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    token_hash: str = "xxhash64",
) -> DataFrame:
    """64-bit SimHash over token hashes: bit i of the signature is the sign
    of the sum over tokens of (+1 if bit i of hash(token) else -1),
    token multiplicity as weight. {doc_id, simhash: bigint}.

    ``token_hash``: "xxhash64" (default, fastest JVM path) or "md5"
    (portable across engines — used by the oracle-checked catalog query)."""
    if token_hash == "xxhash64":
        hash_expr = F.xxhash64(F.lower(F.col("tok")))
    elif token_hash == "md5":
        hash_expr = _md5_token_hash64(F.lower(F.col("tok")))
    else:
        raise ValueError(f"unknown token_hash {token_hash!r}")
    # respread: the per-token hash (md5 especially) is the CPU cost here, and
    # a one-file input would otherwise run it on a single core
    toks = respread(df.select(F.col(id_col).alias("doc_id"), F.col(text_col))).select(
        "doc_id", F.explode(TXT.tokens_expr(text_col)).alias("tok")
    ).select("doc_id", hash_expr.alias("h"))
    # bit-majority vote per doc: collect the token hashes and run the 64
    # per-bit popcounts as one vectorized numpy pass per Arrow batch (the
    # same shape as minhash_signatures). Bit i of the signature is
    # 2*s_i > n  (<=> sum of +/-1 > 0, ties -> 0). Replaces a 65-column
    # JVM aggregation — measured ~4x faster at sf0.1, identical output.
    import pyarrow as pa

    grouped = toks.groupBy("doc_id").agg(F.collect_list("h").alias("hs"))

    def sigs(batches):
        for rb in batches:
            if rb.num_rows == 0:
                continue
            doc_ids = rb.column(rb.schema.get_field_index("doc_id")).to_numpy(
                zero_copy_only=False
            )
            hs = rb.column(rb.schema.get_field_index("hs"))
            offsets = hs.offsets.to_numpy(zero_copy_only=False)
            values = hs.values.to_numpy(zero_copy_only=False).astype(np.uint64)
            values = values[offsets[0] : offsets[-1]]
            starts = (offsets[:-1] - offsets[0]).astype(np.int64)
            n_tok = np.diff(np.append(starts, len(values)))
            # (n_values, 64) bit matrix -> segmented per-bit popcounts
            bits = (
                (values[:, None] >> np.arange(64, dtype=np.uint64)[None, :])
                & np.uint64(1)
            ).astype(np.int64)
            s = np.add.reduceat(bits, starts, axis=0)  # (n_docs, 64)
            maj = (2 * s > n_tok[:, None]).astype(np.uint64)
            sig = (maj << np.arange(64, dtype=np.uint64)[None, :]).sum(
                axis=1, dtype=np.uint64
            )
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(doc_ids, pa.int64()),
                    pa.array(sig.view(np.int64), pa.int64()),
                ],
                names=["doc_id", "simhash"],
            )

    return grouped.mapInArrow(sigs, schema="doc_id long, simhash long")


def simhash_near_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    token_hash: str = "xxhash64",
    max_bucket_size: int | None = 10_000,
) -> DataFrame:
    """Pairs with Hamming(simhash) <= max_hamming via block LSH: split the
    64 bits into (max_hamming + 1) blocks — any pair within the ball agrees
    on >= 1 whole block (pigeonhole), so an equi-join per block finds all of
    them; verify with bit_count(xor).

    ``max_bucket_size`` drops degenerate (block, value) groups whole — a
    group of B docs with an identical block (e.g. B identical documents
    that skipped exact dedup) is B^2/2 candidate rows. A dropped pair can
    still agree on one of the other blocks; at corpus sizes where RANDOM
    block collisions approach the cap (~cap * 2^(64/(max_hamming+1))
    docs), widen the blocks (lower max_hamming) rather than raising the
    cap. ``None`` disables (and falls back to the self-join shape —
    ``util.bucket_candidate_pairs``)."""
    # materialize once: both sides of the block self-join read sigs, and
    # Spark does not reuse the aggregation exchange across the join
    # (measured: 2x recompute). The shared registry bounds the storage
    # (LRU + release() hook) and lets repeat calls on the same corpus skip
    # the signature pass entirely.
    sigs = shared_cache.persist(simhash_signatures(df, text_col, id_col, token_hash))
    nblocks = max_hamming + 1
    width = 64 // nblocks
    blocks = sigs.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("blk"),
                        F.shiftrightunsigned("simhash", i * width)
                        .bitwiseAND(F.lit((1 << width) - 1))
                        .alias("bval"),
                    )
                    for i in range(nblocks)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "simhash", "bb.blk", "bb.bval")
    cand = bucket_candidate_pairs(
        blocks, ["blk", "bval"], "doc_id", "doc_id_a", "doc_id_b",
        max_bucket_size, payload_col="simhash", out_pa="sa", out_pb="sb",
    )
    ham = F.bit_count(F.col("sa").bitwiseXOR(F.col("sb")))
    return cand.select(
        "doc_id_a", "doc_id_b", ham.alias("hamming")
    ).filter(F.col("hamming") <= max_hamming)


# ---------------------------------------------------------------------------
# embedding near-dup (similarity self-join)
# ---------------------------------------------------------------------------


def embedding_near_dup_pairs(
    df: DataFrame,
    tau: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """All pairs with squared-L2 < tau — T1 semantics with queries=corpus.

    Exact, via the blocked dense-matrix kernel (operators/ann.py): B(B+1)/2
    block-pair BLAS calls instead of a row-wise non-equi crossJoin — same
    results, ~10x faster. For the 100 TB path prefer
    ``ann.lsh_near_dup_pairs`` (sub-quadratic, approximate)."""
    from . import ann

    return ann.blocked_all_pairs(
        df, tau=tau, metric=D.L2, id_col=id_col, vec_col=vec_col
    )


def duplicated_span_stats(
    df: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document duplicated-substring mass: the share of a document's
    n-token windows that occur more than once in the corpus.

    The distributed n-gram-hash approximation of suffix-array exact
    substring deduplication (Lee et al. 2022, "Deduplicating Training
    Data Makes Language Models Better"): a suffix array finds every
    repeated substring >= L tokens; sliding n-gram occurrence counts
    find the same spans up to window granularity, but as two
    shuffle-bucketed passes that scale out instead of a monolithic
    index build. A span is "duplicated" if its exact n-token window
    appears anywhere else — another document OR elsewhere in the same
    one (suffix arrays count both; so do we).

    Positions are non-distinct (every window counts), so ``dup_ratio``
    is the fraction of the document's token stream covered by repeated
    windows — the quantity you'd subtract at the trim step. Documents
    shorter than n tokens have no windows and drop out.

    Returns (id_col, total_spans, dup_spans, dup_ratio) per document.
    """
    spans = df.select(
        F.col(id_col),
        F.explode(
            TXT.word_shingles_expr(F.lower(F.col(text_col)), n, distinct=False)
        ).alias("span"),
    ).select(id_col, F.xxhash64("span").alias("span_h"))
    # windows are xxhash64'd at birth (the _shingles discipline: 8-byte
    # shuffle keys, not ~n-token strings), (doc, span) pre-aggregation
    # shrinks positions to distinct windows map-side, and the global
    # occurrence count is a groupBy + join-back rather than a window: a
    # window over the span key cannot be skew-split, so one boilerplate
    # span hot across millions of docs would own a whole reducer — the
    # join formulation costs one more (all-LongType, map-side-combined)
    # shuffle and lets AQE split that key.
    per = spans.groupBy(id_col, "span_h").agg(F.count("*").alias("cnt"))
    occ_tbl = per.groupBy("span_h").agg(F.sum("cnt").alias("occ"))
    return (
        per.join(occ_tbl, "span_h")
        .groupBy(id_col)
        .agg(
            F.sum("cnt").alias("total_spans"),
            F.sum(F.when(F.col("occ") > 1, F.col("cnt")).otherwise(0)).alias(
                "dup_spans"
            ),
        )
        .withColumn("dup_ratio", F.col("dup_spans") / F.col("total_spans"))
    )


# ---------------------------------------------------------------------------
# exact substring dedup (Lee et al. 2022, ExactSubstr)
# ---------------------------------------------------------------------------
#
# The suffix-array formulation marks every token position that lies inside
# a substring of >= L tokens occurring more than once in the corpus.  That
# set of positions is EXACTLY the union of the repeated length-L windows:
#
#   p is inside some repeated substring of length >= L
#     <=>  some length-L window containing p is repeated
#
# (=>: any length-L sub-window of a repeated substring is itself repeated;
#  <=: a repeated length-L window IS a repeated substring of length >= L
#  containing p).  So the monolithic suffix-array build distributes into
# two shuffle stages: global occurrence counts of exact length-L windows,
# then a per-document interval union — no approximation, no index on one
# machine.  duplicated_span_stats above remains the cheap window-MASS
# screen; these functions recover the exact position COVERAGE and the
# exact maximal spans a suffix array would report for removal.


def exact_duplicated_spans(
    df: DataFrame,
    min_len: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Maximal duplicated spans per document, exactly as suffix-array
    ExactSubstr (Lee et al. 2022) reports them, in token coordinates.

    A position is covered iff it lies in a substring of ``min_len``+
    tokens that occurs >= 2 times anywhere in the corpus (other documents
    or elsewhere in the same document — both count, matching the suffix
    array over the concatenated corpus).  Overlapping/adjacent repeated
    windows are unioned into maximal half-open intervals
    ``[span_start, span_end)`` over the 0-based token stream of
    ``lower(text)`` whitespace tokens.

    Plan shape (100 TB posture): windows are ``xxhash64``'d at birth —
    the same 8-byte-key discipline as every shingle relation in this file
    (see ``_shingles``) — so the occurrence count is a ``groupBy`` over
    LongType keys WITH map-side partial aggregation (a boilerplate span
    hot across millions of documents collapses to one row per map task
    before the shuffle), followed by a semi-join of positions against the
    (rare) count>=2 key set.  Versus the previous window-function count
    over the raw span string this cuts shuffle bytes ~40-50x (8-byte key
    vs a ~min_len-token string per position) and replaces the
    un-splittable single-reducer window with a join AQE can skew-split.
    A 64-bit collision can mark two distinct once-occurring windows as
    duplicated (p ~ n_windows^2 / 2^64 — the accepted MinHash-shingle
    odds).  Then one per-document sort for the classic gaps-and-islands
    interval union.  Pure Catalyst; no Python UDFs.

    Returns (id_col, span_start, span_end, n_windows) — one row per
    maximal span; documents with no duplicated span emit no rows.
    """
    spans = df.select(
        F.col(id_col),
        F.posexplode(
            TXT.word_shingles_expr(
                F.lower(F.col(text_col)), min_len, distinct=False
            )
        ).alias("pos", "span"),
    ).select(id_col, "pos", F.xxhash64("span").alias("span_h"))
    dup_keys = (
        spans.groupBy("span_h")
        .agg(F.count("*").alias("occ"))
        .filter(F.col("occ") >= 2)
        .select("span_h")
    )
    dup = spans.join(dup_keys, "span_h", "left_semi").select(
        id_col,
        F.col("pos").alias("start"),
        (F.col("pos") + min_len).alias("end"),
    )
    w = Window.partitionBy(id_col).orderBy("start")
    prev_end = F.max("end").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    # fixed-width windows sorted by start: a new island begins when this
    # window starts past everything seen so far (strictly greater —
    # touching intervals [a,b) [b,c) merge, as the suffix array would)
    brk = F.when(
        prev_end.isNull() | (F.col("start") > prev_end), F.lit(1)
    ).otherwise(F.lit(0))
    island = F.sum(brk).over(
        w.rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        dup.withColumn("island", island)
        .groupBy(id_col, "island")
        .agg(
            F.min("start").alias("span_start"),
            F.max("end").alias("span_end"),
            F.count("*").alias("n_windows"),
        )
        .drop("island")
    )


def exact_substring_stats(
    df: DataFrame,
    min_len: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document exact duplicated-position coverage: the token counts a
    suffix-array ExactSubstr pass would trim.  Every document appears
    (0-coverage rows included — the contract ranking_metrics follows too).

    Returns (id_col, total_tokens, n_spans, dup_tokens, dup_ratio).
    """
    spans = exact_duplicated_spans(
        df, min_len=min_len, text_col=text_col, id_col=id_col
    )
    per_doc = spans.groupBy(id_col).agg(
        F.count("*").alias("n_spans"),
        F.sum(F.col("span_end") - F.col("span_start")).alias("dup_tokens"),
    )
    totals = df.select(
        F.col(id_col),
        TXT.token_count_expr(F.lower(F.col(text_col))).alias("total_tokens"),
    )
    return (
        totals.join(per_doc, id_col, "left")
        .select(
            id_col,
            "total_tokens",
            F.coalesce("n_spans", F.lit(0)).alias("n_spans"),
            F.coalesce("dup_tokens", F.lit(0)).alias("dup_tokens"),
        )
        .withColumn(
            "dup_ratio",
            F.when(F.col("total_tokens") > 0,
                   F.col("dup_tokens") / F.col("total_tokens"))
            .otherwise(F.lit(0.0)),
        )
    )


def trim_duplicated_spans(
    df: DataFrame,
    min_len: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Remove every exact duplicated span (the Lee et al. trim step) and
    return the surviving text.

    Operates on the normalized token stream (lowercased, whitespace
    tokens), so the reconstruction joins kept tokens with single spaces —
    original casing/whitespace inside kept regions is NOT preserved
    (document-level dedup upstream is where byte-exact text survives;
    this operator is the corpus-trim stage, where the token stream is
    what the tokenizer consumes anyway).

    Returns the input columns with ``text_col`` replaced by the trimmed
    text plus ``removed_tokens``.  Pure Catalyst: spans are aggregated to
    one array per document and each token filtered by an ``exists`` over
    that (small) span list.
    """
    spans = (
        exact_duplicated_spans(
            df, min_len=min_len, text_col=text_col, id_col=id_col
        )
        .groupBy(id_col)
        .agg(
            F.collect_list(F.struct("span_start", "span_end")).alias("_spans")
        )
    )
    toks = TXT.tokens_expr(F.lower(F.col(text_col)))
    covered = lambda pair: F.exists(  # noqa: E731
        F.col("_spans"),
        lambda s: (pair["pos"] >= s["span_start"])
        & (pair["pos"] < s["span_end"]),
    )
    # sequence(0, -1) descends rather than yielding [] — guard empty docs
    positions = F.when(
        F.size(toks) > 0, F.sequence(F.lit(0), F.size(toks) - 1)
    ).otherwise(F.array().cast("array<int>"))
    indexed = F.filter(
        F.zip_with(
            toks,
            positions,
            lambda t, i: F.struct(t.alias("tok"), i.alias("pos")),
        ),
        lambda pair: ~covered(pair),
    )
    out_cols = [
        F.array_join(F.transform(indexed, lambda p: p["tok"]), " ").alias(
            text_col
        )
        if c == text_col
        else F.col(c)
        for c in df.columns
    ]
    return (
        df.join(spans, id_col, "left")
        .withColumn(
            "_spans",
            F.coalesce(
                "_spans",
                F.array().cast(
                    "array<struct<span_start:int,span_end:int>>"
                ),
            ),
        )
        .select(
            *out_cols,
            F.coalesce(
                F.aggregate(
                    F.col("_spans"),
                    F.lit(0),
                    lambda acc, s: acc + s["span_end"] - s["span_start"],
                ),
                F.lit(0),
            ).alias("removed_tokens"),
        )
    )
