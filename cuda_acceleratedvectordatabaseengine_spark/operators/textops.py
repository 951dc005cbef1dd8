"""Document-analysis operators over the ``documents`` table: token
counting, quality scoring, language ID, fingerprinting. All pure Catalyst
expressions from functions.text — a single projection, no shuffle, fully
codegen'd; the shape that runs unchanged over 100 TB of text."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import text as TXT


def analyze_documents(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Adds the standard analysis columns in one projection.

    respread first: the per-doc regex/tokenize work dominates, and a
    one-file scan would otherwise run it on a single core (no-op at scale)."""
    from ..util import respread

    return respread(df).select(
        "*",
        TXT.token_count_expr(text_col).alias("token_cnt"),
        F.length(F.col(text_col)).alias("char_cnt"),
        TXT.non_alpha_ratio_expr(text_col).alias("non_alpha_ratio"),
        TXT.stopword_ratio_expr(text_col).alias("stopword_ratio"),
        TXT.quality_score_expr(text_col).alias("quality_score"),
        TXT.lang_id_expr(text_col).alias("lang_pred"),
        TXT.doc_fingerprint_expr(text_col).alias("fingerprint"),
        TXT.content_hash64_expr(text_col).alias("content_hash"),
    )


def language_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    return (
        analyze_documents(df, text_col)
        .groupBy("lang_pred")
        .agg(
            F.count("*").alias("cnt"),
            F.round(F.avg("token_cnt"), 6).alias("avg_tokens"),
            F.round(F.avg("quality_score"), 6).alias("avg_quality"),
        )
        .orderBy("lang_pred")
    )


def quality_filter(
    df: DataFrame, min_score: float = 0.1, text_col: str = "text"
) -> DataFrame:
    """Training-data quality gate: drop low-quality documents."""
    return df.filter(TXT.quality_score_expr(text_col) >= min_score)


def split_column(
    id_col: str = "doc_id",
    weights: tuple[float, ...] = (0.8, 0.1, 0.1),
    names: tuple[str, ...] = ("train", "val", "test"),
) -> F.Column:
    """Deterministic train/val/test assignment expression: hash the id with
    md5 and bucket by the first 4 hex digits against cumulative-weight
    thresholds. Content-addressed, order-independent, engine-independent
    (md5 of the decimal id string is identical in any engine, and the
    comparison is plain string ordering on lowercase hex) — so the split is
    reproducible across reruns, partitionings, and SQL dialects, and any
    row's split can be recomputed from its id alone. Pure projection: no
    shuffle, no RNG state, works identically at 100 TB.
    """
    if len(weights) != len(names) or not names:
        raise ValueError("weights and names must align and be non-empty")
    if abs(sum(weights) - 1.0) > 1e-9:
        raise ValueError(f"weights must sum to 1, got {sum(weights)}")
    hx = F.substring(F.md5(F.col(id_col).cast("string").cast("binary")), 1, 4)
    cum = 0.0
    expr = None
    for w, name in zip(weights[:-1], names[:-1]):
        cum += w
        thresh = format(int(cum * 65536), "04x")
        branch = F.when(hx < F.lit(thresh), F.lit(name))
        expr = branch if expr is None else expr.when(hx < F.lit(thresh), F.lit(name))
    return (expr.otherwise(F.lit(names[-1])) if expr is not None else F.lit(names[-1])).alias("split")


def train_val_test_split(
    df: DataFrame,
    id_col: str = "doc_id",
    weights: tuple[float, ...] = (0.8, 0.1, 0.1),
    names: tuple[str, ...] = ("train", "val", "test"),
) -> DataFrame:
    """Annotate ``df`` with a deterministic ``split`` column."""
    return df.withColumn("split", split_column(id_col, weights, names))


def tfidf_terms(
    df: DataFrame,
    group_col: str = "lang",
    text_col: str = "text",
    top_n: int = 5,
) -> DataFrame:
    """Top distinctive tokens per group by TF-IDF: tf = token occurrences
    within the group, idf = ln((N+1)/(df+1)) with N = total docs and df =
    docs containing the token (smoothed). Two shuffles (token agg, group
    window); rank on the raw score with a token tiebreak, round only the
    emitted column."""
    from pyspark.sql import Window

    n_docs = df.count()
    toks = df.select(
        F.col(group_col),
        F.col("doc_id"),
        F.explode(TXT.tokens_expr(F.lower(F.col(text_col)))).alias("token"),
    )
    tf = toks.groupBy(group_col, "token").agg(F.count("*").alias("tf"))
    docf = toks.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    score = F.col("tf") * F.log((F.lit(n_docs) + 1.0) / (F.col("df") + 1.0))
    w = Window.partitionBy(group_col).orderBy(score.desc(), "token")
    return (
        tf.join(docf, "token")
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= top_n)
        .select(
            group_col,
            F.col("rnk").cast("int").alias("rnk"),
            "token",
            F.round(score, 6).alias("tfidf"),
        )
        .orderBy(group_col, "rnk")
    )


def vocabulary(
    df: DataFrame, text_col: str = "text", min_df: int = 1
) -> DataFrame:
    """Corpus vocabulary {token, doc_freq, total_cnt}: lowercase whitespace
    tokens, document frequency and total occurrence count. One
    explode→groupBy (map-side combined); ``min_df`` prunes the hapax tail
    that dominates vocabulary size at scale."""
    toks = df.select(
        F.col("doc_id"),
        F.explode(TXT.tokens_expr(F.lower(F.col(text_col)))).alias("token"),
    )
    out = toks.groupBy("token").agg(
        F.countDistinct("doc_id").alias("doc_freq"),
        F.count("*").alias("total_cnt"),
    )
    if min_df > 1:
        out = out.filter(F.col("doc_freq") >= min_df)
    return out


def repetition_stats(
    df: DataFrame, n: int = 2, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Intra-document repetition signals (the Gopher/RefinedWeb-style
    repeated-n-gram rules): per document, over its word ``n``-grams —

    - ``total_ngrams`` / ``distinct_ngrams``
    - ``dup_ngram_ratio`` = 1 - distinct/total (mass of repeated n-grams)
    - ``top_ngram_mass``  = occurrences of the most frequent n-gram / total

    High values flag boilerplate/spam (repeated headers, keyword stuffing);
    feed into ``quality_filter``-style gates. One explode + two map-side-
    combined aggregations; documents too short for any n-gram report zeros.
    """
    ex = df.select(
        F.col(id_col),
        F.explode(
            TXT.word_shingles_expr(F.lower(F.col(text_col)), n, distinct=False)
        ).alias("s"),
    )
    per = ex.groupBy(id_col, "s").agg(F.count("*").alias("c"))
    stats = per.groupBy(id_col).agg(
        F.sum("c").alias("total_ngrams"),
        F.count("*").alias("distinct_ngrams"),
        F.max("c").alias("top_c"),
    )
    out = df.select(id_col).join(stats, id_col, "left").select(
        F.col(id_col),
        F.coalesce("total_ngrams", F.lit(0)).alias("total_ngrams"),
        F.coalesce("distinct_ngrams", F.lit(0)).alias("distinct_ngrams"),
        F.when(
            F.col("total_ngrams").isNull(), F.lit(0.0)
        ).otherwise(
            F.lit(1.0) - F.col("distinct_ngrams") / F.col("total_ngrams")
        ).alias("dup_ngram_ratio"),
        F.when(F.col("total_ngrams").isNull(), F.lit(0.0))
        .otherwise(F.col("top_c") / F.col("total_ngrams"))
        .alias("top_ngram_mass"),
    )
    return out


def unigram_logprob(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Corpus-MLE unigram language-model score per document.

    The cheapest useful "perplexity" quality gate a training pipeline
    runs before any neural filter: p(t) = count(t)/corpus_tokens over
    the whole corpus, and each document scores avg over its tokens of
    ln p(t). Documents made of rare junk tokens score very negative
    (high perplexity) and get filtered; repetitive boilerplate scores
    near zero and gets flagged by ``repetition_stats`` instead.

    Two passes over the tokenized corpus: a vocabulary count
    (map-side-combined groupBy on token) and a token->prob join (shuffle
    on token; AQE broadcasts it when the vocabulary is small). The
    corpus total is a 1-row aggregate cross-joined broadcast — no
    driver collect, no global window. Empty documents drop out at the
    explode.

    Returns (id_col, n_tokens, avg_logprob, perplexity) — perplexity =
    exp(-avg_logprob).
    """
    toks = df.select(
        F.col(id_col),
        F.explode(TXT.tokens_expr(F.lower(F.col(text_col)))).alias("token"),
    )
    vocab = toks.groupBy("token").agg(F.count("*").alias("tok_cnt"))
    total = vocab.agg(F.sum("tok_cnt").alias("corpus_tokens"))
    priced = vocab.crossJoin(F.broadcast(total))
    return (
        toks.join(priced, "token")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_tokens"),
            F.avg(F.log(F.col("tok_cnt") / F.col("corpus_tokens"))).alias(
                "avg_logprob"
            ),
        )
        .withColumn("perplexity", F.exp(-F.col("avg_logprob")))
    )


def _bigram_pairs(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, w1, w2) for every adjacent token pair — pure expressions:
    tokenize, slice the array against its own tail, zip, explode. No join,
    no window, no shuffle before the count aggregations."""
    base = df.select(
        F.col(id_col),
        TXT.tokens_expr(F.lower(F.col(text_col))).alias("tk"),
    ).filter(F.size("tk") >= 2)
    base = base.select(
        id_col,
        F.slice("tk", 1, F.size("tk") - 1).alias("a"),
        F.slice("tk", 2, F.size("tk") - 1).alias("b"),
    )
    return base.select(
        id_col, F.explode(F.arrays_zip("a", "b")).alias("p")
    ).select(id_col, F.col("p.a").alias("w1"), F.col("p.b").alias("w2"))


def bigram_logprob(
    docs: DataFrame,
    corpus: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 0.4,
) -> DataFrame:
    """Stupid-backoff bigram LM score per document (Brants et al. 2007,
    'Large Language Models in Machine Translation') — the CCNet-style
    fluency gate one tier above ``unigram_logprob``:

        S(w2 | w1) = c(w1 w2) / c(w1)          if the bigram was seen
                   = alpha * c(w2) / N          backoff, seen unigram
                   = alpha * 0.5 / N            floor for OOV w2

    ``corpus`` is the REFERENCE corpus the counts come from (None =
    score ``docs`` against its own counts — then backoff never fires);
    held-out scoring is the real use, where unseen bigrams back off.

    Scale shape: count tables are map-side-combined groupBys; scoring is
    equi-joins on token keys (AQE broadcasts small vocabularies); the
    corpus total is a 1-row broadcast cross-join. No driver collects, no
    windows. Returns (id, n_bigrams, avg_logprob, perplexity, oov_rate)
    — docs with fewer than 2 tokens drop out.
    """
    ref = corpus if corpus is not None else docs
    ref_toks = ref.select(
        F.explode(TXT.tokens_expr(F.lower(F.col(text_col)))).alias("w")
    )
    uni = ref_toks.groupBy("w").agg(F.count("*").alias("c"))
    total = uni.agg(F.sum("c").alias("n_corpus"))
    big = (
        _bigram_pairs(ref, text_col, id_col)
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("c12"))
    )
    pairs = _bigram_pairs(docs, text_col, id_col)
    scored = (
        pairs.join(big, ["w1", "w2"], "left")
        .join(uni.select(F.col("w").alias("w1"), F.col("c").alias("c1")), "w1", "left")
        .join(uni.select(F.col("w").alias("w2"), F.col("c").alias("c2")), "w2", "left")
        .crossJoin(F.broadcast(total))
        .withColumn(
            "logp",
            F.when(
                F.col("c12").isNotNull(), F.log(F.col("c12") / F.col("c1"))
            ).otherwise(
                F.log(
                    F.lit(alpha)
                    * F.coalesce(F.col("c2").cast("double"), F.lit(0.5))
                    / F.col("n_corpus")
                )
            ),
        )
    )
    return (
        scored.groupBy(id_col)
        .agg(
            F.count("*").alias("n_bigrams"),
            F.avg("logp").alias("avg_logprob"),
            F.avg(
                F.when(F.col("c12").isNull(), F.lit(1.0)).otherwise(F.lit(0.0))
            ).alias("oov_rate"),
        )
        .withColumn("perplexity", F.exp(-F.col("avg_logprob")))
    )


def approx_vocabulary_topk(
    docs: DataFrame,
    k: int,
    capacity: int = 4096,
    text_col: str = "text",
) -> DataFrame:
    """Bounded-memory heavy-hitter vocabulary — the 100 TB scale path for
    ``vocabulary_topk``'s exact groupBy.

    Per partition, a Misra-Gries summary of at most ``capacity`` tokens
    (batched form: merge each Arrow batch's unique counts, then when the
    summary exceeds capacity subtract the overflow-rank count from every
    entry and drop the non-positive — equivalent to that many decrement
    rounds, so the classic bound holds). Summaries merge by a plain
    map-side-combined SUM: for every token,

        true_count - n_tokens / (capacity + 1)  <=  est  <=  true_count

    so any token with true frequency above n/(capacity+1) is GUARANTEED
    present. Executor memory is O(capacity) per partition regardless of
    vocabulary size — a trillion-token corpus with a billion-token
    vocabulary runs in the same footprint as a toy one; the exact
    operator's hash aggregate would spill. Estimates (not exact counts)
    and a partitioning-dependent sub-threshold tail are the price; the
    guarantee above is partitioning-INdependent.

    Returns the top ``k`` by estimated count (token tiebreak):
    (token, est_count) with est_count <= true count.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if capacity < k:
        raise ValueError(f"capacity {capacity} must be >= k {k}")
    toks = docs.select(
        F.explode(TXT.tokens_expr(F.lower(F.col(text_col)))).alias("token")
    )

    def summarize(batches):
        import pyarrow as pa

        counts: dict = {}
        seen = False
        for rb in batches:
            if rb.num_rows == 0:
                continue
            seen = True
            col = rb.column(0).to_numpy(zero_copy_only=False)
            uniq, cnt = __import__("numpy").unique(col, return_counts=True)
            for t, c in zip(uniq, cnt):
                counts[t] = counts.get(t, 0) + int(c)
            if len(counts) > capacity:
                # batched Misra-Gries step: subtract the overflow-rank
                # count from everyone, drop the non-positive
                vals = sorted(counts.values())
                cut = vals[len(counts) - capacity - 1]
                counts = {
                    t: c - cut for t, c in counts.items() if c - cut > 0
                }
        if seen and counts:
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(list(counts.keys()), pa.string()),
                    pa.array(list(counts.values()), pa.int64()),
                ],
                names=["token", "cnt"],
            )

    partials = toks.mapInArrow(summarize, schema="token string, cnt long")
    est = partials.groupBy("token").agg(F.sum("cnt").alias("est_count"))
    w = Window.orderBy(F.col("est_count").desc(), F.col("token").asc())
    return (
        est.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("token", "est_count")
        .orderBy(F.col("est_count").desc(), "token")
    )


def hashed_term_vectors(
    df: DataFrame,
    dim: int = 256,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Feature-hashing ("hashing trick") sparse term vectors — embedding
    generation with no model and no vocabulary broadcast.

    Each token hashes to a dimension via the same portable md5 route the
    SimHash family uses (first 8 hex chars as an integer, mod dim), so
    any engine with md5 reproduces the vectors bit-for-bit. Weights are
    L2-normalized term frequencies; the output is the sparse COO form
    (id, dim, w) — the shape the inverted-index similarity join consumes
    directly, and ~dim/nnz cheaper to shuffle than dense arrays.

    One explode + two map-side-combined aggregations; no Python UDFs.
    """
    if dim <= 0:
        raise ValueError(f"dim must be positive, got {dim}")
    toks = df.select(
        F.col(id_col),
        F.explode(TXT.tokens_expr(F.lower(F.col(text_col)))).alias("token"),
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("token")), 1, 8), 16, 10).cast("long")
        % dim
    ).alias("dim")
    tf = toks.select(F.col(id_col), bucket).groupBy(id_col, "dim").agg(
        F.count("*").alias("tf")
    )
    norm = tf.groupBy(id_col).agg(
        F.sqrt(F.sum(F.col("tf") * F.col("tf"))).alias("norm")
    )
    return tf.join(norm, id_col).select(
        F.col(id_col),
        F.col("dim"),
        (F.col("tf") / F.col("norm")).alias("w"),
    )


def dense_hashed_vectors(
    df: DataFrame,
    dim: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
    out_col: str = "vector",
) -> DataFrame:
    """``hashed_term_vectors`` densified to the ``array<float>`` shape the
    vector-index surface (IVF build/search, PQ, kNN) consumes — the
    no-model bridge from raw text to the ANN engine, and the default
    stand-in where ``embed_documents`` would run a real encoder.

    Shape: explode -> ONE shuffle keyed on the id -> tf + entry
    aggregations reusing that partitioning -> norm and the dense array
    built as higher-order expressions per id; missing dims land 0.0. No
    Python, no collect, no self-join. Keep ``dim`` modest (64-256): this
    is a tf fingerprint, not a semantic embedding."""
    if dim <= 0:
        # hashed_term_vectors raises here too; without the check the
        # densify below emits `% 0` nulls and a bogus sequence(0, -1)
        raise ValueError(f"dim must be positive, got {dim}")
    # ONE exchange: repartition the exploded tokens by the id once, then
    # both aggregations (tf per (id, dim); entries per id) reuse that
    # partitioning (hash(id) clusters any (id, *) grouping), and the norm +
    # densify are higher-order expressions over the collected (dim, tf)
    # entries — no tf/norm self-join, no O(nnz * dim) CASE pivot
    # (OPTIMIZATION_r14.md §4). Values are bit-identical to
    # hashed_term_vectors' sparse weights: tf and tf^2 sums are exact
    # integer arithmetic in any order, and w = tf / sqrt(sum tf^2) is the
    # same single division (oracle-checked: pipeline_docs_to_ann,
    # text_hashing_knn, embedding_label_separation).
    toks = df.select(
        F.col(id_col),
        F.explode(TXT.tokens_expr(F.lower(F.col(text_col)))).alias("token"),
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("token")), 1, 8), 16, 10).cast("long")
        % dim
    ).alias("dim")
    tf = (
        toks.select(F.col(id_col), bucket)
        .repartition(F.col(id_col))
        .groupBy(id_col, "dim")
        .agg(F.count("*").alias("tf"))
    )
    ent = tf.groupBy(id_col).agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("dim"), F.col("tf")))
        ).alias("_m")
    )
    norm = F.sqrt(
        F.aggregate(
            F.map_values(F.col("_m")),
            F.lit(0.0),
            lambda acc, v: acc + v.cast("double") * v.cast("double"),
        )
    )
    elem = lambda i: F.coalesce(  # noqa: E731
        F.try_element_at(F.col("_m"), i.cast("long")) / F.col("_norm"),
        F.lit(0.0),
    )
    return (
        ent.withColumn("_norm", norm)
        .select(
            F.col(id_col),
            F.transform(F.sequence(F.lit(0), F.lit(dim - 1)), elem)
            .cast("array<float>")
            .alias(out_col),
        )
    )


def sparse_cosine_neighbors(
    vectors: DataFrame,
    top_k: int = 1,
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-k cosine neighbors over sparse (id, dim, w) vectors via the
    inverted-index similarity join.

    Dot products come from joining the sparse vectors on ``dim`` — only
    document pairs that SHARE a dimension ever meet, the sub-quadratic
    property that makes sparse similarity search scale (posting-list
    intersection, not all-pairs). Vectors are pre-normalized, so the
    summed product IS the cosine. The per-id top-k window partitions by
    document — no global sort.

    Skew note: a dimension shared by B documents contributes B^2 join
    rows — with hashing-trick vectors every dim is ~uniformly loaded by
    construction; for natural posting lists apply an idf cut first
    (drop dims hit by more than max_dim_docs documents), the same guard
    the LSH family uses for hot buckets.
    """
    a = vectors.select(
        F.col(id_col).alias("id_a"), F.col("dim").alias("dim"), F.col("w").alias("wa")
    )
    b = vectors.select(
        F.col(id_col).alias("id_b"), F.col("dim").alias("dim"), F.col("w").alias("wb")
    )
    sims = (
        a.join(b, "dim")
        .filter(F.col("id_a") != F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.col("wa") * F.col("wb")).alias("cos"))
    )
    rank = F.row_number().over(
        Window.partitionBy("id_a").orderBy(
            F.col("cos").desc(), F.col("id_b").asc()
        )
    )
    return (
        sims.withColumn("rnk", rank)
        .filter(F.col("rnk") <= top_k)
        .select(
            F.col("id_a").alias(id_col),
            F.col("rnk").cast("int").alias("rnk"),
            F.col("id_b").alias("neighbor_id"),
            F.col("cos").alias("cos"),
        )
    )


def curriculum_bins(
    df: DataFrame,
    n_bins: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    exact: bool = True,
) -> DataFrame:
    """Curriculum binning: rank documents by quality score into n_bins
    equal-count tiers (bin 1 = highest quality) with per-tier stats —
    the table a staged-training schedule consumes.

    ``exact=True`` uses NTILE over (quality DESC, id) — deterministic
    and SQL-reproducible, but a global sort: right for gates and modest
    corpora. At 100 TB use ``exact=False``: approx-percentile thresholds
    (one aggregation, no global sort) bin to within the sketch's error —
    same schema, not oracle-comparable by design.

    Returns (bin, n_docs, min_quality, max_quality, avg_tokens).
    """
    if n_bins <= 0:
        raise ValueError(f"n_bins must be positive, got {n_bins}")
    q = TXT.quality_score_expr(text_col)
    base = df.select(
        F.col(id_col), q.alias("quality"), TXT.token_count_expr(text_col).alias("tc")
    )
    if exact:
        w = Window.orderBy(F.col("quality").desc(), F.col(id_col).asc())
        binned = base.withColumn("bin", F.ntile(n_bins).over(w))
    else:
        probs = [i / n_bins for i in range(1, n_bins)]
        ths = base.agg(
            F.percentile_approx("quality", probs, 10_000).alias("t")
        )
        b = F.lit(n_bins)
        # bin 1 = top tier: count thresholds (ascending quantiles) at or
        # above this row's quality
        binned = base.crossJoin(F.broadcast(ths)).withColumn(
            "bin",
            (
                b
                - F.size(
                    F.filter(F.col("t"), lambda th: th < F.col("quality"))
                )
            ).cast("int"),
        )
    return binned.groupBy("bin").agg(
        F.count("*").alias("n_docs"),
        F.min("quality").alias("min_quality"),
        F.max("quality").alias("max_quality"),
        F.avg("tc").alias("avg_tokens"),
    )


def chunk_documents(
    df: DataFrame,
    max_tokens: int = 32,
    overlap: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Split documents into overlapping token-window chunks with provenance.

    The unit-of-work transform every embedding/RAG/training pipeline runs
    before vectorizing text: a sliding window of ``max_tokens`` whitespace
    tokens advancing by ``stride = max_tokens - overlap``, so consecutive
    chunks share ``overlap`` tokens of context. Output one row per chunk:

    - ``chunk_id``     0-based ordinal within the document
    - ``start_token``  0-based token offset of the window
    - ``n_tokens``     actual window size (the tail may be shorter)
    - ``chunk_text``   the window re-joined with single spaces

    Windowing contract (mirrored verbatim by the SQL oracle): starts are
    the multiples of ``stride`` below ``n``, except that a tail start whose
    window would be fully contained in its predecessor (``n <= start +
    overlap``) is dropped — every token is covered exactly once by the
    non-overlapping portions, and no chunk duplicates another.

    Scale shape: one projection + one ``posexplode`` — no shuffle, no UDF,
    fully codegen'd; amplification is ~n/stride rows per doc. Provenance
    (id + offsets) is carried so chunk-level results (dedup hits, ANN
    matches) can always be mapped back to byte ranges of the source doc.
    """
    if max_tokens <= 0:
        raise ValueError(f"max_tokens must be positive, got {max_tokens}")
    if not 0 <= overlap < max_tokens:
        raise ValueError(
            f"overlap must be in [0, max_tokens), got {overlap} vs {max_tokens}"
        )
    from ..util import respread

    stride = max_tokens - overlap
    toks = TXT.tokens_expr(text_col)
    base = (
        respread(df)
        .select(
            F.col(id_col), *[F.col(c) for c in keep_cols],
            toks.alias("_toks"), F.size(toks).alias("_n"),
        )
        .filter(F.col("_n") > 0)
    )
    starts = F.filter(
        F.sequence(F.lit(0), F.col("_n") - 1, F.lit(stride)),
        lambda s: (s == F.lit(0)) | ((s + F.lit(overlap)) < F.col("_n")),
    )
    ex = base.select(
        id_col, *keep_cols, "_toks",
        F.posexplode(starts).alias("chunk_id", "start_token"),
    )
    ctoks = F.slice(F.col("_toks"), F.col("start_token") + 1, F.lit(max_tokens))
    return ex.select(
        F.col(id_col),
        *[F.col(c) for c in keep_cols],
        F.col("chunk_id").cast("int").alias("chunk_id"),
        F.col("start_token").cast("int").alias("start_token"),
        F.size(ctoks).cast("int").alias("n_tokens"),
        F.array_join(ctoks, " ").alias("chunk_text"),
    )


SENT_MARK = "\x01"
_SENT_BOUNDARIES = (". ", "! ", "? ")


def sentence_split_expr(text) -> "F.Column":
    """Whitespace-normalized sentence array via the cheap terminal-
    punctuation heuristic: mark each '. '/'! '/'? ' boundary with a
    control char, split, drop empties. LITERAL replaces only — no
    lookbehind, no backreferences — so the DuckDB twin
    (replace(...) || chr(1)) is the same program in both dialects
    (abbreviation splits like 'Dr. Smith' are the documented cost of
    the heuristic, identical in both engines)."""
    out = F.trim(F.regexp_replace(text, r"\s+", " "))
    for b in _SENT_BOUNDARIES:
        out = F.replace(out, F.lit(b), F.lit(b.strip() + SENT_MARK))
    return F.filter(
        F.split(out, SENT_MARK), lambda s: F.length(F.trim(s)) > 0
    )


def sentence_chunks(
    df: DataFrame,
    max_tokens: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Sentence-aligned chunking: split into sentences, then assign each
    sentence to chunk ``floor(prefix_tokens / max_tokens)`` — the chunk
    boundary falls on the first sentence whose START offset crosses a
    ``max_tokens`` multiple, so sentences are never split mid-way (the
    RAG/embedding-friendly alternative to ``chunk_documents``' hard token
    windows; a chunk can overshoot ``max_tokens`` by at most its final
    sentence). Output one row per chunk: {id, chunk_id, n_sentences,
    n_tokens, chunk_text}.

    Scale shape: sentence split + per-sentence token counts + prefix sums
    all happen INSIDE the row as array expressions (F.aggregate running
    total — no window function, no shuffle for the assignment); the only
    shuffle is the final (id, chunk_id) groupBy, whose keys are strictly
    finer than documents. The prefix-sum contract is mirrored exactly by
    the SQL oracle's SUM OVER (ROWS UNBOUNDED PRECEDING AND 1 PRECEDING).
    """
    if max_tokens <= 0:
        raise ValueError(f"max_tokens must be positive, got {max_tokens}")
    from ..util import respread

    sents = sentence_split_expr(text_col)
    tcs = F.transform(sents, lambda s: TXT.token_count_expr(s).cast("long"))
    # running totals [0, t1, t1+t2, ...]; entry i (1-based) = tokens
    # BEFORE sentence i
    cums = F.aggregate(
        tcs,
        F.array(F.lit(0).cast("long")),
        lambda acc, x: F.concat(acc, F.array(F.element_at(acc, -1) + x)),
    )
    base = (
        respread(df)
        .select(
            F.col(id_col), *[F.col(c) for c in keep_cols],
            sents.alias("_s"), tcs.alias("_t"), cums.alias("_c"),
        )
        .filter(F.size("_s") > 0)
    )
    ex = base.select(
        id_col, *keep_cols, "_t", "_c",
        F.posexplode("_s").alias("_idx", "_sent"),
    ).select(
        id_col, *keep_cols, "_idx", "_sent",
        F.element_at("_t", F.col("_idx") + 1).alias("_tc"),
        F.floor(
            F.element_at("_c", F.col("_idx") + 1) / F.lit(max_tokens)
        ).cast("int").alias("chunk_id"),
    )
    ordered = F.array_sort(F.collect_list(F.struct("_idx", "_sent")))
    return (
        ex.groupBy(id_col, "chunk_id", *keep_cols)
        .agg(
            F.count("*").cast("int").alias("n_sentences"),
            F.sum("_tc").cast("long").alias("n_tokens"),
            F.array_join(
                F.transform(ordered, lambda s: s["_sent"]), " "
            ).alias("chunk_text"),
        )
    )


def chunk_dedup_stats(
    chunks: DataFrame, text_col: str = "chunk_text", id_col: str = "doc_id"
) -> DataFrame:
    """Corpus-level duplicate-chunk summary over a ``chunk_documents``
    output: exact dedup at CHUNK granularity (the RefinedWeb/FineWeb
    passage-dedup stage — document-level dedup misses boilerplate shared
    across distinct docs). One row:

    - ``total_chunks`` / ``distinct_chunks``  (by normalized md5)
    - ``dup_chunks``      chunk instances beyond the first of their group
    - ``docs_affected``   documents containing at least one such extra copy

    Hash-groupBy over the normalized text — the same map-side-combined
    shape as document ``exact_dedup``, scales unchanged."""
    h = F.md5(TXT.normalized_text_expr(text_col).cast("binary")).alias("h")
    per = chunks.select(h, F.col(id_col)).withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("h").orderBy(F.col(id_col).asc())
        ),
    )
    return per.agg(
        F.count("*").alias("total_chunks"),
        F.countDistinct("h").alias("distinct_chunks"),
        F.sum(F.when(F.col("rn") > 1, 1).otherwise(0)).alias("dup_chunks"),
        F.countDistinct(
            F.when(F.col("rn") > 1, F.col(id_col))
        ).alias("docs_affected"),
    )


# ---------------------------------------------------------------------------
# PII detection / redaction (the C4/RefinedWeb-class scrub stage)
# ---------------------------------------------------------------------------
def pii_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-class PII accounting over the corpus: one row per PII class
    (functions.text.PII_PATTERNS — email, ipv4, ssn, phone) with

    - ``n_docs``  documents containing >= 1 match
    - ``n_hits``  total matches across the corpus

    Shape: one projection computing all class counts per document, then a
    single map-side-combined aggregate — no shuffle beyond the final
    4-row combine, no Python. The audit report a scrub stage emits before
    redaction is approved."""
    counts = df.select(
        *[
            TXT.pii_count_expr(text_col, cls).alias(f"c_{cls}")
            for cls in TXT.PII_CLASSES
        ]
    )
    agg = counts.agg(
        *[
            F.sum(F.when(F.col(f"c_{cls}") > 0, 1).otherwise(0))
            .cast("long")
            .alias(f"d_{cls}")
            for cls in TXT.PII_CLASSES
        ],
        *[
            F.coalesce(F.sum(f"c_{cls}"), F.lit(0))
            .cast("long")
            .alias(f"h_{cls}")
            for cls in TXT.PII_CLASSES
        ],
    )
    stacked = agg.selectExpr(
        "stack({n}, {args}) as (pii_class, n_docs, n_hits)".format(
            n=len(TXT.PII_CLASSES),
            args=", ".join(
                f"'{cls}', d_{cls}, h_{cls}" for cls in TXT.PII_CLASSES
            ),
        )
    )
    return stacked


def pii_redact(
    df: DataFrame,
    text_col: str = "text",
    classes: "tuple[str, ...] | None" = None,
) -> DataFrame:
    """The corpus with every selected PII class replaced by its token
    (<EMAIL>, <IP>, <SSN>, <PHONE>) and an ``n_pii`` count column: the
    SUM of per-class match counts over the ORIGINAL text. Because
    redaction applies the classes sequentially, a span matched by two
    classes (e.g. an IPv4 quad inside an email's domain,
    'a@1.2.3.4.com') counts once per class here but is replaced only by
    the first class that consumes it — so n_pii is the per-class match
    total, which can exceed the replacements actually made. The DuckDB
    oracle mirrors the same arithmetic, keeping the row an exact
    value-match. Pure Catalyst regexp chain — the scrub runs at scan
    speed and composes as a curation funnel stage (docs are
    transformed, never dropped)."""
    keep = tuple(classes) if classes is not None else TXT.PII_CLASSES
    n_pii = None
    for cls in keep:
        c = TXT.pii_count_expr(text_col, cls)
        n_pii = c if n_pii is None else n_pii + c
    # one select: n_pii counts the ORIGINAL text, text becomes the
    # redacted form (a withColumn chain would count the redacted text)
    return df.select(
        *[c for c in df.columns if c != text_col],
        TXT.pii_redact_expr(text_col, keep).alias(text_col),
        (n_pii if n_pii is not None else F.lit(0)).cast("long").alias("n_pii"),
    )


# ---------------------------------------------------------------------------
# C4 line-level cleaning + Gopher quality rules (published rule sets)
# ---------------------------------------------------------------------------


def c4_clean(
    df: DataFrame, text_col: str = "text", keep_only: bool = False
) -> DataFrame:
    """C4 line-level cleaning (Raffel et al. 2020 §2.2): per page, keep
    lines that end in terminal punctuation, have >= 5 words, and do not
    mention javascript; flag the page for drop when < 3 lines survive or
    it contains 'lorem ipsum' / '{'. Adds ``clean_text`` (kept lines
    re-joined), ``n_lines_kept``, and boolean ``c4_keep``;
    ``keep_only=True`` additionally filters to surviving pages and swaps
    the cleaned text in place.

    Pure Catalyst scalar expressions (functions.text.c4_*_expr) — runs at
    scan speed, no shuffle, no Python; the per-page rule is embarrassingly
    parallel at any corpus size."""
    out = df.withColumns(
        {
            "clean_text": TXT.c4_clean_text_expr(text_col),
            "n_lines_kept": F.size(TXT.c4_kept_lines_expr(text_col)),
            "c4_keep": TXT.c4_keep_expr(text_col),
        }
    )
    if keep_only:
        out = (
            out.filter(F.col("c4_keep"))
            .drop(text_col, "c4_keep")
            .withColumnRenamed("clean_text", text_col)
        )
    return out


def _gopher_staged_rules(df: DataFrame, text_col: str):
    """The Gopher rule booleans computed through a STAGED projection:
    the token and line arrays land in their own projection first, so
    the eleven rules read them as column references instead of each
    re-deriving the splits (Catalyst's CollapseProject keeps the stage
    boundary because inlining would duplicate non-cheap expressions;
    measured ~1.5-1.9x over the single-expression form at 640K docs).
    Semantics are IDENTICAL to ``functions.text.gopher_rules_expr`` —
    the single-expression twin the DuckDB oracles mirror — and pinned
    by a differential test. Returns (staged_df, {rule: Column}, tmp_cols)."""
    raw = F.col(text_col)
    trimmed = TXT._ws_trim(raw)
    staged = df.withColumns(
        {
            "__gq_w": F.split(trimmed, r"\s+"),
            "__gq_l": F.transform(
                F.split(raw, "\n"), lambda x: TXT._ws_trim(x)
            ),
        }
    )
    w, lines = F.col("__gq_w"), F.col("__gq_l")
    lines_ne = F.filter(lines, lambda x: x != "")
    low = F.transform(w, lambda t: F.lower(t))
    n_words = F.when(F.length(trimmed) == 0, F.lit(0)).otherwise(F.size(w))
    n_chars = F.length(F.regexp_replace(raw, r"\s+", ""))
    n_lines = F.size(lines)
    n_bullet = F.size(F.filter(lines, lambda x: x.rlike("^[-*•]")))
    n_ell_end = F.size(F.filter(lines, lambda x: x.rlike(r"\.\.\.$")))
    n_hash = F.length(raw) - F.length(F.replace(raw, F.lit("#"), F.lit("")))
    n_ell3 = F.length(raw) - F.length(
        F.replace(raw, F.lit("..."), F.lit(""))
    )
    n_alpha = F.size(F.filter(w, lambda x: x.rlike("[a-zA-Z]")))
    n_sw = sum(
        (F.array_contains(low, s).cast("int") for s in TXT.GOPHER_STOPWORDS),
        F.lit(0),
    )
    n_l = F.size(lines_ne)
    n_ld = F.size(F.array_distinct(lines_ne))
    ch_all = F.length(F.array_join(lines_ne, ""))
    ch_dist = F.length(F.array_join(F.array_distinct(lines_ne), ""))
    nz = n_words > 0
    rules = {
        "word_count": (n_words >= 50) & (n_words <= 100000),
        "mean_word_length": nz
        & (n_chars >= 3 * n_words)
        & (n_chars <= 10 * n_words),
        "symbol_ratio": nz & (30 * n_hash + 10 * n_ell3 <= 3 * n_words),
        "bullet_lines": 10 * n_bullet <= 9 * n_lines,
        "ellipsis_lines": 10 * n_ell_end <= 3 * n_lines,
        "alpha_words": nz & (5 * n_alpha >= 4 * n_words),
        "stopwords": n_sw >= 2,
        "dup_line_frac": 10 * (n_l - n_ld) <= 3 * n_l,
        "dup_line_char_frac": 5 * (ch_all - ch_dist) <= ch_all,
    }
    assert set(rules) == set(TXT.GOPHER_RULES)
    return staged, rules, ("__gq_w", "__gq_l")


def gopher_rules(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document Gopher quality rules (Rae et al. 2021 table A1):
    one boolean column per rule (True = pass) plus ``gopher_keep`` (AND
    of all) and ``failed_rules`` (comma-joined names of failed rules,
    '' when clean). Pure Catalyst, staged so the token/line arrays
    compute once (see :func:`_gopher_staged_rules`); same scale posture
    as :func:`c4_clean`."""
    staged, rules, tmp = _gopher_staged_rules(df, text_col)
    out = staged.withColumns({name: rules[name] for name in TXT.GOPHER_RULES})
    failed = F.concat_ws(
        ",",
        *[
            F.when(~F.col(name), F.lit(name))
            for name in TXT.GOPHER_RULES
        ],
    )
    keep = F.lit(True)
    for name in TXT.GOPHER_RULES:
        keep = keep & F.col(name)
    return out.withColumns(
        {"gopher_keep": keep, "failed_rules": failed}
    ).drop(*tmp)


def gopher_filter(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Rows passing every Gopher rule (the production gate form)."""
    staged, rules, tmp = _gopher_staged_rules(df, text_col)
    keep = F.lit(True)
    for name in TXT.GOPHER_RULES:
        keep = keep & rules[name]
    return staged.filter(keep).drop(*tmp)


def remove_boilerplate_lines(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_docs: int = 3,
) -> DataFrame:
    """Corpus-level boilerplate scrub (the RefinedWeb/CCNet line-dedup
    stage): a line whose normalized form (lowercased, space-collapsed)
    appears in >= ``min_docs`` DISTINCT documents is boilerplate —
    nav bars, cookie banners, footers — and is removed from EVERY
    document. Line order inside each document is preserved; documents
    left with no lines survive with empty text (compose a C4/Gopher
    gate after to drop them).

    Scale shape: explode to (doc_id, pos, line_key) — one shuffle on the
    line key for the distinct-doc count (map-side combined), one
    shuffle-join back, one groupBy(doc) rebuild ordered by pos. Nothing
    is collected; the boilerplate table is O(distinct lines over
    threshold), never materialized on the driver."""
    key = F.regexp_replace(F.lower(TXT._ws_trim(F.col("line"))), r"\s+", " ")
    lines = df.select(
        F.col(id_col).alias("__id"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("__pos", "line"),
    ).withColumn("__key", key)
    counts = (
        lines.filter(F.col("__key") != "")
        .groupBy("__key")
        .agg(F.countDistinct("__id").alias("__n"))
        .filter(F.col("__n") >= min_docs)
        .select("__key")
    )
    kept = lines.join(counts, "__key", "left_anti")
    rebuilt = kept.groupBy("__id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("__pos", "line"))
                ),
                lambda s: s["line"],
            ),
            "\n",
        ).alias("__clean")
    )
    # left join keeps docs whose every line was boilerplate (empty text)
    out = (
        df.join(
            rebuilt.withColumnRenamed("__id", id_col), id_col, "left"
        )
        .withColumn(text_col, F.coalesce(F.col("__clean"), F.lit("")))
        .drop("__clean")
    )
    return out


# Gopher repetition table, n-gram rules (Rae et al. 2021 table A1):
# {rule name: (n, threshold_pct, kind)}. Thresholds are the paper's;
# masses here are OCCURRENCE fractions (occurrences of the top n-gram /
# all n-gram occurrences; duplicate occurrences beyond first / all) —
# a documented variant of the paper's character fractions, keeping the
# whole gate integer-exact and one aggregation pass per n.
GOPHER_NGRAM_RULES: "dict[str, tuple[int, int, str]]" = {
    "top2g": (2, 20, "top"),
    "top3g": (3, 18, "top"),
    "top4g": (4, 16, "top"),
    "dup5g": (5, 15, "dup"),
    "dup6g": (6, 14, "dup"),
    "dup7g": (7, 13, "dup"),
    "dup8g": (8, 12, "dup"),
    "dup9g": (9, 11, "dup"),
    "dup10g": (10, 10, "dup"),
}


def gopher_ngram_rules(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """The nine Gopher n-gram repetition rules per document: top-{2,3,4}-
    gram mass and duplicate-{5..10}-gram mass against the paper's
    thresholds (integer cross-multiplied; True = pass), plus
    ``ngram_keep`` (AND of all). Documents too short for an n yield no
    n-grams and pass that rule.

    One long-form pass: the nine shingle lengths union into a single
    (doc, n, shingle) relation, one count shuffle, one per-(doc, n)
    aggregate, conditional aggregation back to one row per doc — the
    explode factor is ~9x the token count, but there is exactly ONE
    shuffle stage regardless of how many n values run.

    Shape note (r14, measured): a single-scan variant that builds all
    nine lengths in one projection (tagged array<struct<n, s>> per
    length, concatenated, one explode) was built and REFUTED at 0.25x —
    higher-order array expressions are interpreter-evaluated, so the
    struct-tagging + concat of nine shingle arrays per row costs far
    more than nine streamed scan branches over a page-cached source
    (scripts/ab_gopher_ngrams.py; identical outputs). The union stays."""
    long = None
    for name, (n, _t, _k) in GOPHER_NGRAM_RULES.items():
        part = df.select(
            F.col(id_col).alias("__id"),
            F.lit(n).alias("__n"),
            F.explode(
                TXT.word_shingles_expr(
                    F.lower(F.col(text_col)), n, distinct=False
                )
            ).alias("__s"),
        )
        long = part if long is None else long.unionByName(part)
    per = (
        long.groupBy("__id", "__n", "__s")
        .agg(F.count("*").alias("__c"))
        .groupBy("__id", "__n")
        .agg(
            F.sum("__c").alias("__total"),
            F.count("*").alias("__dist"),
            F.max("__c").alias("__top"),
        )
    )
    aggs = []
    for name, (n, t, kind) in GOPHER_NGRAM_RULES.items():
        mass = (
            F.col("__top")
            if kind == "top"
            else F.col("__total") - F.col("__dist")
        )
        ok = 100 * mass <= t * F.col("__total")
        aggs.append(
            F.coalesce(
                F.min(F.when(F.col("__n") == n, ok)), F.lit(True)
            ).alias(name)
        )
    rules = per.groupBy("__id").agg(*aggs)
    out = df.join(
        rules.withColumnRenamed("__id", id_col), id_col, "left"
    )
    keep = F.lit(True)
    for name in GOPHER_NGRAM_RULES:
        out = out.withColumn(name, F.coalesce(F.col(name), F.lit(True)))
        keep = keep & F.col(name)
    return out.withColumn("ngram_keep", keep)


# ---------------------------------------------------------------------------
# batched-inference embedding seam (mapInArrow hook for real encoders)
# ---------------------------------------------------------------------------
def embed_documents(
    df: DataFrame,
    encoder_fn,
    batch_size: int = 64,
    text_col: str = "text",
    out_col: str = "embedding",
) -> DataFrame:
    """The integration point where a REAL embedding model slots in where
    the hashing trick (``hashed_term_vectors``) sits today: appends
    ``out_col array<float>`` by calling ``encoder_fn(list[str]) ->
    (len(texts), d) float array`` over Arrow-batched text slices of at
    most ``batch_size`` documents.

    Contract for ``encoder_fn`` (the only thing a user writes):
    - picklable (module-level function or closure over picklable state;
      lazily construct the model INSIDE on first call so the weights
      load once per executor worker, not on the driver);
    - returns one row per input text, fixed dimension across calls —
      enforced here, because a ragged column would poison the parquet
      schema downstream.

    Everything else is the engine's problem and handled the way the hot
    kernels do it: Arrow batches in, a zero-copy ListArray out, no
    pandas, no per-row Python. ``batch_size`` re-slices Spark's Arrow
    batches so GPU/accelerator encoders see their preferred microbatch
    regardless of ``spark.sql.execution.arrow.maxRecordsPerBatch``. At
    cluster scale parallelism is the normal task fan-out — one encoder
    per core via the worker daemon; pin larger executors for big models.

    Sandbox note: no model weights ship in this repo (no external
    downloads); tests exercise the seam with a deterministic toy
    encoder. The hashing-trick path stays the no-model default.
    """
    import numpy as np
    import pyarrow as pa
    from pyspark.sql import types as T

    if batch_size <= 0:
        raise ValueError(f"batch_size must be positive, got {batch_size}")
    out_schema = T.StructType(
        df.schema.fields
        + [T.StructField(out_col, T.ArrayType(T.FloatType(), False), False)]
    )
    tcol = text_col
    in_names = [f.name for f in df.schema.fields]

    def run(batches):
        dim = None
        for rb in batches:
            n = rb.num_rows
            if n == 0:
                continue
            texts = rb.column(rb.schema.get_field_index(tcol)).to_pylist()
            chunks = []
            for lo in range(0, n, batch_size):
                E = np.asarray(
                    encoder_fn(texts[lo : lo + batch_size]), dtype=np.float32
                )
                if E.ndim != 2 or E.shape[0] != len(texts[lo : lo + batch_size]):
                    raise ValueError(
                        "encoder_fn must return one row per text, got "
                        f"shape {E.shape} for {len(texts[lo:lo + batch_size])} texts"
                    )
                if dim is None:
                    dim = E.shape[1]
                elif E.shape[1] != dim:
                    raise ValueError(
                        f"encoder_fn dimension drifted: {E.shape[1]} != {dim}"
                    )
                chunks.append(E)
            M = np.concatenate(chunks, axis=0)
            flat = pa.array(M.ravel(), type=pa.float32())
            offsets = pa.array(
                np.arange(0, (n + 1) * dim, dim, dtype=np.int32)
            )
            col = pa.ListArray.from_arrays(offsets, flat)
            yield pa.RecordBatch.from_arrays(
                [rb.column(rb.schema.get_field_index(n)) for n in in_names]
                + [col],
                names=in_names + [out_col],
            )

    return df.mapInArrow(run, schema=out_schema)


def dedup_paragraphs(
    df: DataFrame, text_col: str = "text", out_col: "str | None" = None
) -> DataFrame:
    """WITHIN-document duplicate-line removal: drop every line whose
    normalized form (lowercased, whitespace-collapsed) already appeared
    EARLIER in the same document, keeping the first occurrence and all
    blank lines (structure). The intra-doc complement of the corpus-level
    ``remove_boilerplate_lines`` — catches nav blocks and headers a
    template repeats inside one page, which cross-doc counting can miss
    at low doc frequency.

    Scale shape: pure array expressions inside the row — split,
    normalize (transform), first-occurrence filter via
    ``array_position(norm, norm[i]) == i`` — ZERO shuffles, whole-stage
    codegen, O(lines^2) per document on ~tens of lines. The SQL twin is
    the same program (DuckDB list_filter's 1-based lambda index vs
    Spark's 0-based is the only seam, handled by the +1)."""
    out_col = out_col or text_col
    lines = F.split(F.col(text_col), "\n")
    norm = F.transform(
        lines,
        lambda s: F.lower(F.trim(F.regexp_replace(s, r"\s+", " "))),
    )
    tmp = "__dp_norm"
    kept = F.filter(
        lines,
        lambda x, i: (F.element_at(F.col(tmp), i + 1) == "")
        | (
            F.array_position(F.col(tmp), F.element_at(F.col(tmp), i + 1))
            == i + 1
        ),
    )
    return (
        df.withColumn(tmp, norm)
        .withColumn(out_col, F.array_join(kept, "\n"))
        .drop(tmp)
    )
