from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from cuda_acceleratedvectordatabaseengine_spark.functions import text as TXT
from cuda_acceleratedvectordatabaseengine_spark.operators import textops
from cuda_acceleratedvectordatabaseengine_spark.sources import tables


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the cat and the dog went to the market", "en"),
        (1, "el perro y el gato fueron de la casa a la plaza", "es"),
        (2, "der hund und die katze sind nicht von der stadt", "de"),
        (3, "le chien et le chat sont dans la maison que voila", "fr"),
        (4, "这是一个中文句子用于测试语言识别功能", "zh"),
        (5, "", "und"),
        (6, "   ", "und"),
        (7, "xqz9 #$% !!!", "und"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_token_count(spark, docs):
    got = {
        r["doc_id"]: r["tc"]
        for r in docs.select("doc_id", TXT.token_count_expr("text").alias("tc")).collect()
    }
    assert got[0] == 9
    assert got[5] == 0 and got[6] == 0  # empty/whitespace -> 0, not 1
    assert got[7] == 3


def test_word_shingles(spark, docs):
    got = docs.filter(F.col("doc_id") == 0).select(
        TXT.word_shingles_expr("text", 3).alias("sh")
    ).collect()[0]["sh"]
    assert "the cat and" in got and "to the market" in got
    assert len(got) == 7  # 9 tokens -> 7 shingles, all distinct here
    empty = docs.filter(F.col("doc_id") == 5).select(
        TXT.word_shingles_expr("text", 3).alias("sh")
    ).collect()[0]["sh"]
    assert empty == []


def test_char_ngrams(spark, docs):
    got = docs.filter(F.col("doc_id") == 0).select(
        TXT.char_ngrams_expr("text", 3).alias("ng")
    ).collect()[0]["ng"]
    assert "the" in got and "cat" in got


def test_lang_id(spark, docs):
    got = {
        r["doc_id"]: r["lp"]
        for r in docs.select("doc_id", TXT.lang_id_expr("text").alias("lp")).collect()
    }
    assert got[0] == "en"
    assert got[1] == "es"
    assert got[2] == "de"
    assert got[3] == "fr"
    assert got[4] == "zh"
    assert got[5] == "und" and got[7] == "und"


def test_quality_score_bounds(spark, docs):
    rows = docs.select(TXT.quality_score_expr("text").alias("q")).collect()
    assert all(0.0 <= r["q"] <= 1.0 for r in rows)
    # symbol-soup doc scores below clean prose
    got = {
        r["doc_id"]: r["q"]
        for r in docs.select("doc_id", TXT.quality_score_expr("text").alias("q")).collect()
    }
    assert got[7] < got[0]
    assert got[5] == 0.0


def test_fingerprint_normalization(spark):
    df = spark.createDataFrame(
        [(0, "Hello  World"), (1, "hello world"), (2, " HELLO\tWORLD ")],
        "doc_id long, text string",
    )
    fps = [r["fp"] for r in df.select(TXT.doc_fingerprint_expr("text").alias("fp")).collect()]
    assert len(set(fps)) == 1


def test_analyze_documents_and_filter(spark, docs):
    out = textops.analyze_documents(docs)
    assert {"token_cnt", "quality_score", "lang_pred", "fingerprint", "content_hash"} <= set(
        out.columns
    )
    kept = textops.quality_filter(docs, min_score=0.01)
    ids = {r["doc_id"] for r in kept.select("doc_id").collect()}
    assert 5 not in ids and 6 not in ids  # empty docs filtered
    assert 0 in ids


def test_language_stats_shape(spark, docs):
    stats = textops.language_stats(docs).collect()
    langs = [r["lang_pred"] for r in stats]
    assert langs == sorted(langs)
    assert sum(r["cnt"] for r in stats) == 8


def test_train_val_test_split_deterministic(spark, sf_dir):
    from cuda_acceleratedvectordatabaseengine_spark.operators import textops
    from cuda_acceleratedvectordatabaseengine_spark.sources import tables

    docs = tables.load(spark, sf_dir, "documents")
    a = textops.train_val_test_split(docs).select("doc_id", "split")
    b = textops.train_val_test_split(docs.repartition(7)).select("doc_id", "split")
    # identical assignment regardless of partitioning/order
    assert a.subtract(b).count() == 0 and b.subtract(a).count() == 0
    frac = {
        r["split"]: r["n"]
        for r in a.groupBy("split").agg(F.count("*").alias("n")).collect()
    }
    n = sum(frac.values())
    assert frac.keys() == {"train", "val", "test"}
    assert 0.7 < frac["train"] / n < 0.9  # statistical, loose at small n
    # every doc gets exactly one split
    assert n == docs.count()


def test_split_weight_validation():
    import pytest as _pytest

    from cuda_acceleratedvectordatabaseengine_spark.operators import textops

    with _pytest.raises(ValueError):
        textops.split_column(weights=(0.5, 0.2), names=("a", "b", "c"))
    with _pytest.raises(ValueError):
        textops.split_column(weights=(0.5, 0.2), names=("a", "b"))


def test_vocabulary_min_df(spark):
    from cuda_acceleratedvectordatabaseengine_spark.operators import textops

    docs = spark.createDataFrame(
        [(0, "alpha beta beta"), (1, "alpha gamma"), (2, "")],
        "doc_id long, text string",
    )
    vocab = {r["token"]: (r["doc_freq"], r["total_cnt"])
             for r in textops.vocabulary(docs).collect()}
    assert vocab == {"alpha": (2, 2), "beta": (1, 2), "gamma": (1, 1)}
    v2 = {r["token"] for r in textops.vocabulary(docs, min_df=2).collect()}
    assert v2 == {"alpha"}


# -- hashing-trick vectors + sparse cosine ----------------------------------


def test_hashed_term_vectors_normalized(spark):
    from cuda_acceleratedvectordatabaseengine_spark.operators import textops

    df = spark.createDataFrame(
        [(0, "apple banana apple"), (1, "cherry")], "doc_id long, text string"
    )
    vec = textops.hashed_term_vectors(df, dim=64).collect()
    by_doc = {}
    for r in vec:
        by_doc.setdefault(r["doc_id"], []).append(r["w"])
    for doc, ws in by_doc.items():
        assert sum(w * w for w in ws) == pytest.approx(1.0)
    # doc 0: apple x2 + banana -> two dims (no collision at these tokens)
    assert sorted(len(v) for v in by_doc.values()) == [1, 2]


def test_sparse_cosine_identical_docs_score_one(spark):
    from cuda_acceleratedvectordatabaseengine_spark.operators import textops

    df = spark.createDataFrame(
        [
            (0, "alpha beta gamma"),
            (1, "alpha beta gamma"),
            (2, "delta epsilon zeta eta"),
        ],
        "doc_id long, text string",
    )
    vec = textops.hashed_term_vectors(df, dim=128)
    nn = {
        r["doc_id"]: (r["neighbor_id"], r["cos"])
        for r in textops.sparse_cosine_neighbors(vec, top_k=1).collect()
    }
    assert nn[0][0] == 1 and nn[0][1] == pytest.approx(1.0)
    assert nn[1][0] == 0 and nn[1][1] == pytest.approx(1.0)
    # doc 2 shares no tokens; any neighbor it has comes from hash
    # collisions only and scores far below 1
    if 2 in nn:
        assert nn[2][1] < 0.5


# -- BPE merge training -----------------------------------------------------


def test_train_bpe_matches_reference_and_paths_agree(spark):
    from cuda_acceleratedvectordatabaseengine_spark.operators import bpe

    rows = [
        (0, "low lower lowest low low"),
        (1, "new newer newest new lower"),
        (2, "low newer low"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    driver = bpe.train_bpe(df, num_merges=6)
    dist = bpe.train_bpe(df, num_merges=6, driver_threshold=0)
    assert driver == dist  # hybrid paths identical, including tie-breaks
    # words: low x5, lower x2, lowest x1, new x2, newer x2, newest x1
    # pair (l,o): 5+2+1 = 8; (o,w): 8; (n,e): 2+2+1 = 5 ...
    # tie (l,o) vs (o,w) at 8 -> lexicographic: ('l','o') first
    assert driver[0] == ("lo", 8)
    assert driver[1] == ("low", 8)  # ('lo','w') after first merge
    merged_syms = [m for m, _ in driver]
    assert len(merged_syms) == len(set(merged_syms))  # no repeated merge


def test_train_bpe_exhausts_gracefully(spark):
    from cuda_acceleratedvectordatabaseengine_spark.operators import bpe

    df = spark.createDataFrame([(0, "ab ab")], "doc_id long, text string")
    merges = bpe.train_bpe(df, num_merges=10)
    # only one pair exists; after merging it there is nothing left
    assert merges == [("ab", 2)]


def test_apply_bpe_compresses(spark):
    from cuda_acceleratedvectordatabaseengine_spark.operators import bpe

    rows = [(0, "low lower lowest low low"), (1, "new newer newest")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    merges = bpe.train_bpe(df, num_merges=8)
    out = {r["doc_id"]: r for r in bpe.apply_bpe(df, merges).collect()}
    # with zero merges, tokens == chars; with merges, strictly fewer
    base = {r["doc_id"]: r for r in bpe.apply_bpe(df, []).collect()}
    for d in out:
        assert base[d]["bpe_tokens"] == base[d]["chars"]
        assert out[d]["bpe_tokens"] < base[d]["bpe_tokens"]
        assert out[d]["chars_per_token"] > 1.0


def test_chunk_documents_covers_and_overlaps(spark):
    from cuda_acceleratedvectordatabaseengine_spark.operators import textops

    toks = [f"t{i}" for i in range(70)]
    rows = [(0, " ".join(toks)), (1, "a b c"), (2, " ".join(f"x{i}" for i in range(32)))]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = textops.chunk_documents(df, max_tokens=32, overlap=8).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for d in by_doc:
        by_doc[d].sort(key=lambda r: r["chunk_id"])
    # doc 0: n=70, stride=24 -> starts 0,24,48 (72<=48+8? no: 70>56 keep)
    c0 = by_doc[0]
    assert [r["start_token"] for r in c0] == [0, 24, 48]
    assert [r["n_tokens"] for r in c0] == [32, 32, 22]
    # full coverage: every token appears in some chunk at its offset
    covered = set()
    for r in c0:
        covered.update(range(r["start_token"], r["start_token"] + r["n_tokens"]))
    assert covered == set(range(70))
    # overlap contract: last 8 tokens of chunk i == first 8 of chunk i+1
    t0 = c0[0]["chunk_text"].split(" ")
    t1 = c0[1]["chunk_text"].split(" ")
    assert t0[-8:] == t1[:8]
    # short doc -> single chunk, no padding
    assert len(by_doc[1]) == 1 and by_doc[1][0]["n_tokens"] == 3
    assert by_doc[1][0]["chunk_text"] == "a b c"
    # exactly max_tokens -> one chunk (tail start 24 is contained: 32<=24+8)
    assert len(by_doc[2]) == 1


def test_chunk_documents_tail_containment_rule(spark):
    from cuda_acceleratedvectordatabaseengine_spark.operators import textops

    # n=26, stride=24: tail start 24 covers [24,26), contained in the
    # first window [0,32) (26 <= 24+overlap) -> dropped
    df = spark.createDataFrame(
        [(0, " ".join(f"t{i}" for i in range(26)))], "doc_id long, text string"
    )
    out = textops.chunk_documents(df, max_tokens=32, overlap=8).collect()
    assert len(out) == 1
    # n=33: tail start 24 covers [24,33), 33 > 32 -> kept
    df2 = spark.createDataFrame(
        [(0, " ".join(f"t{i}" for i in range(33)))], "doc_id long, text string"
    )
    out2 = textops.chunk_documents(df2, max_tokens=32, overlap=8).collect()
    assert [r["start_token"] for r in sorted(out2, key=lambda r: r["chunk_id"])] == [0, 24]


def test_chunk_documents_validates_params(spark):
    import pytest as _pytest

    from cuda_acceleratedvectordatabaseengine_spark.operators import textops

    df = spark.createDataFrame([(0, "a b")], "doc_id long, text string")
    with _pytest.raises(ValueError):
        textops.chunk_documents(df, max_tokens=0)
    with _pytest.raises(ValueError):
        textops.chunk_documents(df, max_tokens=8, overlap=8)
    # empty text yields no chunks rather than a [''] token chunk
    empty = spark.createDataFrame([(0, "   ")], "doc_id long, text string")
    assert textops.chunk_documents(empty).count() == 0


def test_chunk_documents_keeps_provenance_cols(spark):
    from cuda_acceleratedvectordatabaseengine_spark.operators import textops

    df = spark.createDataFrame(
        [(0, "a b c d", "web")], "doc_id long, text string, source string"
    )
    out = textops.chunk_documents(
        df, max_tokens=2, overlap=0, keep_cols=("source",)
    ).collect()
    assert all(r["source"] == "web" for r in out)
    assert len(out) == 2


# -- stupid-backoff bigram LM ------------------------------------------------


def test_bigram_logprob_self_scored_has_no_oov(spark):
    docs = spark.createDataFrame(
        [(0, "the cat sat on the mat"), (1, "the dog sat on the rug")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in textops.bigram_logprob(docs).collect()}
    assert set(rows) == {0, 1}
    for r in rows.values():
        assert r["n_bigrams"] == 5
        assert r["oov_rate"] == 0.0
        assert r["avg_logprob"] <= 0.0
        assert abs(r["perplexity"] - np.exp(-r["avg_logprob"])) < 1e-9


def test_bigram_logprob_matches_python_reference(spark):
    """Exact differential vs a transparent pure-Python stupid-backoff
    implementation on a held-out split."""
    corpus_rows = [
        (0, "the cat sat on the mat"),
        (2, "the dog ate the bone"),
        (4, "a cat and a dog"),
    ]
    target_rows = [
        (1, "the cat ate the bone"),   # mix of seen and unseen bigrams
        (3, "zebra quagga"),           # fully OOV
        (5, "single"),                 # < 2 tokens: drops out
    ]
    corpus = spark.createDataFrame(corpus_rows, "doc_id long, text string")
    target = spark.createDataFrame(target_rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r
        for r in textops.bigram_logprob(target, corpus=corpus).collect()
    }

    import collections
    import math

    uni = collections.Counter()
    big = collections.Counter()
    for _i, t in corpus_rows:
        tk = t.lower().split()
        uni.update(tk)
        big.update(zip(tk, tk[1:]))
    n_corpus = sum(uni.values())

    def score(text, alpha=0.4):
        tk = text.lower().split()
        logs, oov = [], 0
        for pair in zip(tk, tk[1:]):
            if pair in big:
                logs.append(math.log(big[pair] / uni[pair[0]]))
            else:
                oov += 1
                logs.append(
                    math.log(alpha * (uni.get(pair[1], 0.5) or 0.5) / n_corpus)
                )
        return len(logs), sum(logs) / len(logs), oov / len(logs)

    assert set(got) == {1, 3}
    for did, text in [(1, target_rows[0][1]), (3, target_rows[1][1])]:
        n, avg, oov = score(text)
        assert got[did]["n_bigrams"] == n
        assert abs(got[did]["avg_logprob"] - avg) < 1e-9, did
        assert abs(got[did]["oov_rate"] - oov) < 1e-9
    assert got[3]["oov_rate"] == 1.0


def test_bigram_logprob_ranks_fluent_above_garbled(spark):
    """Text drawn from the reference corpus's phrase distribution must
    outscore the same tokens with their order destroyed (reversed —
    deterministic; the driver's synthetic documents are word soup with no
    bigram structure, so this property needs a constructed corpus)."""
    phrases = [
        "the quick brown fox jumps over the lazy dog",
        "a stitch in time saves nine every single day",
        "the early bird catches the worm before sunrise",
    ]
    ref = spark.createDataFrame(
        [(i, phrases[i % 3]) for i in range(30)], "doc_id long, text string"
    )
    fluent = spark.createDataFrame(
        [(100 + i, phrases[i % 3]) for i in range(6)],
        "doc_id long, text string",
    )
    garbled = fluent.select(
        "doc_id",
        F.concat_ws(
            " ", F.reverse(F.split(F.lower(F.col("text")), r"\s+"))
        ).alias("text"),
    )
    f = textops.bigram_logprob(fluent, corpus=ref).agg(
        F.avg("avg_logprob")
    ).collect()[0][0]
    g = textops.bigram_logprob(garbled, corpus=ref).agg(
        F.avg("avg_logprob")
    ).collect()[0][0]
    assert f > g + 1.0, (f, g)  # decisive gap, not a noise margin


# -- bounded-memory heavy hitters --------------------------------------------


def _zipf_docs(spark, n_docs=60, seed=11):
    """Strongly separated head: token h{i} appears ~600/i times; a long
    tail of singletons pads the vocabulary."""
    rng = np.random.default_rng(seed)
    pool = []
    for i in range(1, 13):
        pool += [f"h{i:02d}"] * (600 // i)
    pool += [f"tail{j}" for j in range(1500)]
    rng.shuffle(pool)
    per = len(pool) // n_docs
    rows = [
        (d, " ".join(pool[d * per : (d + 1) * per])) for d in range(n_docs)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string").repartition(6)


def test_approx_vocab_bounds_and_topk(spark):
    docs = _zipf_docs(spark)
    exact = {
        r["token"]: r["c"]
        for r in docs.select(
            F.explode(F.split(F.lower("text"), r"\s+")).alias("token")
        )
        .groupBy("token")
        .agg(F.count("*").alias("c"))
        .collect()
    }
    n = sum(exact.values())
    cap = 256
    got = textops.approx_vocabulary_topk(docs, k=10, capacity=cap).collect()
    assert len(got) == 10
    for r in got:
        true = exact[r["token"]]
        assert r["est_count"] <= true
        assert r["est_count"] >= true - n / (cap + 1)
    # the separated head must be recovered exactly (top-10 by true count)
    want = sorted(exact, key=lambda t: (-exact[t], t))[:10]
    assert [r["token"] for r in got] == want


def test_approx_vocab_exact_when_capacity_covers_vocab(spark):
    docs = _zipf_docs(spark)
    big = textops.approx_vocabulary_topk(docs, k=12, capacity=100_000).collect()
    exact = (
        docs.select(F.explode(F.split(F.lower("text"), r"\s+")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("c"))
        .orderBy(F.col("c").desc(), "token")
        .limit(12)
        .collect()
    )
    assert [(r["token"], r["est_count"]) for r in big] == [
        (r["token"], r["c"]) for r in exact
    ]


def test_approx_vocab_validation(spark):
    docs = _zipf_docs(spark, n_docs=4)
    with pytest.raises(ValueError, match="k must be"):
        textops.approx_vocabulary_topk(docs, k=0)
    with pytest.raises(ValueError, match="capacity"):
        textops.approx_vocabulary_topk(docs, k=10, capacity=5)


# ---------------------------------------------------------------------------
# PII detection / redaction
# ---------------------------------------------------------------------------
def _pii_docs(spark):
    return spark.createDataFrame(
        [
            (1, "mail me at alice.smith+x@corp-mail.co.uk or bob@ex.io now"),
            (2, "server 192.168.0.1 and 10.0.255.254 but not 999.1.1.1"),
            (3, "ssn 123-45-6789 phone +44 (20) 7946-0958 end"),
            (4, "nothing sensitive here at all"),
            (5, "alice@ex.io twice alice@ex.io and ip 8.8.8.8"),
        ],
        "doc_id long, text string",
    )


def test_pii_stats_counts_docs_and_hits(spark):
    rows = {
        r["pii_class"]: (r["n_docs"], r["n_hits"])
        for r in textops.pii_stats(_pii_docs(spark)).collect()
    }
    assert rows["email"] == (2, 4)
    # 999.1.1.1 has an out-of-range octet and must NOT count
    assert rows["ipv4"] == (2, 3)
    assert rows["ssn"] == (1, 1)
    assert rows["phone"] == (1, 1)


def test_pii_redact_replaces_and_counts(spark):
    got = {
        r["doc_id"]: r for r in textops.pii_redact(_pii_docs(spark)).collect()
    }
    assert (
        got[1]["text"] == "mail me at <EMAIL> or <EMAIL> now"
        and got[1]["n_pii"] == 2
    )
    assert got[2]["text"] == "server <IP> and <IP> but not 999.1.1.1"
    assert got[3]["text"] == "ssn <SSN> phone <PHONE> end"
    assert got[4]["text"] == "nothing sensitive here at all"
    assert got[4]["n_pii"] == 0
    assert got[5]["n_pii"] == 3
    # class selection: only emails scrubbed, IP left alone
    only_email = {
        r["doc_id"]: r["text"]
        for r in textops.pii_redact(
            _pii_docs(spark), classes=("email",)
        ).collect()
    }
    assert only_email[5] == "<EMAIL> twice <EMAIL> and ip 8.8.8.8"


def test_pii_redact_idempotent_and_clean(spark):
    """Property batch over randomized PII-laced docs: redaction is
    idempotent (tokens never re-match), a redacted corpus audits clean
    (pii_stats all zero), and n_pii of the second pass is 0."""
    import numpy as np

    rng = np.random.default_rng(17)
    words = [f"w{i}" for i in range(50)]
    pii_bits = [
        lambda r: f"u{r.integers(1, 99)}@ex{r.integers(1, 9)}.org",
        lambda r: f"10.{r.integers(0, 256)}.{r.integers(0, 256)}.{r.integers(0, 100)}",
        lambda r: f"{r.integers(100, 999)}-{r.integers(10, 99)}-{r.integers(1000, 9999)}",
        lambda r: f"+{r.integers(1, 99)} ({r.integers(100, 999)}) {r.integers(100, 999)}-{r.integers(1000, 9999)}",
    ]
    rows = []
    for i in range(120):
        parts = list(rng.choice(words, size=10))
        for b in pii_bits:
            if rng.random() < 0.5:
                parts.insert(int(rng.integers(0, len(parts))), b(rng))
        rows.append((i, " ".join(parts)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    once = textops.pii_redact(docs)
    twice = textops.pii_redact(once.drop("n_pii"))
    a = {r["doc_id"]: r["text"] for r in once.collect()}
    b = {r["doc_id"]: (r["text"], r["n_pii"]) for r in twice.collect()}
    for i in a:
        assert b[i][0] == a[i]  # idempotent
        assert b[i][1] == 0  # nothing left to find
    audit = textops.pii_stats(once.drop("n_pii"))
    assert all(
        r["n_docs"] == 0 and r["n_hits"] == 0 for r in audit.collect()
    )


def test_html_extract_strips_all_tags_property(spark):
    """Property batch over randomized entity-free HTML: the extracted
    text contains no '<' at all (every tag consumed), and the visible
    words survive in order."""
    import numpy as np

    from cuda_acceleratedvectordatabaseengine_spark.sources import (
        documents as DS,
    )

    rng = np.random.default_rng(23)
    words = [f"tok{i}" for i in range(40)]
    tags = ["p", "div", "span", "h2", "li", "em"]
    rows = []
    for i in range(80):
        out = ["<html><body>"]
        visible = []
        for _ in range(int(rng.integers(2, 6))):
            t = tags[int(rng.integers(0, len(tags)))]
            ws = list(rng.choice(words, size=int(rng.integers(1, 5))))
            visible += ws
            out.append(f"<{t} class='c{rng.integers(0, 9)}'>"
                       + " ".join(ws) + f"</{t}>")
        if rng.random() < 0.5:
            out.append("<script>var hidden = 1;</script>")
        if rng.random() < 0.5:
            out.append("<!-- note -->")
        out.append("</body></html>")
        rows.append((i, "".join(out), " ".join(visible)))
    docs = spark.createDataFrame(rows, "doc_id long, text string, want string")
    got = {
        r["doc_id"]: r["text"]
        for r in DS.html_to_text(docs.select("doc_id", "text")).collect()
    }
    for i, _html, want in rows:
        assert "<" not in got[i]
        assert "hidden" not in got[i] and "note" not in got[i]
        assert got[i] == want


def _toy_encoder(texts):
    """Deterministic module-level toy encoder for the embed_documents
    seam test: dim-4 features of the text itself (length, tokens, vowel
    count, first-char code) — picklable, model-free, exact to recompute."""
    out = []
    for t in texts:
        s = t or ""
        out.append([
            float(len(s)),
            float(len(s.split())),
            float(sum(s.lower().count(v) for v in "aeiou")),
            float(ord(s[0]) if s else -1.0),
        ])
    return np.asarray(out, dtype=np.float32)


def test_embed_documents_seam(spark, docs):
    got = {
        r["doc_id"]: (r["embedding"], r["lang"])
        for r in textops.embed_documents(
            docs, _toy_encoder, batch_size=2
        ).collect()
    }
    src = {r["doc_id"]: (r["text"], r["lang"]) for r in docs.collect()}
    assert set(got) == set(src)
    for did, (emb, lang) in got.items():
        want = _toy_encoder([src[did][0]])[0]
        assert np.allclose(np.asarray(emb, dtype=np.float32), want)
        assert lang == src[did][1]  # passthrough columns survive


def test_embed_documents_feeds_knn(spark, docs):
    """The seam's output is directly consumable by the vector surface:
    embed -> exact kNN runs end-to-end on the toy encoder."""
    from cuda_acceleratedvectordatabaseengine_spark.functions import (
        distance as D,
    )
    from cuda_acceleratedvectordatabaseengine_spark.operators import knn

    emb = textops.embed_documents(docs, _toy_encoder).select(
        F.col("doc_id").alias("id"), F.col("embedding").alias("vector")
    )
    q = emb.limit(2).select(
        F.col("id").alias("query_id"), F.col("vector").alias("qvec")
    )
    res = knn.exact_knn(emb, q, k=3, metric=D.L2).collect()
    by_q = {}
    for r in res:
        by_q.setdefault(r["query_id"], []).append(r)
    for qid, rows in by_q.items():
        assert rows[0]["id"] == qid and abs(rows[0]["distance"]) < 1e-9


def test_embed_documents_validates_encoder(spark, docs):
    def ragged(texts):
        return np.zeros((len(texts) + 1, 4), dtype=np.float32)

    with pytest.raises(Exception, match="one row per text"):
        textops.embed_documents(docs, ragged).collect()
    with pytest.raises(ValueError, match="batch_size"):
        textops.embed_documents(docs, _toy_encoder, batch_size=0)


def test_dense_hashed_vectors_matches_sparse(spark, docs):
    """dense_hashed_vectors is exactly hashed_term_vectors densified:
    every (id, dim) weight lands at vector[dim], absent dims are 0.0,
    and the output dtype is the index surface's array<float>."""
    sparse = {
        (r["doc_id"], r["dim"]): r["w"]
        for r in textops.hashed_term_vectors(docs, dim=16).collect()
    }
    out = textops.dense_hashed_vectors(docs, dim=16).collect()
    assert out and out[0].asDict()["vector"] is not None
    schema = {f.name: f.dataType.simpleString() for f in
              textops.dense_hashed_vectors(docs, dim=16).schema.fields}
    assert schema["vector"] == "array<float>"
    for r in out:
        v = r["vector"]
        assert len(v) == 16
        for d in range(16):
            want = sparse.get((r["doc_id"], d), 0.0)
            assert abs(v[d] - want) < 1e-6
    # every doc with tokens appears exactly once
    ids = [r["doc_id"] for r in out]
    assert len(ids) == len(set(ids)) == len({k[0] for k in sparse})


# ---------------------------------------------------------------------------
# sentence-aligned chunking (r7)
# ---------------------------------------------------------------------------
def _py_sentences(text):
    import re

    t = re.sub(r"\s+", " ", text).strip()
    for b in (". ", "! ", "? "):
        t = t.replace(b, b.strip() + "\x01")
    return [s for s in t.split("\x01") if s.strip()]


def _py_sentence_chunks(text, max_tokens):
    sents = _py_sentences(text)
    out = {}
    prefix = 0
    for s in sents:
        tc = len(s.split())
        cid = prefix // max_tokens
        n_s, n_t, txt = out.get(cid, (0, 0, []))
        out[cid] = (n_s + 1, n_t + tc, txt + [s])
        prefix += tc
    return {
        cid: (ns, nt, " ".join(txt)) for cid, (ns, nt, txt) in out.items()
    }


def test_sentence_chunks_matches_python_reference(spark, docs):
    got = {}
    for r in textops.sentence_chunks(docs, max_tokens=16).collect():
        got[(r["doc_id"], r["chunk_id"])] = (
            r["n_sentences"], r["n_tokens"], r["chunk_text"]
        )
    src = {r["doc_id"]: r["text"] for r in docs.collect()}
    want = {}
    for did, text in src.items():
        for cid, v in _py_sentence_chunks(text, 16).items():
            want[(did, cid)] = v
    assert got == want and got


def test_sentence_chunks_never_split_sentences(spark):
    text = (
        "Alpha beta gamma. Delta epsilon zeta eta! Theta iota? "
        "Kappa lambda mu nu xi. Omicron pi."
    )
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    rows = textops.sentence_chunks(df, max_tokens=5).orderBy(
        "chunk_id"
    ).collect()
    # every sentence appears whole in exactly one chunk
    joined = " ".join(r["chunk_text"] for r in rows)
    assert joined == text
    for s in _py_sentences(text):
        assert sum(r["chunk_text"].count(s) for r in rows) == 1
    # overshoot bound: a chunk exceeds max_tokens by at most its final
    # sentence (equivalently: the chunk minus its last sentence is < max)
    for r in rows:
        sents = _py_sentences(r["chunk_text"])
        head = sum(len(s.split()) for s in sents[:-1])
        assert head < 5


def test_sentence_chunks_edge_cases(spark):
    df = spark.createDataFrame(
        [
            (1, ""),                      # empty -> no rows
            (2, "   "),                   # whitespace only -> no rows
            (3, "No terminal punctuation at all"),  # one sentence
            (4, "One. Two. "),            # trailing boundary, no empty sent
            (5, "A!  B?   C."),           # multi-space boundaries
        ],
        "doc_id long, text string",
    )
    rows = textops.sentence_chunks(df, max_tokens=64).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert 1 not in by_doc and 2 not in by_doc
    assert by_doc[3][0]["chunk_text"] == "No terminal punctuation at all"
    assert by_doc[3][0]["n_sentences"] == 1
    assert by_doc[4][0]["n_sentences"] == 2
    assert by_doc[4][0]["chunk_text"] == "One. Two."
    assert by_doc[5][0]["n_sentences"] == 3
    assert by_doc[5][0]["chunk_text"] == "A! B? C."
    with pytest.raises(ValueError, match="max_tokens"):
        textops.sentence_chunks(df, max_tokens=0)


def test_dedup_paragraphs_hand_cases(spark):
    cases = [
        # (input, expected)
        ("Nav Home\nBody one.\nnav  home\nBody two.\nNAV HOME",
         "Nav Home\nBody one.\nBody two."),
        # blanks all kept; repeated A/B dropped -> [A,'',B,'','']
        ("A\n\nB\n\nA\n\nB", "A\n\nB\n\n"),
        ("only line", "only line"),
        ("", ""),
    ]
    df = spark.createDataFrame(
        [(i, t) for i, (t, _) in enumerate(cases)],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r["text"]
        for r in textops.dedup_paragraphs(df).collect()
    }
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, (i, got[i])


def test_dedup_paragraphs_plan_has_no_shuffle(spark):
    df = spark.createDataFrame([(1, "a\nb\na")], "doc_id long, text string")
    plan = (
        textops.dedup_paragraphs(df)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan


def test_dense_hashed_vectors_fused_equals_case(spark):
    """The fused densify is value-identical to a SUM(CASE dim=i) pivot of
    hashed_term_vectors' sparse weights (exact float equality, including
    docs with empty/whitespace text and colliding hash buckets)."""
    docs = spark.createDataFrame(
        [(1, "alpha beta alpha gamma"), (2, "beta beta"), (3, ""),
         (4, "  "), (5, "one two three four five six seven eight")],
        "doc_id long, text string",
    )
    a = {r["doc_id"]: tuple(r["vector"])
         for r in textops.dense_hashed_vectors(docs, dim=16).collect()}
    coo = textops.hashed_term_vectors(docs, dim=16)
    # 8 distinct tokens over 16 buckets: at least two share a bucket
    assert coo.filter(F.col("doc_id") == 5).count() < 8
    case = coo.groupBy("doc_id").agg(*[
        F.coalesce(F.sum(F.when(F.col("dim") == i, F.col("w"))), F.lit(0.0))
        .alias(f"_c{i}")
        for i in range(16)
    ]).select(
        "doc_id",
        F.array(*[F.col(f"_c{i}") for i in range(16)])
        .cast("array<float>").alias("vector"),
    )
    b = {r["doc_id"]: tuple(r["vector"]) for r in case.collect()}
    assert a == b
    assert set(a) == {1, 2, 5}  # token-less docs yield no vector (both forms)
    assert all(len(v) == 16 for v in a.values())
