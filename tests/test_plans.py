"""Physical-plan assertions: the catalog queries must not merely be correct,
they must produce the plans that survive a 100x scale-up — filters reaching
the parquet scan, pruned read schemas, broadcast joins for small dims,
partial (map-side) aggregation, and whole-stage codegen around the
relational core. If a refactor regresses one of these, correctness tests
stay green but the 100 TB story silently dies — these tests are the guard."""

from __future__ import annotations

import io
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as F

from cuda_acceleratedvectordatabaseengine_spark.plans import queries as Q
from cuda_acceleratedvectordatabaseengine_spark.sources import tables


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_q1_filter_pushdown_and_column_pruning(spark, sf_dir):
    plan = plan_of(Q.get("q1_scan_filter").spark(spark, sf_dir))
    # the quantity predicate must reach the parquet reader
    assert "PushedFilters" in plan
    assert "l_quantity" in plan.split("PushedFilters")[1].splitlines()[0]
    # projection pruning: the 11-column lineitem scan must read only 3
    read_schema = plan.split("ReadSchema")[1].splitlines()[0]
    assert "l_orderkey" in read_schema and "l_quantity" in read_schema
    assert "l_extendedprice" not in read_schema and "l_shipdate" not in read_schema


def test_q9_partial_aggregation_and_codegen(spark, sf_dir):
    df = Q.get("q9_agg_pricing").spark(spark, sf_dir)
    plan = plan_of(df)
    # map-side combine: a partial HashAggregate must run before the exchange
    assert plan.count("HashAggregate") >= 2
    assert "partial_sum" in plan
    # whole-stage codegen is only visible on the AQE *final* plan, so
    # execute first, then check the operator codegen-id annotations
    df.collect()
    final_plan = plan_of(df)
    assert "isFinalPlan=true" in final_plan
    assert "codegen id" in final_plan


def test_q10_broadcasts_small_dimension(spark, sf_dir):
    plan = plan_of(Q.get("q10_join_metadata").spark(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    # nation (25 rows) is the broadcast side; no shuffle-sort-merge join
    assert "SortMergeJoin" not in plan


def test_q12_no_python_in_plan(spark, sf_dir):
    """The events rollup is pure JVM: no Python/Arrow eval nodes."""
    df = Q.get("q12_events_hourly").spark(spark, sf_dir)
    plan = plan_of(df)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    df.collect()
    assert "codegen id" in plan_of(df)


def test_knn_scan_reads_only_needed_columns(spark, sf_dir):
    """The exact-kNN corpus scan must prune to (vec_id, embedding) — the
    label column stays unread."""
    plan = plan_of(Q.get("q2_knn_l2").spark(spark, sf_dir))
    read_schemas = [
        seg.splitlines()[0] for seg in plan.split("ReadSchema")[1:]
    ]
    assert read_schemas, "no parquet scans found"
    assert all("label" not in rs for rs in read_schemas)


def test_minhash_band_join_is_equi_join(spark, sf_dir):
    """The LSH candidate join must be a hash-partitioned equi-join on the
    band key (scales as sum-of-bucket^2), never a nested-loop cross join."""
    docs = tables.load(spark, sf_dir, "documents")
    from cuda_acceleratedvectordatabaseengine_spark.operators import dedup

    plan = plan_of(dedup.minhash_dedup_pairs(docs, threshold=0.3))
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan


def test_lsh_bucket_exchange_excludes_vector(spark, sf_dir):
    """The LSH bucket table (replicated x n_tables, shuffled for the
    candidate self-join) must carry ONLY (vec_id, table_id, bucket) — the
    vector column shuffling through that exchange would be an n_tables-fold
    amplification of the widest column at 100 TB."""
    from cuda_acceleratedvectordatabaseengine_spark.operators import ann

    emb = tables.load(spark, sf_dir, "embeddings")
    keyed = ann.lsh_bucket_keys(emb, n_planes=4, n_tables=2)
    assert keyed.columns == ["vec_id", "table_id", "bucket"]
    # and the candidate join plan over it must contain no vector exchange:
    # every Exchange in the plan hashes only key/id columns
    a = keyed.select("table_id", "bucket", F.col("vec_id").alias("vec_id_a"))
    b = keyed.select("table_id", "bucket", F.col("vec_id").alias("vec_id_b"))
    plan = plan_of(a.join(b, ["table_id", "bucket"]))
    for seg in plan.split("Exchange hashpartitioning")[1:]:
        assert "vector" not in seg.splitlines()[0]
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan


def test_ivf_probe_prunes_partitions(spark, sf_dir, tmp_path):
    """nprobe pruning must reach the parquet source as partition filters —
    the scan's partition count drops below nlist."""
    from cuda_acceleratedvectordatabaseengine_spark.operators import ivf, kmeans

    emb = tables.load(spark, sf_dir, "embeddings")
    corpus = emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vector"))
    init = kmeans.label_centroids(emb)
    idx = ivf.IVFIndex.build(
        corpus, str(tmp_path), "plan_probe", nlist=init.shape[0],
        init=init, train=False,
    )
    queries = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    plan = plan_of(idx.search(queries, k=5, nprobe=2))
    assert "PartitionFilters" in plan
    pf = plan.split("PartitionFilters")[1].splitlines()[0]
    assert "list_id" in pf


def test_rerank_joinback_scans_only_probed_lists(spark, sf_dir, tmp_path):
    """T7 rerank must join the shortlist back against the PRUNED probe scan,
    not the full corpus: at nprobe < nlist every parquet scan in the rerank
    plan carries non-empty list_id partition filters. An unpruned join-back
    pays a full-corpus read per reranked search — invisible at sf0.1, a
    nlist/nprobe-fold I/O tax at 100 TB."""
    from cuda_acceleratedvectordatabaseengine_spark.operators import ivf, kmeans, pq

    emb = tables.load(spark, sf_dir, "embeddings")
    corpus = emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vector"))
    init = kmeans.label_centroids(emb)
    idx = ivf.IVFIndex.build(
        corpus, str(tmp_path), "plan_rerank", nlist=init.shape[0],
        init=init, train=False,
    )
    queries = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )

    def assert_all_scans_pruned(df):
        plan = plan_of(df)
        legs = plan.split("PartitionFilters")[1:]
        assert legs, "no partitioned parquet scans in the rerank plan"
        for leg in legs:
            head = leg.splitlines()[0]
            assert "list_id" in head, f"unpruned scan in rerank plan: {head}"

    assert_all_scans_pruned(
        idx.search(queries, k=3, nprobe=2, rerank_exact=True, rerank_k=5)
    )
    # the PQ rerank join-back must prune the raw-vector scan the same way
    pq_idx = pq.IVFPQIndex.build_from_ivf(idx, m=4)
    assert_all_scans_pruned(
        pq_idx.search(queries, k=3, nprobe=2, rerank_exact=True, rerank_k=5)
    )


def test_chained_epoch_scan_prunes_both_legs(spark, sf_dir, tmp_path):
    """A delta-epoch chain reads as a UNION of parquet scans; nprobe
    pruning must reach EVERY leg as partition filters — a chain that scans
    a leg fully would erase the incremental-add I/O win. Same contract for
    the chain-union PQ codes relation (delta-encoded epochs)."""
    from cuda_acceleratedvectordatabaseengine_spark.operators import ivf, kmeans, pq

    emb = tables.load(spark, sf_dir, "embeddings")
    corpus = emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vector"))
    init = kmeans.label_centroids(emb)
    base = ivf.IVFIndex.build(
        corpus.filter(F.col("id") % 2 == 0), str(tmp_path), "plan_chain",
        nlist=init.shape[0], init=init, train=False,
    )
    idx = base.add(corpus.filter(F.col("id") % 2 == 1))

    def assert_two_pruned_legs(df):
        plan = plan_of(df)
        legs = plan.split("PartitionFilters")[1:]
        assert len(legs) == 2, f"expected 2 pruned scan legs, plan:\n{plan}"
        for leg in legs:
            assert "list_id" in leg.splitlines()[0]

    assert_two_pruned_legs(idx.vectors.filter(F.col("list_id").isin(0, 1)))
    # PQ codes over the same chain: base covers itself (scope=chain), the
    # delta carries only its own codes (scope=delta) — two scan legs, both
    # partition-pruned
    pq.IVFPQIndex.build_from_ivf(base, m=4)
    pq_idx = pq.IVFPQIndex.encode_delta(idx)
    assert_two_pruned_legs(pq_idx.codes.filter(F.col("list_id").isin(0, 1)))
    # a tombstone epoch's anti-join must NOT break pruning on the vector legs
    deleted = idx.delete([0, 2, 4])
    plan = plan_of(deleted.vectors.filter(F.col("list_id").isin(0, 1)))
    vector_legs = [
        seg.splitlines()[0]
        for seg in plan.split("PartitionFilters")[1:]
        if "list_id" in seg.splitlines()[0]
    ]
    assert len(vector_legs) == 2, f"pruning lost through tombstone fold:\n{plan}"


def test_pack_sequences_has_no_global_window(spark, sf_dir):
    """The packing prefix-scan must stay parallel: the only unpartitioned
    window allowed is the G-row bucket-offset cumsum, never one over the
    full document stream (which would serialize 100 TB onto one task)."""
    from cuda_acceleratedvectordatabaseengine_spark.operators import packing

    docs = tables.load(spark, sf_dir, "documents")
    plan = plan_of(packing.pack_sequences(docs, budget=256, num_buckets=8))
    # every window over the document stream (ordered by doc_id) must be
    # PARTITIONED by the bucket key; only the G-row offset cumsum (over the
    # bucket aggregate, no doc_id) may be unpartitioned
    specs = [
        "windowspecdefinition" + seg.split(")")[0]
        for seg in plan.split("windowspecdefinition(")[1:]
    ]
    assert specs, "expected window nodes in the packing plan"
    doc_specs = [s for s in specs if "doc_id" in s]
    assert doc_specs, f"expected a doc-ordered window, got {specs}"
    assert all("_bucket" in s for s in doc_specs), (
        f"doc-ordered window not bucket-partitioned: {doc_specs}"
    )


def test_domain_mix_broadcasts_plan(spark, sf_dir):
    """The G-row fraction plan joins back via broadcast — never a
    shuffle of the corpus on group_col."""
    from cuda_acceleratedvectordatabaseengine_spark.operators import sampling

    docs = tables.load(spark, sf_dir, "documents")
    plan = plan_of(sampling.domain_mix_sample(docs, {"src0": 2.0, "src1": 1.0}))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_span_stats_join_is_equi_join(spark, sf_dir):
    """Span-occurrence join-back must be a hash/SMJ equi-join on the span
    key — a nested-loop here is quadratic in corpus windows."""
    from cuda_acceleratedvectordatabaseengine_spark.operators import dedup

    docs = tables.load(spark, sf_dir, "documents")
    plan = plan_of(dedup.duplicated_span_stats(docs, n=8))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_unigram_logprob_partial_aggregation(spark, sf_dir):
    """Vocabulary count and per-doc aggregation both map-side combine."""
    from cuda_acceleratedvectordatabaseengine_spark.operators import textops

    docs = tables.load(spark, sf_dir, "documents")
    plan = plan_of(textops.unigram_logprob(docs))
    assert plan.count("HashAggregate") >= 2
    assert "BroadcastNestedLoopJoin" not in plan or "corpus_tokens" in plan


def test_hashing_knn_join_is_equi_join(spark, sf_dir):
    """The inverted-index similarity join must meet on the dim key — a
    nested-loop over sparse vectors is all-pairs in disguise."""
    from cuda_acceleratedvectordatabaseengine_spark.operators import textops

    docs = tables.load(spark, sf_dir, "documents").limit(100)
    vec = textops.hashed_term_vectors(docs, dim=64)
    plan = plan_of(textops.sparse_cosine_neighbors(vec, top_k=1))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_curriculum_approx_path_has_no_window(spark, sf_dir):
    """The scale path must not sort globally: thresholds come from one
    percentile sketch, binning is a broadcast + projection."""
    from cuda_acceleratedvectordatabaseengine_spark.operators import textops

    docs = tables.load(spark, sf_dir, "documents")
    plan = plan_of(textops.curriculum_bins(docs, 4, exact=False))
    assert "windowspecdefinition" not in plan
    assert "BroadcastExchange" in plan  # the G-row threshold broadcast


def test_token_budget_mix_broadcasts_plan(spark, sf_dir):
    from cuda_acceleratedvectordatabaseengine_spark.operators import sampling

    docs = tables.load(spark, sf_dir, "documents")
    plan = plan_of(sampling.token_budget_mix(docs, 2000, {"src0": 1.0}))
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan


def test_chunk_documents_is_shuffle_free(spark, sf_dir):
    """Chunking is a projection + generate — any Exchange here would shuffle
    the full corpus text for no reason at 100 TB."""
    from cuda_acceleratedvectordatabaseengine_spark.operators import textops

    docs = tables.load(spark, sf_dir, "documents")
    plan = plan_of(textops.chunk_documents(docs))
    body = plan.split("AdaptiveSparkPlan")[-1]
    assert "Exchange" not in body.replace("RoundRobin", "")  # respread only
    assert "Generate" in plan  # the posexplode


def test_bq_probe_prunes_partitions(spark, sf_dir, tmp_path):
    """The Hamming scan must read only the probed lists' code partitions."""
    from cuda_acceleratedvectordatabaseengine_spark.operators import bq, ivf, kmeans

    emb = tables.load(spark, sf_dir, "embeddings")
    corpus = emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vector"))
    init = kmeans.label_centroids(emb)
    idx = ivf.IVFIndex.build(
        corpus, str(tmp_path), "plan_bq", nlist=init.shape[0],
        init=init, train=False,
    )
    bq_idx = bq.IVFBQIndex.build_from_ivf(idx)
    queries = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    plan = plan_of(bq_idx.search(queries, k=5, nprobe=2))
    assert "PartitionFilters" in plan
    pf = plan.split("PartitionFilters")[1].splitlines()[0]
    assert "list_id" in pf


def test_cluster_near_dup_join_is_equi_join(spark, sf_dir):
    """The cluster-bucket candidate join must meet on list_id — a
    nested-loop here is the quadratic scan the blocker exists to avoid."""
    from cuda_acceleratedvectordatabaseengine_spark.operators import ann, kmeans

    emb = tables.load(spark, sf_dir, "embeddings")
    C = kmeans.label_centroids(emb)
    plan = plan_of(ann.cluster_near_dup_pairs(emb, C, tau=0.5, assign_m=2))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_classifier_scoring_is_pure_jvm(spark, sf_dir):
    """The learned quality gate's SCORING path must stay inside Tungsten:
    no Python evaluation node of any kind in the plan (training may use
    mapInArrow; the gate that runs on 100 TB must not)."""
    import numpy as np

    from cuda_acceleratedvectordatabaseengine_spark.operators import (
        classifier as C,
    )

    docs = tables.load(spark, sf_dir, "documents")
    w = np.array([0.1, 1.0, -2.0, 0.5, 0.3, 0.2])
    plan = plan_of(C.score_documents(docs, w))
    assert "ArrowEvalPython" not in plan
    assert "BatchEvalPython" not in plan
    assert "MapInArrow" not in plan and "MapInPandas" not in plan


def test_bigram_lm_no_cartesian_no_python(spark, sf_dir):
    """Bigram LM scoring: token-key equi-joins only — the single cross
    join is the 1-row corpus-total broadcast; no nested-loop join over
    data-sized relations, no Python eval."""
    from cuda_acceleratedvectordatabaseengine_spark.operators import textops

    docs = tables.load(spark, sf_dir, "documents")
    ref = docs.filter(F.col("doc_id") % 2 == 0)
    tgt = docs.filter(F.col("doc_id") % 2 == 1)
    plan = plan_of(textops.bigram_logprob(tgt, corpus=ref))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    # the only BroadcastNestedLoopJoin allowed is the 1-row total
    # cross-join; every token join must be hash-based (each node appears
    # twice in "formatted" output — tree line + detail block — so count
    # distinct node ids)
    import re

    nlj_nodes = set(re.findall(r"\((\d+)\) BroadcastNestedLoopJoin", plan))
    assert len(nlj_nodes) <= 1, plan
    assert "CartesianProduct" not in plan


def test_maxsim_exact_stays_jvm_with_single_broadcast_cross(spark, sf_dir):
    """Exact MaxSim: the one BroadcastNestedLoopJoin is the intended
    bounded-query-batch cross join; similarities and both aggregations
    stay inside Tungsten (no Python eval of any kind)."""
    from cuda_acceleratedvectordatabaseengine_spark.operators import hybrid

    emb = tables.load(spark, sf_dir, "embeddings")
    grp = F.expr("CAST(vec_id DIV 4 AS BIGINT)")
    qv = emb.filter(F.col("vec_id") < 20).select(
        grp.alias("query_id"),
        F.col("vec_id").alias("qvec_id"),
        F.col("embedding").alias("vec"),
    )
    dv = emb.filter(F.col("vec_id") >= 20).select(
        grp.alias("id"), F.col("embedding").alias("vec")
    )
    plan = plan_of(hybrid.maxsim_topk(dv, qv, k=10))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "MapInArrow" not in plan and "MapInPandas" not in plan
    import re

    nlj = set(re.findall(r"\((\d+)\) BroadcastNestedLoopJoin", plan))
    assert len(nlj) == 1, plan  # exactly the query-batch cross join
    # partial max before the shuffle: the chunk-max agg is map-side combined
    assert "partial_max" in plan or "partial max" in plan.lower(), plan


def test_maxsim_blocked_has_no_cartesian(spark, sf_dir):
    """Blocked MaxSim: candidate generation and chunk expansion are
    hash equi-joins; the ONLY nested-loop join is the bounded query-side
    broadcast onto candidates — the corpus itself never cross-joins.
    Assignment is the bulk mapInArrow kernel (allowed; it is the same
    assign the IVF build uses)."""
    import numpy as np

    from cuda_acceleratedvectordatabaseengine_spark.operators import hybrid

    emb = tables.load(spark, sf_dir, "embeddings")
    grp = F.expr("CAST(vec_id DIV 4 AS BIGINT)")
    qv = emb.filter(F.col("vec_id") < 20).select(
        grp.alias("query_id"),
        F.col("vec_id").alias("qvec_id"),
        F.col("embedding").alias("vec"),
    )
    dv = emb.filter(F.col("vec_id") >= 20).select(
        grp.alias("id"), F.col("embedding").alias("vec")
    )
    C = np.zeros((4, 64))
    plan = plan_of(hybrid.maxsim_blocked_topk(dv, qv, C, k=10))
    assert "CartesianProduct" not in plan, plan
    import re

    nlj = set(re.findall(r"\((\d+)\) BroadcastNestedLoopJoin", plan))
    assert len(nlj) <= 1, plan  # only the broadcast of the query chunks
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_matryoshka_stage2_is_equi_join_no_python(spark, sf_dir):
    """MRL cascade: the stage-2 re-score joins shortlist->full vectors by
    id (hash join, never nested-loop over the corpus) and the distance
    arithmetic stays JVM-side."""
    emb = tables.load(spark, sf_dir, "embeddings")
    corpus = emb.select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vector")
    )
    qdf = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    from cuda_acceleratedvectordatabaseengine_spark.operators import knn

    plan = plan_of(
        knn.matryoshka_knn(corpus, qdf, k=10, prefix_dim=16, shortlist_k=30)
    )
    assert "CartesianProduct" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_corpus_gates_are_pure_jvm_scan_speed(spark, sf_dir):
    """C4 line cleaning, Gopher rules, and URL canonicalization are the
    gates that run over EVERY raw document/URL at 100 TB — they must be
    pure Catalyst scalar expressions: no Python node, no shuffle
    (Exchange) anywhere in the per-row transform plan."""
    from cuda_acceleratedvectordatabaseengine_spark.functions import urls as U
    from cuda_acceleratedvectordatabaseengine_spark.operators import (
        textops,
        web,
    )

    docs = tables.load(spark, sf_dir, "documents")
    urls = docs.select(
        "doc_id", F.expr("'http://x.com/p?b=2&a=1'").alias("url")
    )
    for df in (
        textops.c4_clean(docs),
        textops.gopher_rules(docs),
        docs.select(U.canonical_url_expr("'http://x.com/p?b=2&a=1'")),
        web.web_enrich(urls),
        web.filter_domain_blocklist(urls, ["bad.com"]),
    ):
        plan = plan_of(df)
        for bad in (
            "ArrowEvalPython",
            "BatchEvalPython",
            "MapInArrow",
            "MapInPandas",
            "Exchange",
        ):
            assert bad not in plan, f"{bad} in corpus-gate plan:\n{plan}"


def test_exact_substring_count_is_hashed_groupby_not_string_window(
    spark, sf_dir
):
    """The ExactSubstr occurrence count must shuffle 8-byte xxhash64 span
    keys through a partial-aggregated groupBy + semi-join — NOT a window
    count over the raw ~min_len-token span string (which shuffles ~50x
    the bytes and pins every hot boilerplate span on one un-splittable
    reducer). Guard the r10 scale-hardening."""
    from cuda_acceleratedvectordatabaseengine_spark.operators import dedup

    docs = tables.load(spark, sf_dir, "documents")
    plan = plan_of(dedup.exact_duplicated_spans(docs, min_len=8))
    # the span key is hashed at birth and IS the shuffle/join key
    assert "xxhash64" in plan
    assert "hashpartitioning(span_h" in plan
    # no shuffle anywhere keyed by the raw span string
    assert "hashpartitioning(span#" not in plan
    # occurrence count map-side combines (partial before the exchange)
    assert "partial_count" in plan
    # position marking is a semi-join, not a window over span
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_span_stats_count_is_hashed_groupby_not_string_window(
    spark, sf_dir
):
    """duplicated_span_stats carries the same discipline: hashed span
    keys, groupBy occurrence count with map-side combine, join-back
    (AQE-skew-splittable) instead of a string-keyed window."""
    from cuda_acceleratedvectordatabaseengine_spark.operators import dedup

    docs = tables.load(spark, sf_dir, "documents")
    plan = plan_of(dedup.duplicated_span_stats(docs, n=8))
    assert "xxhash64" in plan
    assert "hashpartitioning(span#" not in plan
    assert "partial_sum" in plan or "partial_count" in plan
    assert "Window" not in plan  # no window op anywhere in this one


def test_recall_operating_point_row_leaves_shared_index_unstamped(spark, sf_dir):
    """The ivf_recall_operating_point catalog row tunes the PROCESS-WIDE
    shared index (_INDEX_CACHE) — it must unstamp after reading, so no
    later catalog query's defaulted nprobe silently flips to this row's
    tuned point (r12 in-round review finding #4). Also pins idempotence:
    a second run re-tunes from a clean manifest and emits identical
    values."""
    from cuda_acceleratedvectordatabaseengine_spark.plans import queries as Q

    spec = Q.REGISTRY["ivf_recall_operating_point"]
    first = {(r["metric"], r["value"]) for r in spec.spark(spark, sf_dir).collect()}
    idx = Q._INDEX_CACHE[(sf_dir, "l2")]
    ex = idx.manager.read_manifest(idx.epoch).extra
    from cuda_acceleratedvectordatabaseengine_spark.operators.ivf import (
        recall_stamp_keys,
    )

    assert recall_stamp_keys(ex) == []  # every namespaced key unstamped
    assert idx.resolved_nprobe(None) == 8  # back to the reference default
    second = {(r["metric"], r["value"]) for r in spec.spark(spark, sf_dir).collect()}
    assert first == second


def test_half_chain_consumers_are_order_independent(spark, sf_dir):
    """r12 verdict #5 (fixture amortization): index_delete_tombstones /
    index_pq_delta_codes / index_sq_delta_codes now share ONE even-half
    base + odd-half delta chain (_build_half_chain). Each consumer
    appends only its own artifact kind to the immutable chain, so
    results must match the oracle in ANY execution order — this runs
    the ADVERSARIAL order (sq encodes first, then pq onto the same
    epochs, then the tombstone append) from a cold cache and
    oracle-verifies all three."""
    from cuda_acceleratedvectordatabaseengine_spark.plans import queries as Q

    from .oracle_utils import assert_matches_oracle, duck_con

    for k in list(Q._INDEX_CACHE):
        if k[0] == sf_dir and k[1] in (
            "half_chain", "pq_delta", "sq_delta", "delete_tomb"
        ):
            Q._INDEX_CACHE.pop(k)
    con = duck_con(sf_dir)
    try:
        for name in (
            "index_sq_delta_codes",      # reversed vs registration order
            "index_pq_delta_codes",
            "index_delete_tombstones",
        ):
            spec = Q.REGISTRY[name]
            assert_matches_oracle(
                spec.spark(spark, sf_dir), con, spec.oracle, name
            )
    finally:
        con.close()


def test_onepass_recall_gt_join_prunes_vector_column(spark, sf_dir, tmp_path):
    """The one-pass recall sweep's ground-truth join must scan only
    (id, list_id) from the index parquet — reading the vector column
    there would turn the 'one cheap metadata scan' cost claim into a
    second full-corpus read at 100 TB. Broadcast on the GT side, no
    shuffle of the corpus."""
    from cuda_acceleratedvectordatabaseengine_spark.operators import ivf, kmeans

    emb = tables.load(spark, sf_dir, "embeddings")
    corpus = emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vector"))
    init = kmeans.label_centroids(emb)
    idx = ivf.IVFIndex.build(
        corpus, str(tmp_path), "plan_onepass", nlist=init.shape[0],
        init=init, train=False,
    )
    gt = spark.createDataFrame([(0, 1), (0, 2)], "query_id long, id long")
    joined = (
        idx.vectors.select("id", "list_id")
        .join(F.broadcast(gt), "id")
        .select("query_id", "list_id")
    )
    plan = plan_of(joined)
    assert "BroadcastHashJoin" in plan
    for seg in plan.split("ReadSchema")[1:]:
        head = seg.splitlines()[0]
        if "list_id" in head or "id" in head:
            assert "vector" not in head, head
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_plan_token_canaries_against_live_renderer(spark, tmp_path):
    """r13 verdict #7: every explain-text token this suite keys on is an
    implicit dependency on Spark's plan rendering — and the NEGATIVE
    assertions ("CartesianProduct" not in plan) go silently VACUOUS if a
    Spark upgrade renames the token. For each parsed token, build a
    minimal live plan that must render it (positive) and one that must
    not (negative), so a renderer change fails loudly here instead of
    quietly disarming the guards."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.window import Window

    small = spark.range(8).withColumn("k", F.col("id") % 2)
    other = spark.range(4).withColumn("k", F.col("id") % 2)

    # -- parquet-scan tokens: PushedFilters / ReadSchema / PartitionFilters
    p = str(tmp_path / "canary_pq")
    small.withColumn("part", F.col("id") % 2).write.partitionBy(
        "part"
    ).parquet(p)
    scan = (
        spark.read.parquet(p)
        .filter((F.col("part") == 1) & (F.col("k") > 0))
        .select("id")
    )
    plan = plan_of(scan)
    assert "PushedFilters" in plan and "k" in plan.split(
        "PushedFilters"
    )[1].splitlines()[0]
    assert "PartitionFilters" in plan and "part" in plan.split(
        "PartitionFilters"
    )[1].splitlines()[0]
    assert "ReadSchema" in plan
    # negative: an in-memory plan renders none of the scan tokens
    mem = plan_of(small.filter(F.col("k") > 0))
    assert "PushedFilters" not in mem and "PartitionFilters" not in mem

    # -- join strategy tokens ------------------------------------------
    bhj = plan_of(small.join(F.broadcast(other), "k"))
    assert "BroadcastHashJoin" in bhj and "SortMergeJoin" not in bhj
    smj = plan_of(small.hint("merge").join(other.hint("merge"), "k"))
    assert "SortMergeJoin" in smj and "BroadcastHashJoin" not in smj
    bnl = plan_of(small.crossJoin(F.broadcast(other)))
    assert "BroadcastNestedLoopJoin" in bnl
    cart = plan_of(
        small.hint("shuffle_replicate_nl").crossJoin(other)
    )
    assert "CartesianProduct" in cart
    assert "CartesianProduct" not in bhj and "BroadcastNestedLoopJoin" not in bhj
    # the broadcast side renders as a BroadcastExchange
    assert "BroadcastExchange" in bhj and "BroadcastExchange" not in smj

    # -- aggregation/exchange tokens -----------------------------------
    agg = plan_of(small.groupBy("k").count())
    assert agg.count("HashAggregate") >= 2  # partial + final
    assert "Exchange" in agg
    proj = plan_of(small.select((F.col("id") + 1).alias("x")))
    assert "HashAggregate" not in proj and "Exchange" not in proj

    # -- window / generate tokens --------------------------------------
    win = plan_of(
        small.withColumn(
            "rn", F.row_number().over(Window.partitionBy("k").orderBy("id"))
        )
    )
    assert "windowspecdefinition" in win and "k" in win.split(
        "windowspecdefinition("
    )[1].split(")")[0]
    gen = plan_of(small.select(F.posexplode(F.array(F.lit(1), F.lit(2)))))
    assert "Generate" in gen
    assert "windowspecdefinition" not in gen and "Generate" not in win

    # -- python-eval tokens (the no-row-UDF guards parse these) --------
    # functional form: the module-level `from __future__ import
    # annotations` stringifies hints, which pandas_udf cannot parse
    _pudf = pandas_udf(lambda s: s + 1, "long")
    arrow = plan_of(small.select(_pudf("id")))
    assert "ArrowEvalPython" in arrow
    rowudf = F.udf(lambda x: x + 1, "long")
    batch = plan_of(small.select(rowudf("id")))
    assert "BatchEvalPython" in batch
    assert "ArrowEvalPython" not in mem and "BatchEvalPython" not in mem

    # -- AQE/codegen tokens (asserted after execution elsewhere) -------
    df = small.groupBy("k").count()
    df.collect()
    final = plan_of(df)
    assert "isFinalPlan=true" in final and "codegen id" in final


CATALOG_TEMP_DIRS = """
import json, os, sys, tempfile
sys.path.insert(0, {root!r})
from cuda_acceleratedvectordatabaseengine_spark.plans import queries as Q
from cuda_acceleratedvectordatabaseengine_spark.session import get_spark

spark = get_spark(app_name="catalog-temp-dirs", cpus=2, shuffle_partitions=2)
for name in ("ivf_search_fullprobe", "index_delete_tombstones"):
    Q.REGISTRY[name].spark(spark, {sf_dir!r}).collect()
print(json.dumps(sorted(
    d for d in os.listdir(tempfile.gettempdir()) if d.startswith("cavde_")
)))
"""


def test_catalog_index_rows_leave_no_temp_dirs(sf_dir, tmp_path):
    """Two index catalog rows, run in a process of their own, build their
    indexes in ``cavde_*`` temp directories that are gone once the process
    exits: the shared index cache needs them until then, and no longer."""
    import json
    import os
    import subprocess
    import sys

    pkg = os.path.dirname(os.path.dirname(os.path.abspath(Q.__file__)))
    temp_root = tmp_path / "tmp"
    temp_root.mkdir()
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    # a second driver next to the test session: keep its heap small
    env.update(
        TMPDIR=str(temp_root), SPARK_GRAFT_DRIVER_MEM="512m",
        SPARK_GRAFT_PRETOUCH="0",
    )
    proc = subprocess.run(
        [sys.executable, "-c",
         CATALOG_TEMP_DIRS.format(root=os.path.dirname(pkg), sf_dir=sf_dir)],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    made = json.loads(proc.stdout.strip().splitlines()[-1])
    assert any(d.startswith("cavde_idx_") for d in made), made
    assert not [d for d in os.listdir(temp_root) if d.startswith("cavde_")]
