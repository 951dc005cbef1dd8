"""Structured Streaming surface tests.

Strategy (SURVEY.md §5): streaming correctness is oracled by batch
equivalence — on a finite input, a watermarked windowed aggregation must
produce exactly the rows the identical batch plan produces; a query stream
served through foreachBatch must produce exactly the batch search results.
"""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from cuda_acceleratedvectordatabaseengine_spark.operators.ivf import IVFIndex
from cuda_acceleratedvectordatabaseengine_spark.sources import tables
from cuda_acceleratedvectordatabaseengine_spark.streaming.events import (
    session_counts,
    sliding_counts,
    tumbling_counts,
)
from cuda_acceleratedvectordatabaseengine_spark.streaming.search_stream import (
    serve_query_stream,
)


@pytest.fixture(scope="module")
def events(spark, sf_dir):
    return tables.load(spark, sf_dir, "events")


def _rows(df, *order_cols):
    return [tuple(r) for r in df.orderBy(*order_cols).collect()]


def _stream_vs_batch(spark, events, transform, order_cols):
    """Run `transform` on the events table both as a batch DF and as a file
    stream (complete-mode memory sink); results must match exactly."""
    tmp = tempfile.mkdtemp(prefix="cavde-stream-")
    try:
        events.write.mode("overwrite").parquet(f"{tmp}/in")
        batch_out = _rows(transform(spark.read.parquet(f"{tmp}/in")), *order_cols)

        stream_in = (
            spark.readStream.schema(events.schema)
            .option("maxFilesPerTrigger", "4")  # several micro-batches
            .parquet(f"{tmp}/in")
        )
        q = (
            transform(stream_in)
            .writeStream.format("memory")
            .queryName("cavde_stream_test")
            .outputMode("complete")
            .option("checkpointLocation", f"{tmp}/ckpt")
            .start()
        )
        try:
            q.processAllAvailable()
            stream_out = _rows(spark.table("cavde_stream_test"), *order_cols)
        finally:
            q.stop()
        return batch_out, stream_out
    finally:
        spark.catalog.dropTempView("cavde_stream_test")
        shutil.rmtree(tmp, ignore_errors=True)


def test_tumbling_stream_equals_batch(spark, events):
    batch, stream = _stream_vs_batch(
        spark,
        events,
        lambda df: tumbling_counts(df, window="1 hour", watermark="1 hour"),
        ("window_start", "event_type"),
    )
    assert len(batch) > 0
    assert stream == batch


def test_sliding_stream_equals_batch(spark, events):
    batch, stream = _stream_vs_batch(
        spark,
        events,
        lambda df: sliding_counts(df, window="1 hour", slide="30 minutes"),
        ("window_start", "event_type"),
    )
    assert len(batch) > len(set(r[1] for r in batch))  # overlapping windows
    assert stream == batch


def test_session_stream_equals_batch(spark, events):
    # keep state bounded: sessions for a small slice of users
    few = events.filter(F.col("user_id") < 50)
    batch, stream = _stream_vs_batch(
        spark,
        few,
        lambda df: session_counts(df, gap="30 minutes"),
        ("user_id", "session_start"),
    )
    assert len(batch) > 0
    assert stream == batch


def test_tumbling_matches_q12_buckets(spark, events):
    """The window-struct output must agree with the epoch-arithmetic batch
    query q12 (same buckets, same counts)."""
    win = tumbling_counts(events).withColumn(
        "hour_bucket", F.floor(F.unix_timestamp("window_start") / 3600).cast("long")
    )
    got = _rows(
        win.select("hour_bucket", "event_type", "cnt", "sum_value"),
        "hour_bucket",
        "event_type",
    )
    exp = _rows(
        events.withColumn(
            "hour_bucket", F.floor(F.unix_timestamp("ts") / 3600).cast("long")
        )
        .groupBy("hour_bucket", "event_type")
        .agg(
            F.count("*").alias("cnt"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        ),
        "hour_bucket",
        "event_type",
    )
    assert got == exp


def test_serve_query_stream_matches_batch(spark, sf_dir):
    """V2 request-coalescing analog: queries arriving as a file stream,
    searched per micro-batch, must produce the batch search results."""
    emb = tables.load(spark, sf_dir, "embeddings")
    corpus = emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vector"))
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )

    tmp = tempfile.mkdtemp(prefix="cavde-qstream-")
    try:
        index = IVFIndex.build(
            corpus, f"{tmp}/index", "emb", nlist=8, metric="l2", seed=42
        )
        expected = _rows(
            index.search(queries, k=5, nprobe=8), "query_id", "rank"
        )

        queries.write.mode("overwrite").parquet(f"{tmp}/qs")
        collected: list = []
        stream = (
            spark.readStream.schema(queries.schema)
            .option("maxFilesPerTrigger", "2")
            .parquet(f"{tmp}/qs")
        )
        q = serve_query_stream(
            index,
            stream,
            k=5,
            nprobe=8,
            output_sink=lambda df, bid: collected.extend(
                tuple(r) for r in df.collect()
            ),
            checkpoint_dir=f"{tmp}/ckpt",
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        assert sorted(collected) == sorted(expected)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_serve_stream_adaptive_drain_and_priority(spark, sf_dir):
    """V5+V6 end to end: a staged micro-batch drains in fusion groups sized
    by LoadController.optimal_batch_size() (load 0.5 -> 32,
    load_balancer.cpp:75-85), highest priority first — so 40 queries split
    into groups of 32 then 8, and every URGENT request rides group 0."""
    from cuda_acceleratedvectordatabaseengine_spark.streaming.flow import (
        LoadController,
        Priority,
        PriorityRequestQueue,
    )

    emb = tables.load(spark, sf_dir, "embeddings")
    corpus = emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vector"))
    queries = emb.filter(F.col("vec_id") < 40).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qvec"),
        # ids 32..39 are URGENT, the rest NORMAL
        F.when(F.col("vec_id") >= 32, F.lit(Priority.URGENT))
        .otherwise(F.lit(Priority.NORMAL))
        .cast("int")
        .alias("priority"),
    )
    tmp = tempfile.mkdtemp(prefix="cavde-v5-")
    try:
        index = IVFIndex.build(
            corpus, f"{tmp}/index", "emb_v5", nlist=8, metric="l2", seed=42
        )
        queries.coalesce(1).write.mode("overwrite").parquet(f"{tmp}/qs")
        controller = LoadController(max_concurrent=100)
        controller._current = 50  # load 0.5 -> optimal_batch_size() == 32
        groups: list[set] = []
        stream = spark.readStream.schema(queries.schema).parquet(f"{tmp}/qs")
        q = serve_query_stream(
            index,
            stream,
            k=3,
            nprobe=8,
            output_sink=lambda df, bid: groups.append(
                {r["query_id"] for r in df.select("query_id").distinct().collect()}
            ),
            checkpoint_dir=f"{tmp}/ckpt",
            controller=controller,
            priority_queue=PriorityRequestQueue(),
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        assert [len(g) for g in groups] == [32, 8]
        assert set(range(32, 40)) <= groups[0]  # urgent drained first
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_serve_stream_throughput_batch_cap(spark, sf_dir):
    """r11 verdict #5: batch_cap makes the measured batch-saturation law
    executable — with batch_cap=THROUGHPUT_BATCH_SIZE the staged drain
    ignores the controller's reference-parity 16/32/64 and fuses the
    whole 40-query backlog into ONE group (40 < 256); results match the
    adaptive path exactly (sizing is a cost knob, not a semantics one)."""
    from cuda_acceleratedvectordatabaseengine_spark.streaming.flow import (
        LoadController,
        PriorityRequestQueue,
        THROUGHPUT_BATCH_SIZE,
        optimal_batch_size,
    )

    # the knob's contract in flow.py
    assert THROUGHPUT_BATCH_SIZE == 256
    assert optimal_batch_size(50, 100, mode="throughput") == 256
    assert optimal_batch_size(50, 100) == 32  # latency parity unchanged
    with pytest.raises(ValueError, match="mode"):
        optimal_batch_size(0, 100, mode="warp")
    assert LoadController(max_concurrent=100).optimal_batch_size(
        mode="throughput"
    ) == 256

    emb = tables.load(spark, sf_dir, "embeddings")
    corpus = emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vector"))
    queries = emb.filter(F.col("vec_id") < 40).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    tmp = tempfile.mkdtemp(prefix="cavde-v5cap-")
    try:
        index = IVFIndex.build(
            corpus, f"{tmp}/index", "emb_cap", nlist=8, metric="l2", seed=42
        )
        expected = _rows(index.search(queries, k=3, nprobe=8), "query_id", "rank")
        queries.coalesce(1).write.mode("overwrite").parquet(f"{tmp}/qs")
        controller = LoadController(max_concurrent=100)
        controller._current = 50  # adaptive would say 32
        groups: list = []
        collected: list = []

        def sink(df, bid):
            rows = df.collect()
            groups.append({r["query_id"] for r in rows})
            collected.extend(tuple(r) for r in rows)

        stream = spark.readStream.schema(queries.schema).parquet(f"{tmp}/qs")
        with pytest.raises(ValueError, match="batch_cap"):
            serve_query_stream(index, stream, k=3, batch_cap=0)
        q = serve_query_stream(
            index,
            stream,
            k=3,
            nprobe=8,
            output_sink=sink,
            checkpoint_dir=f"{tmp}/ckpt",
            controller=controller,
            priority_queue=PriorityRequestQueue(),
            batch_cap=THROUGHPUT_BATCH_SIZE,
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        assert [len(g) for g in groups] == [40]  # one fused group, not 32+8
        assert sorted(collected) == sorted(expected)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

def test_incremental_topk_converges_to_batch(spark, sf_dir):
    """applyInPandasWithState incremental top-k: after the whole corpus has
    streamed through, the running per-query top-k must equal the batch
    exact k-NN answer (associative fold => order of arrival irrelevant)."""
    from cuda_acceleratedvectordatabaseengine_spark.functions import distance as D
    from cuda_acceleratedvectordatabaseengine_spark.operators import knn
    from cuda_acceleratedvectordatabaseengine_spark.streaming.topk_stream import (
        incremental_topk,
        score_stream_against_queries,
    )

    emb = tables.load(spark, sf_dir, "embeddings")
    corpus = emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vector"))
    queries = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    expected = {
        (r.query_id, r.rank, r.id)
        for r in knn.exact_knn(corpus, queries, k=5, metric=D.L2).collect()
    }

    q_pdf = queries.toPandas()
    tmp = tempfile.mkdtemp(prefix="cavde-topk-stream-")
    try:
        # many small files -> many micro-batches -> state actually folds
        corpus.repartition(8).write.mode("overwrite").parquet(f"{tmp}/in")
        stream = (
            spark.readStream.schema(corpus.schema)
            .option("maxFilesPerTrigger", "2")
            .parquet(f"{tmp}/in")
        )
        cand = score_stream_against_queries(stream, q_pdf, metric=D.L2)
        q = (
            incremental_topk(cand, k=5)
            .writeStream.format("memory")
            .queryName("cavde_topk_stream")
            .outputMode("update")
            .option("checkpointLocation", f"{tmp}/ckpt")
            .start()
        )
        try:
            q.processAllAvailable()
            # update mode appends each refinement; the LAST emission per
            # query is the final state — reconstruct it by max batch order:
            # simplest correct check: re-read and keep rows from the final
            # refinement via groupBy over the memory sink is ambiguous, so
            # instead assert the final state equals batch by running the
            # fold again over the sink's best rows per (query_id, id)
            sink = spark.table("cavde_topk_stream")
            best = (
                sink.groupBy("query_id", "id")
                .agg(F.min("distance").alias("distance"))
            )
            from pyspark.sql import Window as W

            w = W.partitionBy("query_id").orderBy("distance", "id")
            final = (
                best.withColumn("rank", F.row_number().over(w))
                .filter(F.col("rank") <= 5)
            )
            got = {(r.query_id, r.rank, r.id) for r in final.collect()}
        finally:
            q.stop()
        assert got == expected
    finally:
        spark.catalog.dropTempView("cavde_topk_stream")
        shutil.rmtree(tmp, ignore_errors=True)


def test_stream_scorer_query_matrix_equals_row_rebuild(spark, sf_dir):
    """``score_stream_against_queries`` reads its query matrix through
    ``arrowkit.list_matrix``; its candidates equal, bit for bit, those of
    a matrix rebuilt row by row from the pandas query frame."""
    import numpy as np

    from cuda_acceleratedvectordatabaseengine_spark.functions import distance as D
    from cuda_acceleratedvectordatabaseengine_spark.streaming.topk_stream import (
        score_stream_against_queries,
    )

    emb = tables.load(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") < 60).select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vector")
    )
    q_pdf = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    ).toPandas()
    got = sorted(
        tuple(r) for r in score_stream_against_queries(corpus, q_pdf).collect()
    )
    rows = corpus.orderBy("id").collect()
    V = np.array([np.asarray(r["vector"]) for r in rows], dtype=np.float64)
    Q = np.array([np.asarray(v) for v in q_pdf["qvec"]], dtype=np.float64)
    dm = D.pairwise(D.L2, V, Q)  # three queries: the direct per-row form
    want = sorted(
        (int(q), int(r["id"]), float(dm[i, j]))
        for i, r in enumerate(rows)
        for j, q in enumerate(q_pdf["query_id"])
    )
    assert got == want


def test_sessionize_batch_matches_session_window(spark, sf_dir):
    """The lag/cumsum batch sessionizer and F.session_window must induce the
    same per-user session partitioning (session count + per-session event
    counts)."""
    from cuda_acceleratedvectordatabaseengine_spark.sources import tables
    from cuda_acceleratedvectordatabaseengine_spark.streaming import events as EV

    ev = tables.load(spark, sf_dir, "events").filter(F.col("user_id") < 30)
    ours = (
        EV.sessionize_batch(ev, gap_seconds=1800)
        .groupBy("user_id", "session_id")
        .count()
    )
    ours_sets = {
        r["user_id"]: sorted(x["count"] for x in rows)
        for r in ours.groupBy("user_id")
        .agg(F.collect_list(F.struct("session_id", "count")).alias("rows"))
        .collect()
        for rows in [r["rows"]]
    }
    sw = (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("win"), "user_id")
        .count()
        .groupBy("user_id")
        .agg(F.sort_array(F.collect_list("count")).alias("counts"))
    )
    sw_sets = {r["user_id"]: list(r["counts"]) for r in sw.collect()}
    assert ours_sets == sw_sets


def test_sessionize_gap_strictness(spark):
    """Events exactly gap apart start a NEW session (session_window parity)."""
    from cuda_acceleratedvectordatabaseengine_spark.streaming import events as EV

    rows = [
        (1, "2024-01-01 00:00:00"),
        (1, "2024-01-01 00:29:59"),  # < gap: same session
        (1, "2024-01-01 00:59:59"),  # exactly 1800s after prev: new session
        (2, "2024-01-01 00:00:00"),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts_s string").select(
        "user_id", F.to_timestamp("ts_s").alias("ts")
    )
    out = EV.sessionize_batch(df, gap_seconds=1800).collect()
    sess = {(r["user_id"], r["ts"].strftime("%H:%M:%S")): r["session_id"] for r in out}
    assert sess[(1, "00:00:00")] == 0
    assert sess[(1, "00:29:59")] == 0
    assert sess[(1, "00:59:59")] == 1
    assert sess[(2, "00:00:00")] == 0


def test_latency_recorder_feeds_summary(spark, sf_dir):
    """V7 producer: the serving stream records per-batch latency; the
    request-level expansion feeds metrics.latency_summary with the right
    schema and consistent counts."""
    from cuda_acceleratedvectordatabaseengine_spark.metrics import latency_summary
    from cuda_acceleratedvectordatabaseengine_spark.streaming.search_stream import (
        LatencyRecorder,
    )

    emb = tables.load(spark, sf_dir, "embeddings")
    corpus = emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vector"))
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    tmp = tempfile.mkdtemp(prefix="cavde-lat-")
    try:
        index = IVFIndex.build(
            corpus, f"{tmp}/index", "emb_lat", nlist=8, metric="l2", seed=42
        )
        queries.write.mode("overwrite").parquet(f"{tmp}/qs")
        rec = LatencyRecorder()
        stream = (
            spark.readStream.schema(queries.schema)
            .option("maxFilesPerTrigger", "2")
            .parquet(f"{tmp}/qs")
        )
        q = serve_query_stream(
            index, stream, k=5, nprobe=8,
            checkpoint_dir=f"{tmp}/ckpt", recorder=rec,
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        assert len(rec.rows) >= 1
        assert sum(r[2] for r in rec.rows) == 8  # every request counted once
        assert all(r[3] > 0 for r in rec.rows)
        reqs = rec.requests_df(spark)
        assert reqs.count() == 8
        summary = latency_summary(reqs).collect()
        assert len(summary) == 1
        row = summary[0]
        assert row["index_name"] == "emb_lat" and row["cnt"] == 8
        p50, p95, p99 = row["p50_p95_p99"]
        assert 0 < p50 <= p95 <= p99
        assert row["avg_ms"] > 0
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_health_watch_pushes_on_stream_events(spark):
    """V8 Watch analog (health_service.cpp:37-79): lifecycle events push a
    fresh health payload; a query dying with an exception flips the pushed
    status to NOT_SERVING until that query id restarts."""
    from cuda_acceleratedvectordatabaseengine_spark.streaming.flow import HealthWatch

    tmp = tempfile.mkdtemp(prefix="cavde-watch-")
    seen: list[dict] = []
    watch = HealthWatch(spark, on_update=seen.append)
    spark.streams.addListener(watch)
    try:
        df = spark.createDataFrame([(i,) for i in range(8)], "id long")
        df.write.mode("overwrite").parquet(f"{tmp}/in")
        stream = spark.readStream.schema(df.schema).parquet(f"{tmp}/in")

        # healthy run: started + progress events, all SERVING
        q = (
            stream.writeStream.format("memory")
            .queryName("cavde_watch_ok")
            .option("checkpointLocation", f"{tmp}/ckpt1")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
            q.awaitTermination(30)
        spark.streams.resetTerminated()
        deadline = 30.0
        import time as _t

        while not any(p["event"] == "terminated" for p in seen) and deadline > 0:
            _t.sleep(0.2)
            deadline -= 0.2
        events_seen = {p["event"] for p in seen}
        assert "started" in events_seen and "terminated" in events_seen
        assert all(p["status"] == "SERVING" for p in seen)
        assert watch.last is not None and watch.last["streams"] is True

        # failing run: handler raises -> terminated-with-exception -> NOT_SERVING
        def boom(batch_df, batch_id):
            raise RuntimeError("intentional test failure")

        q2 = (
            stream.writeStream.foreachBatch(boom)
            .queryName("cavde_watch_boom")
            .option("checkpointLocation", f"{tmp}/ckpt2")
            .start()
        )
        with pytest.raises(Exception):
            q2.awaitTermination(60)
        deadline = 30.0
        while (watch.last is None or watch.last["status"] != "NOT_SERVING") and deadline > 0:
            _t.sleep(0.2)
            deadline -= 0.2
        assert watch.last["status"] == "NOT_SERVING"
        assert watch.last["streams"] is False
        assert watch.last["stream_errors"]
        spark.streams.resetTerminated()
    finally:
        spark.streams.removeListener(watch)
        shutil.rmtree(tmp, ignore_errors=True)


def test_streaming_dedup_first_seen_wins(spark, sf_dir):
    """Stateful streaming exact dedup (applyInPandasWithState): one winner
    per distinct fingerprint across ALL micro-batches — duplicates arriving
    in later batches are dropped by state, duplicates within a batch
    collapse to the smallest doc_id."""
    from cuda_acceleratedvectordatabaseengine_spark.functions import text as TXT
    from cuda_acceleratedvectordatabaseengine_spark.streaming.dedup_stream import (
        dedup_stream,
    )

    docs = tables.load(spark, sf_dir, "documents").select("doc_id", "text")
    tmp = tempfile.mkdtemp(prefix="cavde-sdedup-")
    try:
        # input: corpus + a duplicated slice written as SEPARATE files so the
        # duplicates arrive in later micro-batches than their originals
        docs.write.parquet(f"{tmp}/in/part0")
        dup = docs.orderBy("doc_id").limit(20).withColumn(
            "doc_id", F.col("doc_id") + 1_000_000
        )
        dup.write.parquet(f"{tmp}/in/part1")
        dup.withColumn("doc_id", F.col("doc_id") + 1_000_000).write.parquet(
            f"{tmp}/in/part2"
        )

        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{tmp}/in/part*")
        )
        q = (
            dedup_stream(stream)
            .writeStream.format("memory")
            .queryName("cavde_sdedup")
            .outputMode("append")
            .option("checkpointLocation", f"{tmp}/ckpt")
            .start()
        )
        try:
            q.processAllAvailable()
            got = spark.table("cavde_sdedup").collect()
        finally:
            q.stop()

        batch = (
            spark.read.parquet(f"{tmp}/in/part*")
            .select("doc_id", TXT.doc_fingerprint_expr("text").alias("fingerprint"))
        )
        groups: dict[int, set] = {}
        for r in batch.collect():
            groups.setdefault(r["fingerprint"], set()).add(r["doc_id"])

        # exactly one winner per distinct fingerprint, and it belongs to
        # that fingerprint's group
        assert len(got) == len(groups)
        assert {r["fingerprint"] for r in got} == set(groups)
        for r in got:
            assert r["doc_id"] in groups[r["fingerprint"]]
        # the duplicated slice collapsed: none of the +1M/+2M clone ids win
        # over an original that arrived in the first file
        clone_wins = [r for r in got if r["doc_id"] >= 1_000_000]
        assert not clone_wins
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_streaming_ingest_delta_epochs_with_compaction(spark, sf_dir):
    """Each micro-batch of vectors becomes a delta epoch; the chain
    auto-compacts at the threshold and GC bounds storage — the final index
    contains every vector ever streamed and searches it correctly."""
    import numpy as np

    from cuda_acceleratedvectordatabaseengine_spark.operators import ivf
    from cuda_acceleratedvectordatabaseengine_spark.streaming.ingest_stream import (
        ingest_vector_stream,
    )

    emb = tables.load(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vector")
    )
    n_total = emb.count()
    base_rows = emb.filter(F.col("id") % 4 == 0)
    tmp = tempfile.mkdtemp(prefix="cavde-ingest-")
    try:
        init = np.asarray(
            [r["vector"] for r in emb.orderBy("id").limit(8).collect()],
            dtype=np.float64,
        )
        ivf.IVFIndex.build(
            base_rows, f"{tmp}/idx", "stream_idx", nlist=8, init=init, train=False
        )
        # three shard files -> three micro-batches of deltas
        for part in (1, 2, 3):
            emb.filter(F.col("id") % 4 == part).write.parquet(
                f"{tmp}/in/shard{part}"
            )
        stream = (
            spark.readStream.schema(emb.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{tmp}/in/shard*")
        )
        seen = []
        q = ingest_vector_stream(
            stream, f"{tmp}/idx", "stream_idx",
            compact_every=3, keep_epochs=2,
            checkpoint_dir=f"{tmp}/ckpt",
            on_epoch=lambda e, kind: seen.append((e, kind)),
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

        assert seen and any(kind == "compacted" for _e, kind in seen)
        final = ivf.IVFIndex.load(spark, f"{tmp}/idx", "stream_idx")
        assert final.vectors.count() == n_total
        assert final.manifest.num_vectors == n_total

        # at-least-once replay: re-delivering an already-ingested batch_id
        # must be a no-op (manifest marker guard), not a duplicate epoch
        from cuda_acceleratedvectordatabaseengine_spark.streaming.ingest_stream import (
            ingest_batch,
        )

        replay = emb.filter(F.col("id") % 4 == 1)
        idx2, kind = ingest_batch(final, replay, batch_id=0)
        assert kind is None and idx2 is final
        assert ivf.IVFIndex.load(
            spark, f"{tmp}/idx", "stream_idx"
        ).manifest.num_vectors == n_total
        # search reaches a vector from the LAST streamed shard
        probe = emb.filter(F.col("id") % 4 == 3).agg(F.max("id")).collect()[0][0]
        qdf = emb.filter(F.col("id") == probe).select(
            F.col("id").alias("query_id"), F.col("vector").alias("qvec")
        )
        top = final.search(qdf, k=1, nprobe=8).collect()
        assert top and top[0]["id"] == probe
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_ingest_replay_resumes_orphan_epoch(spark, sf_dir):
    """A crash between delta-manifest write and activation leaves a marked
    but NEVER-activated orphan. Redelivery of that batch must not be treated
    as a duplicate (the orphan would be GC'd without serving — silent data
    loss): the handler resumes the interrupted step and activates it."""
    import numpy as np

    from cuda_acceleratedvectordatabaseengine_spark.streaming.ingest_stream import (
        BATCH_ID_KEY,
        ingest_batch,
    )

    emb = tables.load(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vector")
    )
    base_rows = emb.filter(F.col("id") % 2 == 0)
    delta_rows = emb.filter(F.col("id") % 2 == 1)
    tmp = tempfile.mkdtemp(prefix="cavde-orphan-")
    try:
        init = np.asarray(
            [r["vector"] for r in emb.orderBy("id").limit(8).collect()],
            dtype=np.float64,
        )
        base = IVFIndex.build(
            base_rows, tmp, "orphan_idx", nlist=8, init=init, train=False
        )
        # simulate the crash: the delta epoch (manifest + marker) is written
        # but activation never happens
        orphan = base.add(
            delta_rows, activate=False, manifest_extra={BATCH_ID_KEY: 7}
        )
        assert base.manager.active_epoch() == base.epoch  # still the base

        # redelivery of batch 7: must RESUME (activate the orphan), not drop
        idx2, kind = ingest_batch(base, delta_rows, batch_id=7)
        assert kind == "delta"
        assert idx2.epoch == orphan.epoch  # resumed, not re-ingested
        assert base.manager.active_epoch() == orphan.epoch
        final = IVFIndex.load(spark, tmp, "orphan_idx")
        assert final.vectors.count() == emb.count()  # nothing lost, no dups

        # second redelivery AFTER activation: now a plain duplicate
        idx3, kind3 = ingest_batch(final, delta_rows, batch_id=7)
        assert kind3 is None and idx3 is final
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_streaming_ingest_maintains_pq_codes(spark, sf_dir):
    """On a PQ-encoded index, every ingested epoch gets codes BEFORE
    activation: delta epochs encode only their OWN vectors with the chain's
    inherited codebooks (O(delta), bit-identical codebooks — never
    retrained), and a compaction re-encodes the full epoch. The PQ serving
    path stays loadable after every trigger."""
    import numpy as np

    from cuda_acceleratedvectordatabaseengine_spark.operators.pq import (
        IVFPQIndex,
    )
    from cuda_acceleratedvectordatabaseengine_spark.streaming.ingest_stream import (
        ingest_batch,
    )

    emb = tables.load(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vector")
    )
    n_total = emb.count()
    tmp = tempfile.mkdtemp(prefix="cavde-pq-ingest-")
    try:
        init = np.asarray(
            [r["vector"] for r in emb.orderBy("id").limit(8).collect()],
            dtype=np.float64,
        )
        base = IVFIndex.build(
            emb.filter(F.col("id") % 3 == 0), tmp, "pq_stream",
            nlist=8, init=init, train=False,
        )
        pq_base = IVFPQIndex.build_from_ivf(base, m=16, nbits=8, seed=42)

        # batch 0: delta — codes for the delta only, codebooks inherited
        idx = IVFIndex.load(spark, tmp, "pq_stream")
        idx, kind = ingest_batch(
            idx, emb.filter(F.col("id") % 3 == 1), batch_id=0,
            compact_every=3,
        )
        assert kind == "delta"
        mgr = idx.manager
        delta_man = mgr.read_manifest(idx.epoch)
        assert delta_man.pq and delta_man.pq["scope"] == "delta"
        own_codes = spark.read.parquet(mgr.codes_path(idx.epoch))
        assert own_codes.count() == emb.filter(F.col("id") % 3 == 1).count()
        served = IVFPQIndex.load(spark, tmp, "pq_stream")
        assert np.array_equal(served.codebooks, pq_base.codebooks)
        assert served.codes.count() == base.vectors.count() + own_codes.count()

        # batch 1: chain hits compact_every=3 -> compacted + fully re-encoded
        idx, kind = ingest_batch(
            idx, emb.filter(F.col("id") % 3 == 2), batch_id=1,
            compact_every=3,
        )
        assert kind == "compacted"
        comp_man = mgr.read_manifest(idx.epoch)
        assert comp_man.pq and comp_man.pq["scope"] == "chain"
        served = IVFPQIndex.load(spark, tmp, "pq_stream")
        assert served.codes.count() == n_total
        assert np.array_equal(served.codebooks, pq_base.codebooks)

        # the newest streamed vector is reachable through the PQ path
        probe = emb.filter(F.col("id") % 3 == 2).agg(F.max("id")).collect()[0][0]
        qdf = emb.filter(F.col("id") == probe).select(
            F.col("id").alias("query_id"), F.col("vector").alias("qvec")
        )
        got = served.search(qdf, k=1, nprobe=8, rerank_exact=True, rerank_k=10).collect()
        assert got and got[0]["id"] == probe
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_streaming_neardup_suppresses_edited_copies(spark, sf_dir):
    """Streaming MinHash-LSH near-dup: edited copies arriving in LATER
    micro-batches are dropped against the accumulated band-bucket store,
    within-batch near-dups resolve to the min id, unique docs survive,
    and a replayed batch does not double-append the store."""
    from cuda_acceleratedvectordatabaseengine_spark.streaming.neardup_stream import (
        neardup_batch,
        neardup_dedup_stream,
        read_store,
    )

    base_a = ("the quick brown fox jumps over the lazy dog while the "
              "rain in spain falls mainly on the plain and the cat sat "
              "on the mat watching the birds fly south for winter")
    edit_a = base_a.replace("lazy dog", "sleepy dog")  # near-dup of A
    base_c = ("completely different content about distributed query "
              "engines shuffling partitions across a large cluster with "
              "broadcast joins and adaptive execution planning at scale")
    base_e = ("yet another unique document describing product "
              "quantization codebooks trained per subspace with lloyd "
              "iterations over a bounded training sample of vectors")
    edit_e = base_e.replace("bounded training", "small training")

    batches = [
        [(1, base_a), (2, base_c)],
        [(10, edit_a), (11, "totally fresh text about parquet row groups "
                            "and column statistics used for predicate "
                            "pushdown during table scans in the reader")],
        [(20, base_e), (21, edit_e), (22, base_c)],
    ]
    tmp = tempfile.mkdtemp(prefix="cavde-neardup-")
    try:
        for i, rows in enumerate(batches):
            # one FILE per shard: maxFilesPerTrigger=1 must see each shard
            # as one micro-batch (a multi-file shard would split into
            # arbitrary-order micro-batches and change arrival order)
            spark.createDataFrame(rows, "doc_id long, text string").coalesce(
                1
            ).write.parquet(f"{tmp}/in/shard{i}")
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{tmp}/in/shard*")
        )
        seen = {}
        q = neardup_dedup_stream(
            stream, f"{tmp}/store",
            checkpoint_dir=f"{tmp}/ckpt",
            on_survivors=lambda bid, ids: seen.update({bid: ids}),
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

        survivors = sorted(x for ids in seen.values() for x in ids)
        # 1,2 unique; 10 = edited copy of 1 (dropped), 11 unique;
        # 20/21 within-batch near-dups -> min id 20; 22 = exact copy of 2
        assert survivors == [1, 2, 11, 20]

        # the store holds exactly the survivors' band rows
        store = read_store(spark, f"{tmp}/store")
        assert sorted(
            r["doc_id"] for r in store.select("doc_id").distinct().collect()
        ) == [1, 2, 11, 20]

        # replay of the LAST batch (at-least-once redelivery): the
        # cross-batch check excludes the batch's OWN delta dir, so the
        # replay reaches the SAME decision (20 survives within-batch,
        # 22 still collides with accepted history) and overwrites its
        # subdirectory instead of double-appending
        prior_rows = store.count()
        last_bid = max(seen)
        replay_rows = spark.createDataFrame(
            batches[-1], "doc_id long, text string"
        )
        again = neardup_batch(replay_rows, f"{tmp}/store", last_bid)
        assert again == seen[last_bid] == [20]
        store2 = read_store(spark, f"{tmp}/store")
        assert store2.count() == prior_rows
        assert store2.groupBy("doc_id", "band").count().filter(
            F.col("count") > 1
        ).count() == 0
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_ingest_after_delete_keeps_pq_servable(spark, sf_dir):
    """A delete (tombstone-only tip, no pq manifest) must not blind the
    streaming PQ detection: the next ingested delta still gets codes from
    the chain's codebooks and the PQ handle stays loadable."""
    import numpy as np

    from cuda_acceleratedvectordatabaseengine_spark.operators.pq import IVFPQIndex
    from cuda_acceleratedvectordatabaseengine_spark.streaming.ingest_stream import (
        ingest_batch,
    )

    emb = tables.load(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vector")
    )
    tmp = tempfile.mkdtemp(prefix="cavde-del-ingest-")
    try:
        init = np.asarray(
            [r["vector"] for r in emb.orderBy("id").limit(8).collect()],
            dtype=np.float64,
        )
        base = IVFIndex.build(
            emb.filter(F.col("id") % 3 == 0), tmp, "del_pq_stream",
            nlist=8, init=init, train=False,
        )
        IVFPQIndex.build_from_ivf(base, m=16, nbits=8, seed=42)
        victims = [r["id"] for r in emb.filter(F.col("id") % 3 == 0).limit(3).collect()]
        base.delete(victims)  # tombstone tip, pq=None

        idx = IVFIndex.load(spark, tmp, "del_pq_stream")
        idx, kind = ingest_batch(idx, emb.filter(F.col("id") % 3 == 1), batch_id=0)
        assert kind == "delta"
        served = IVFPQIndex.load(spark, tmp, "del_pq_stream")
        want = (
            emb.filter(F.col("id") % 3 == 0).count()
            - len(victims)
            + emb.filter(F.col("id") % 3 == 1).count()
        )
        assert served.codes.count() == want
        assert served.vectors.count() == want
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_streaming_curation_gate_matches_batch(spark, sf_dir):
    """The inline curation gate (lang + quality + stateful exact dedup)
    emits exactly the batch funnel's stage-3 survivors' fingerprints, and
    the metrics stream's cumulative counters equal the batch stage counts."""
    from cuda_acceleratedvectordatabaseengine_spark.functions import text as TXT
    from cuda_acceleratedvectordatabaseengine_spark.streaming.curate_stream import (
        curate_stream,
        gate_metrics_stream,
    )

    docs = tables.load(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang"
    )
    tmp = tempfile.mkdtemp(prefix="cavde-scurate-")
    try:
        # three arrival waves; wave 2 re-sends a slice of wave 1 under new
        # ids (cross-batch duplicates the gate must drop)
        half = docs.filter(F.col("doc_id") % 2 == 0)
        rest = docs.filter(F.col("doc_id") % 2 == 1)
        half.write.parquet(f"{tmp}/in/part0")
        half.limit(30).withColumn(
            "doc_id", F.col("doc_id") + 1_000_000
        ).write.parquet(f"{tmp}/in/part1")
        rest.write.parquet(f"{tmp}/in/part2")

        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{tmp}/in/part*")
        )
        q1 = (
            curate_stream(stream)
            .writeStream.format("memory")
            .queryName("cavde_scurate")
            .outputMode("append")
            .option("checkpointLocation", f"{tmp}/ckpt1")
            .start()
        )
        q2 = (
            gate_metrics_stream(stream)
            .writeStream.format("memory")
            .queryName("cavde_scurate_m")
            .outputMode("complete")
            .option("checkpointLocation", f"{tmp}/ckpt2")
            .start()
        )
        try:
            q1.processAllAvailable()
            q2.processAllAvailable()
            winners = spark.table("cavde_scurate").collect()
            metrics = spark.table("cavde_scurate_m").collect()
        finally:
            q1.stop()
            q2.stop()

        arrived = spark.read.parquet(f"{tmp}/in/part*")
        gated = arrived.filter(
            (F.col("lang") == "en")
            & (TXT.quality_score_expr("text") >= 0.5)
        )
        batch_fps = {
            r["fingerprint"]
            for r in gated.select(
                TXT.doc_fingerprint_expr("text").alias("fingerprint")
            ).collect()
        }
        # one winner per distinct gated fingerprint; clones never win
        assert {r["fingerprint"] for r in winners} == batch_fps
        assert len(winners) == len(batch_fps)
        assert all(r["doc_id"] < 1_000_000 for r in winners)

        # metrics (complete mode -> final cumulative row) match batch counts
        m = metrics[-1]
        assert m["n_raw"] == arrived.count()
        assert m["n_lang"] == arrived.filter(F.col("lang") == "en").count()
        assert m["n_quality"] == gated.count()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_streaming_ingest_maintains_sq_and_bq_codes(spark, sf_dir):
    """The sidecar maintenance loop generalizes past PQ: an index carrying
    BOTH SQ and BQ artifacts gets BOTH maintained on every trigger — delta
    epochs encode only their own vectors with inherited params, compaction
    re-encodes whole, and both serving paths stay loadable."""
    import numpy as np

    from cuda_acceleratedvectordatabaseengine_spark.operators.bq import IVFBQIndex
    from cuda_acceleratedvectordatabaseengine_spark.operators.sq import IVFSQIndex
    from cuda_acceleratedvectordatabaseengine_spark.streaming.ingest_stream import (
        ingest_batch,
    )

    emb = tables.load(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vector")
    )
    n_total = emb.count()
    tmp = tempfile.mkdtemp(prefix="cavde-sqbq-ingest-")
    try:
        init = np.asarray(
            [r["vector"] for r in emb.orderBy("id").limit(8).collect()],
            dtype=np.float64,
        )
        base = IVFIndex.build(
            emb.filter(F.col("id") % 3 == 0), tmp, "sqbq_stream",
            nlist=8, init=init, train=False,
        )
        sq_base = IVFSQIndex.build_from_ivf(base)
        bq_base = IVFBQIndex.build_from_ivf(base)

        idx = IVFIndex.load(spark, tmp, "sqbq_stream")
        idx, kind = ingest_batch(
            idx, emb.filter(F.col("id") % 3 == 1), batch_id=0, compact_every=3
        )
        assert kind == "delta"
        man = idx.manager.read_manifest(idx.epoch)
        assert man.sq and man.sq["scope"] == "delta"
        assert man.bq and man.bq["scope"] == "delta"
        served_sq = IVFSQIndex.load(spark, tmp, "sqbq_stream")
        np.testing.assert_array_equal(served_sq.vmin, sq_base.vmin)
        served_bq = IVFBQIndex.load(spark, tmp, "sqbq_stream")
        np.testing.assert_array_equal(served_bq.thresholds, bq_base.thresholds)
        n_now = emb.filter(F.col("id") % 3 != 2).count()
        assert served_sq.codes.count() == n_now
        assert served_bq.codes.count() == n_now

        idx, kind = ingest_batch(
            idx, emb.filter(F.col("id") % 3 == 2), batch_id=1, compact_every=3
        )
        assert kind == "compacted"
        man = idx.manager.read_manifest(idx.epoch)
        assert man.sq["scope"] == "chain" and man.bq["scope"] == "chain"
        served_sq = IVFSQIndex.load(spark, tmp, "sqbq_stream")
        served_bq = IVFBQIndex.load(spark, tmp, "sqbq_stream")
        assert served_sq.codes.count() == n_total
        assert served_bq.codes.count() == n_total

        probe = emb.filter(F.col("id") % 3 == 2).agg(F.max("id")).collect()[0][0]
        qdf = emb.filter(F.col("id") == probe).select(
            F.col("id").alias("query_id"), F.col("vector").alias("qvec")
        )
        got = served_sq.search(
            qdf, k=1, nprobe=8, rerank_exact=True, rerank_k=10
        ).collect()
        assert got and got[0]["id"] == probe
        got = served_bq.search(qdf, k=1, nprobe=8).collect()
        assert got and got[0]["id"] == probe and got[0]["distance"] == 0.0
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_streaming_neardup_store_compaction_bounds_files(spark):
    """compact_every folds the per-batch delta dirs into one committed
    compact dir: file count stays bounded under many micro-batches,
    results (survivors + store contents) are identical to the
    uncompacted run, and a replayed finished compaction is a no-op."""
    import os

    import numpy as np

    from cuda_acceleratedvectordatabaseengine_spark.streaming import (
        neardup_stream as ns,
    )

    rng = np.random.default_rng(99)
    vocab = [f"word{i}" for i in range(400)]

    def doc(i):
        return " ".join(rng.choice(vocab, size=40, replace=True))

    batches = [[(b * 10 + j, doc(b * 10 + j)) for j in range(2)] for b in range(8)]

    stores = {}
    for label, ce in (("compacted", 3), ("plain", None)):
        tmp = tempfile.mkdtemp(prefix=f"cavde-ndc-{label}-")
        stores[label] = tmp
        survivors = []
        for bid, rows in enumerate(batches):
            df = spark.createDataFrame(rows, "doc_id long, text string")
            survivors += ns.neardup_batch(
                df, f"{tmp}/store", bid, compact_every=ce
            )
        stores[label + "_survivors"] = sorted(survivors)

    try:
        comp_store = f"{stores['compacted']}/store"
        plain_store = f"{stores['plain']}/store"
        # identical decisions and identical accumulated band rows
        assert stores["compacted_survivors"] == stores["plain_survivors"]
        got = {
            (r.doc_id, r.band, r.bh)
            for r in ns.read_store(spark, comp_store).collect()
        }
        want = {
            (r.doc_id, r.band, r.bh)
            for r in ns.read_store(spark, plain_store).collect()
        }
        assert got == want and got
        # the dir count is bounded: < compact_every deltas + 1 compact,
        # vs one delta dir per batch without compaction
        names = os.listdir(comp_store)
        deltas = [n for n in names if n.startswith("batch_id=")]
        compacts = [n for n in names if n.startswith("compact_id=")]
        assert len(compacts) == 1
        assert len(deltas) < 3
        assert (
            len([n for n in os.listdir(plain_store) if n.startswith("batch_id=")])
            == len(batches)
        )
        # replaying the already-committed compaction is a no-op
        cid = int(compacts[0].split("=")[1])
        assert ns.compact_store(spark, comp_store, cid) is False
        # a LATER near-dup batch still collides against compacted history
        dup_rows = spark.createDataFrame(
            [batches[0][0]], "doc_id long, text string"
        )
        assert ns.neardup_batch(dup_rows, comp_store, 100) == []
    finally:
        shutil.rmtree(stores["compacted"], ignore_errors=True)
        shutil.rmtree(stores["plain"], ignore_errors=True)


def test_streaming_neardup_replay_after_own_compaction(spark):
    """A batch whose trigger also ran a compaction must NOT fold its own
    delta: if the process crashes between compaction and the checkpoint
    commit, the replay of that batch must reach the ORIGINAL survivor
    decision (not self-collide against the compact dir and report [])."""
    import os

    import numpy as np

    from cuda_acceleratedvectordatabaseengine_spark.streaming import (
        neardup_stream as ns,
    )

    rng = np.random.default_rng(7)
    vocab = [f"tok{i}" for i in range(300)]

    def doc():
        return " ".join(rng.choice(vocab, size=40, replace=True))

    tmp = tempfile.mkdtemp(prefix="cavde-ndr-")
    store = f"{tmp}/store"
    try:
        batches = [
            [(b * 10 + j, doc()) for j in range(2)] for b in range(4)
        ]
        first = {}
        # compact_every=3: the batch-3 trigger compacts batches 0-2
        for bid, rows in enumerate(batches):
            df = spark.createDataFrame(rows, "doc_id long, text string")
            first[bid] = ns.neardup_batch(df, store, bid, compact_every=3)
        names = os.listdir(store)
        # compaction ran, but batch 3's own delta was excluded from it
        assert any(n.startswith("compact_id=") for n in names)
        assert "batch_id=3" in names
        # crash-replay of batch 3: same decision as the original run
        df3 = spark.createDataFrame(batches[3], "doc_id long, text string")
        assert ns.neardup_batch(df3, store, 3, compact_every=3) == first[3]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_streaming_neardup_orphan_compact_cleanup(spark):
    """An uncommitted compact_id dir (crashed partial compact write) is
    invisible to readers AND gets deleted by the next compact_store call
    instead of accumulating forever."""
    import os

    from cuda_acceleratedvectordatabaseengine_spark.streaming import (
        neardup_stream as ns,
    )

    tmp = tempfile.mkdtemp(prefix="cavde-ndo-")
    store = f"{tmp}/store"
    try:
        import numpy as np

        rng = np.random.default_rng(13)
        vocab = [f"w{i}" for i in range(500)]
        for bid in range(3):
            text = " ".join(rng.choice(vocab, size=40, replace=True))
            df = spark.createDataFrame(
                [(bid, text)], "doc_id long, text string"
            )
            ns.neardup_batch(df, store, bid, compact_every=None)
        # fake a crashed partial compact: parquet data, no _SUCCESS
        orphan = os.path.join(store, "compact_id=1")
        os.makedirs(orphan)
        with open(os.path.join(orphan, "part-00000.parquet"), "wb") as f:
            f.write(b"not a real parquet footer")
        compact, deltas = ns._store_parts(store)
        assert compact is None and len(deltas) == 3  # orphan invisible
        assert ns.compact_store(spark, store, 99) is True
        names = os.listdir(store)
        assert "compact_id=1" not in names  # orphan swept
        assert names == ["compact_id=99"] or set(names) == {"compact_id=99"}
        assert ns.read_store(spark, store).select("doc_id").distinct().count() == 3
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_streaming_gate_with_trained_quality_model(spark, sf_dir):
    """The TRAINED quality gate streams exactly like the heuristic one
    (it is a pure Catalyst expression): the survivor stream under
    quality_expr=sigmoid(Xw)>=tau matches the batch filter with the same
    expression + first-seen exact dedup."""
    import numpy as np

    from cuda_acceleratedvectordatabaseengine_spark.functions import text as TXT
    from cuda_acceleratedvectordatabaseengine_spark.operators import (
        classifier as C,
    )
    from cuda_acceleratedvectordatabaseengine_spark.streaming.curate_stream import (
        curate_stream,
    )

    docs = tables.load(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang"
    )
    labeled = docs.withColumn(
        "y", (TXT.quality_score_expr("text") >= 0.5).cast("int")
    )
    w = C.train_quality_model(labeled, "y")
    gate = C.quality_prob_expr(w, "text") >= 0.5

    tmp = tempfile.mkdtemp(prefix="cavde-mgate-")
    try:
        docs.filter(F.col("doc_id") % 2 == 0).write.parquet(f"{tmp}/in/p0")
        docs.filter(F.col("doc_id") % 2 == 1).write.parquet(f"{tmp}/in/p1")
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{tmp}/in/p*")
        )
        q = (
            curate_stream(stream, quality_expr=gate)
            .writeStream.format("memory")
            .queryName("cavde_mgate")
            .outputMode("append")
            .option("checkpointLocation", f"{tmp}/ckpt")
            .start()
        )
        try:
            q.processAllAvailable()
            got = {r["fingerprint"] for r in spark.table("cavde_mgate").collect()}
        finally:
            q.stop()
        want = {
            r["fp"]
            for r in docs.filter((F.col("lang") == "en") & gate)
            .select(TXT.doc_fingerprint_expr("text").alias("fp"))
            .distinct()
            .collect()
        }
        assert got == want and got
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_streaming_gate_pii_scrub_collapses_clones(spark):
    """pii_classes in curate_stream scrubs BEFORE the dedup fingerprint —
    docs differing only in their PII spans (two waves, different emails)
    collapse to one winner, matching the batch funnel's pii stage order."""
    from cuda_acceleratedvectordatabaseengine_spark.functions import text as TXT
    from cuda_acceleratedvectordatabaseengine_spark.operators import textops
    from cuda_acceleratedvectordatabaseengine_spark.streaming.curate_stream import (
        curate_stream,
    )

    base = "the quick brown fox jumps over the lazy dog " * 15
    wave0 = [(1, base + "contact alice@ex.io", "en"),
             (2, base + "something else entirely here today", "en")]
    wave1 = [(3, base + "contact bob@corp.net", "en")]  # clone modulo PII
    tmp = tempfile.mkdtemp(prefix="cavde-spii-")
    try:
        schema = "doc_id long, text string, lang string"
        spark.createDataFrame(wave0, schema).write.parquet(f"{tmp}/in/p0")
        spark.createDataFrame(wave1, schema).write.parquet(f"{tmp}/in/p1")
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{tmp}/in/p*")
        )
        q = (
            curate_stream(stream, pii_classes=TXT.PII_CLASSES)
            .writeStream.format("memory")
            .queryName("cavde_spii")
            .outputMode("append")
            .option("checkpointLocation", f"{tmp}/ckpt")
            .start()
        )
        try:
            q.processAllAvailable()
            winners = spark.table("cavde_spii").collect()
        finally:
            q.stop()
        # doc 3 is doc 1 with a different email -> identical after scrub
        assert sorted(r["doc_id"] for r in winners) == [1, 2]
        redacted = {
            r["fingerprint"]
            for r in textops.pii_redact(
                spark.createDataFrame(wave0 + wave1, schema)
            ).select(
                TXT.doc_fingerprint_expr("text").alias("fingerprint")
            ).collect()
        }
        assert {r["fingerprint"] for r in winners} == redacted
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_streaming_ingest_maintains_residual_pq(spark, sf_dir):
    """A RESIDUAL-PQ index under the streaming maintenance loop: delta
    epochs and the compaction re-encode both land in the inherited
    residual space (flag carried through every trigger), and the served
    chain's ADC distances keep satisfying the reconstruction identity —
    the regression test for raw-vectors-encoded-with-residual-codebooks."""
    import numpy as np

    from cuda_acceleratedvectordatabaseengine_spark.operators import pq as PQ
    from cuda_acceleratedvectordatabaseengine_spark.operators.pq import (
        IVFPQIndex,
    )
    from cuda_acceleratedvectordatabaseengine_spark.streaming.ingest_stream import (
        ingest_batch,
    )

    emb = tables.load(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vector")
    )
    tmp = tempfile.mkdtemp(prefix="cavde-respq-ingest-")
    try:
        init = np.asarray(
            [r["vector"] for r in emb.orderBy("id").limit(8).collect()],
            dtype=np.float64,
        )
        base = IVFIndex.build(
            emb.filter(F.col("id") % 3 == 0), tmp, "respq_stream",
            nlist=8, init=init, train=False,
        )
        IVFPQIndex.build_from_ivf(base, m=16, nbits=8, seed=42, residual=True)

        idx = IVFIndex.load(spark, tmp, "respq_stream")
        idx, kind = ingest_batch(
            idx, emb.filter(F.col("id") % 3 == 1), batch_id=0,
            compact_every=3,
        )
        assert kind == "delta"
        mgr = idx.manager
        assert mgr.read_manifest(idx.epoch).pq["residual"] is True
        idx, kind = ingest_batch(
            idx, emb.filter(F.col("id") % 3 == 2), batch_id=1,
            compact_every=3,
        )
        assert kind == "compacted"
        assert mgr.read_manifest(idx.epoch).pq["residual"] is True

        served = IVFPQIndex.load(spark, tmp, "respq_stream")
        assert served.residual
        qdf = emb.filter(F.col("id") < 3).select(
            F.col("id").alias("query_id"), F.col("vector").alias("qvec")
        )
        codes = {
            r["id"]: (r["list_id"], np.frombuffer(bytes(r["codes"]), np.uint8))
            for r in served.codes.collect()
        }
        qv = {
            r["query_id"]: np.array(r["qvec"], np.float64)
            for r in qdf.collect()
        }
        rows = served.search(qdf, k=20, nprobe=8).collect()
        assert rows
        for r in rows:
            lid, c = codes[r["id"]]
            recon = served.centroids[lid] + PQ.reconstruct(
                c[None, :], served.codebooks
            )[0]
            want = float(((qv[r["query_id"]] - recon) ** 2).sum())
            assert abs(r["distance"] - want) < 1e-6
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_streaming_url_dedup_matches_batch(spark, sf_dir):
    """dedup_stream(key_expr=canonical_url) is the arrival-time twin of
    dedup.dedup_by_url: one winner per canonical URL across micro-batches,
    raw-form noise (case/port/utm/fragment) collapsing to the same key."""
    from cuda_acceleratedvectordatabaseengine_spark.functions import urls as U
    from cuda_acceleratedvectordatabaseengine_spark.streaming.dedup_stream import (
        dedup_stream,
    )

    base = tables.load(spark, sf_dir, "documents").select("doc_id").limit(200)
    urls = base.select(
        "doc_id",
        F.expr(
            "'http://Site' || CAST(doc_id % 40 AS STRING) || '.com'"
            " || '/p' || CAST(doc_id % 7 AS STRING)"
            " || CASE WHEN doc_id % 2 = 0 THEN '?utm_source=x' ELSE '' END"
            " || CASE WHEN doc_id % 3 = 0 THEN '#frag' ELSE '' END"
        ).alias("url"),
    )
    tmp = tempfile.mkdtemp(prefix="cavde-surl-")
    try:
        urls.filter(F.col("doc_id") % 2 == 0).write.parquet(f"{tmp}/in/part0")
        urls.filter(F.col("doc_id") % 2 == 1).write.parquet(f"{tmp}/in/part1")
        stream = (
            spark.readStream.schema(urls.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{tmp}/in/part*")
        )
        q = (
            dedup_stream(stream, key_expr=U.canonical_url_expr("url"))
            .writeStream.format("memory")
            .queryName("cavde_surl")
            .outputMode("append")
            .option("checkpointLocation", f"{tmp}/ckpt")
            .start()
        )
        try:
            q.processAllAvailable()
            got = spark.table("cavde_surl").collect()
        finally:
            q.stop()
        arrived = spark.read.parquet(f"{tmp}/in/part*")
        groups: dict[str, set] = {}
        for r in arrived.select(
            "doc_id", U.canonical_url_expr("url").alias("cu")
        ).collect():
            groups.setdefault(r["cu"], set()).add(r["doc_id"])
        assert len(got) == len(groups)
        assert {r["fingerprint"] for r in got} == set(groups)
        for r in got:
            assert r["doc_id"] in groups[r["fingerprint"]]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_streaming_gate_accepts_gopher_expr(spark, sf_dir):
    """curate_stream's quality_expr hook runs the Gopher rule set at
    arrival time: survivors equal the batch gopher_filter over the same
    gated lineage (lang filter + gate are stateless projections)."""
    from cuda_acceleratedvectordatabaseengine_spark.functions import text as TXT
    from cuda_acceleratedvectordatabaseengine_spark.streaming.curate_stream import (
        curate_stream,
    )

    docs = tables.load(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang"
    )
    tmp = tempfile.mkdtemp(prefix="cavde-sgopher-")
    try:
        docs.filter(F.col("doc_id") % 2 == 0).write.parquet(f"{tmp}/in/part0")
        docs.filter(F.col("doc_id") % 2 == 1).write.parquet(f"{tmp}/in/part1")
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{tmp}/in/part*")
        )
        q = (
            curate_stream(stream, quality_expr=TXT.gopher_keep_expr("text"))
            .writeStream.format("memory")
            .queryName("cavde_sgopher")
            .outputMode("append")
            .option("checkpointLocation", f"{tmp}/ckpt")
            .start()
        )
        try:
            q.processAllAvailable()
            got = spark.table("cavde_sgopher").collect()
        finally:
            q.stop()
        arrived = spark.read.parquet(f"{tmp}/in/part*")
        gated = arrived.filter(
            (F.col("lang") == "en") & TXT.gopher_keep_expr("text")
        )
        # one winner per distinct fingerprint among gopher survivors
        want = gated.select(
            TXT.doc_fingerprint_expr("text").alias("fp")
        ).distinct()
        assert len(got) == want.count()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_streaming_web_ingest_matches_batch(spark, sf_dir):
    """web_ingest_stream = stateless crawl gates + stateful canonical-URL
    first-seen dedup: exactly one winner per canonical URL among the
    documents that pass the batch gate chain, across micro-batches."""
    from cuda_acceleratedvectordatabaseengine_spark.functions import (
        text as TXT,
    )
    from cuda_acceleratedvectordatabaseengine_spark.functions import urls as U
    from cuda_acceleratedvectordatabaseengine_spark.operators import (
        textops,
        web,
    )
    from cuda_acceleratedvectordatabaseengine_spark.streaming.web_stream import (
        web_ingest_stream,
    )

    docs = tables.load(spark, sf_dir, "documents").select("doc_id", "text")
    manifest = docs.limit(300).select(
        "doc_id",
        F.expr(
            "'http://' || CASE WHEN doc_id % 13 = 0 THEN 'spam.bad.com' "
            "ELSE 'site' || CAST(doc_id % 4 AS STRING) || '.com' END || "
            "'/a/' || CAST(doc_id % 60 AS STRING) || "
            "CASE WHEN doc_id % 2 = 0 THEN '?utm_source=x' ELSE '' END"
        ).alias("url"),
        F.expr(
            "'<h1>Story about the data begins now.</h1>' || "
            "'<p>' || text || ' And that is all we have to say.</p>' || "
            "'<p>The quick brown fox jumps over the lazy dog to be "
            "sure of it and more words follow here today.</p>' || "
            "'<p>We have more words with the usual stopwords of and to "
            "be here now in this very long closing paragraph with many "
            "extra words to clear the fifty word minimum easily for "
            "sure.</p>'"
        ).alias("html"),
    )
    tmp = tempfile.mkdtemp(prefix="cavde-swebingest-")
    try:
        manifest.filter(F.col("doc_id") % 2 == 0).write.parquet(
            f"{tmp}/in/part0"
        )
        manifest.filter(F.col("doc_id") % 2 == 1).write.parquet(
            f"{tmp}/in/part1"
        )
        stream = (
            spark.readStream.schema(manifest.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{tmp}/in/part*")
        )
        q = (
            web_ingest_stream(stream, blocked=["bad.com"])
            .writeStream.format("memory")
            .queryName("cavde_swebingest")
            .outputMode("append")
            .option("checkpointLocation", f"{tmp}/ckpt")
            .start()
        )
        try:
            q.processAllAvailable()
            got = spark.table("cavde_swebingest").collect()
        finally:
            q.stop()
        # batch twin: same stateless gates, then group by canonical URL
        arrived = spark.read.parquet(f"{tmp}/in/part*")
        gated = web.filter_domain_blocklist(
            arrived, ["bad.com"], url_col="url"
        )
        gated = textops.c4_clean(
            gated.withColumn("text", TXT.html_to_lines_expr("html")),
            text_col="text",
            keep_only=True,
        )
        gated = textops.gopher_filter(gated)
        groups: dict[str, set] = {}
        for r in gated.select(
            "doc_id", U.canonical_url_expr("url").alias("cu")
        ).collect():
            groups.setdefault(r["cu"], set()).add(r["doc_id"])
        assert len(groups) > 0  # the gates keep a non-trivial corpus
        assert len(got) == len(groups)
        assert {r["fingerprint"] for r in got} == set(groups)
        for r in got:
            assert r["doc_id"] in groups[r["fingerprint"]]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_streaming_warc_arrival_matches_batch(spark, sf_dir):
    """The WARC arrival path end-to-end: crawl dumps land as gzip-member
    WARC files, each file is parsed by sources/warc.warc_manifest into
    the parquet landing (the per-dump increment), and web_ingest_stream
    consumes the landing — survivors equal the batch gate chain + one
    winner per canonical URL over the union of the dumps."""
    from cuda_acceleratedvectordatabaseengine_spark.functions import (
        text as TXT,
    )
    from cuda_acceleratedvectordatabaseengine_spark.functions import urls as U
    from cuda_acceleratedvectordatabaseengine_spark.operators import (
        textops,
        web,
    )
    from cuda_acceleratedvectordatabaseengine_spark.sources import warc as W
    from cuda_acceleratedvectordatabaseengine_spark.streaming.web_stream import (
        web_ingest_stream,
    )

    docs = tables.load(spark, sf_dir, "documents").select("doc_id", "text")
    manifest = docs.limit(120).select(
        "doc_id",
        F.expr(
            "'http://' || CASE WHEN doc_id % 13 = 0 THEN 'spam.bad.com' "
            "ELSE 'site' || CAST(doc_id % 4 AS STRING) || '.com' END || "
            "'/a/' || CAST(doc_id % 30 AS STRING) || "
            "CASE WHEN doc_id % 2 = 0 THEN '?utm_source=x' ELSE '' END"
        ).alias("url"),
        F.expr(
            "'<h1>Story about the data begins now.</h1>' || "
            "'<p>' || text || ' And that is all we have to say.</p>' || "
            "'<p>The quick brown fox jumps over the lazy dog to be "
            "sure of it and more words follow here today.</p>' || "
            "'<p>We have more words with the usual stopwords of and to "
            "be here now in this very long closing paragraph with many "
            "extra words to clear the fifty word minimum easily for "
            "sure.</p>'"
        ).alias("html"),
    )
    tmp = tempfile.mkdtemp(prefix="cavde-swarc-")
    try:
        # two crawl dumps arriving over time
        rows = [
            (r["doc_id"], r["url"], r["html"]) for r in manifest.collect()
        ]
        W.write_warc_file(
            [t for t in rows if t[0] % 2 == 0], f"{tmp}/dumps/d0.warc.gz"
        )
        W.write_warc_file(
            [t for t in rows if t[0] % 2 == 1], f"{tmp}/dumps/d1.warc.gz"
        )
        # per-dump landing job: parse each WARC increment into parquet
        for i in range(2):
            W.warc_manifest(spark, f"{tmp}/dumps/d{i}.warc.gz").select(
                "doc_id", "url", "html"
            ).write.parquet(f"{tmp}/in/part{i}")
        schema = "doc_id long, url string, html string"
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{tmp}/in/part*")
        )
        q = (
            web_ingest_stream(stream, blocked=["bad.com"])
            .writeStream.format("memory")
            .queryName("cavde_swarc")
            .outputMode("append")
            .option("checkpointLocation", f"{tmp}/ckpt")
            .start()
        )
        try:
            q.processAllAvailable()
            got = spark.table("cavde_swarc").collect()
        finally:
            q.stop()
        # batch twin over the union of the dumps, straight from the WARCs
        arrived = W.warc_manifest(spark, f"{tmp}/dumps/*.warc.gz").select(
            "doc_id", "url", "html"
        )
        gated = web.filter_domain_blocklist(
            arrived, ["bad.com"], url_col="url"
        )
        gated = textops.c4_clean(
            gated.withColumn("text", TXT.html_to_lines_expr("html")),
            text_col="text",
            keep_only=True,
        )
        gated = textops.gopher_filter(gated)
        groups: dict[str, set] = {}
        for r in gated.select(
            "doc_id", U.canonical_url_expr("url").alias("cu")
        ).collect():
            groups.setdefault(r["cu"], set()).add(r["doc_id"])
        assert len(groups) > 0
        assert len(got) == len(groups)
        assert {r["fingerprint"] for r in got} == set(groups)
        for r in got:
            assert r["doc_id"] in groups[r["fingerprint"]]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
