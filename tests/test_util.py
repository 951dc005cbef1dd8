"""util.sample_head: the scale-safe training-sample selector.

Motivated by a measured incident (PERF.md r10): ``corpus.limit(120_000)``
fed to ``kmeans.train`` on a 10M x 768-d virtual corpus compiled to
LocalLimit -> Exchange.SinglePartition of every row -> GlobalLimit and
spilled 61 GB before being killed. ``sample_head`` caps each partition
map-side so the exchange under the final exact limit carries ~n rows.
"""

import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from cuda_acceleratedvectordatabaseengine_spark.util import sample_head


def _src(spark, n=10_000, parts=16):
    return spark.range(0, n, 1, parts).select(
        "id", (F.col("id") * 2).alias("doubled")
    )


def test_sample_head_exact_n(spark):
    out = sample_head(_src(spark), 1_000)
    rows = out.collect()
    assert len(rows) == 1_000
    # schema preserved, values are real source rows
    assert out.columns == ["id", "doubled"]
    assert all(r["doubled"] == 2 * r["id"] for r in rows)


def test_sample_head_spreads_across_partitions(spark):
    # a prefix-only sample of a range partitioned by id would be ids
    # [0, 1000); the per-partition cap draws from every partition instead
    ids = {r["id"] for r in sample_head(_src(spark), 1_000).collect()}
    assert max(ids) >= 5_000


def test_sample_head_short_input_returns_all(spark):
    assert sample_head(_src(spark, n=300), 1_000).count() == 300


def test_sample_head_n_larger_than_cap_times_parts(spark):
    # ceil-division cap must not under-deliver when n % parts != 0
    assert sample_head(_src(spark, n=10_000, parts=7), 999).count() == 999


def test_sample_head_rejects_bad_n(spark):
    with pytest.raises(ValueError):
        sample_head(_src(spark), 0)


def test_sample_head_plan_has_no_single_partition_exchange_of_source(spark):
    # the map-side cap must sit BELOW the limit: the pre-limit relation the
    # single-partition exchange ships is the capped mapInArrow output, not
    # the source scan. Assert the physical plan orders them that way.
    plan = sample_head(_src(spark), 1_000)._jdf.queryExecution().executedPlan().toString()
    map_pos = plan.find("MapInArrow")
    limit_pos = plan.find("GlobalLimit")
    if limit_pos == -1:  # limit+orderBy(__tier) fuses into TakeOrdered
        limit_pos = plan.find("TakeOrderedAndProject")
    if limit_pos == -1:  # AQE can fold the limit; CollectLimit variant
        limit_pos = plan.find("CollectLimit")
    assert map_pos != -1
    # executedPlan prints top-down: the limit node appears ABOVE (before)
    # the MapInArrow it consumes
    assert limit_pos != -1 and limit_pos < map_pos


def test_sample_head_empty_input(spark):
    assert sample_head(_src(spark, n=1).filter("id < 0"), 10).count() == 0


def test_sample_head_skewed_partitioning_still_delivers_n(spark):
    # r10 ADVICE: the base quota alone cannot compensate across
    # partitions. With slack=4 (default) a corpus whose rows sit in only
    # 1/4 of its partitions must still deliver the full n via the
    # tier-1 reserve. Deterministic skew: 16 partitions, rows in 4.
    skewed = spark.range(0, 8_000, 1, 4).selectExpr(
        "id", "id * 2 as doubled"
    ).union(
        spark.range(0, 1, 1, 12).filter("id < 0").selectExpr("id", "id * 2 as doubled")
    )
    assert skewed.rdd.getNumPartitions() == 16
    assert sample_head(skewed, 1_000).count() == 1_000


def test_sample_head_extreme_skew_documented_shortfall(spark):
    # beyond 1/slack occupancy the helper MAY under-deliver — the
    # documented trade for a bounded exchange. Pin the floor: the one
    # live partition yields base + reserve = ceil(1000/16) +
    # ceil(3*1000/16) = 63 + 188 = 251 rows, never zero.
    skewed = spark.range(0, 8_000, 1, 1).selectExpr(
        "id", "id * 2 as doubled"
    ).union(
        spark.range(0, 1, 1, 15).filter("id < 0").selectExpr("id", "id * 2 as doubled")
    )
    got = sample_head(skewed, 1_000).count()
    assert got >= 250  # ceil(4*1000/16) = 250 from the one live partition


def test_sample_head_slack_widens_tolerance(spark):
    # slack=16 covers the 1-of-16 extreme case the default does not
    skewed = spark.range(0, 8_000, 1, 1).selectExpr(
        "id", "id * 2 as doubled"
    ).union(
        spark.range(0, 1, 1, 15).filter("id < 0").selectExpr("id", "id * 2 as doubled")
    )
    assert sample_head(skewed, 1_000, slack=16).count() == 1_000
    with pytest.raises(ValueError):
        sample_head(_src(spark), 10, slack=0)


def test_sample_head_tier_column_name_collision(spark):
    # a source that already has a __tier column must not be shadowed by
    # the internal tier tag
    df = spark.range(0, 2_000, 1, 8).selectExpr("id", "id % 3 as __tier")
    out = sample_head(df, 500)
    rows = out.collect()
    assert len(rows) == 500
    assert out.columns == ["id", "__tier"]
    assert all(r["__tier"] == r["id"] % 3 for r in rows)


# ---------------------------------------------------------------------------
# bucket_candidate_pairs: the one-exchange group-explode pair generator must
# emit EXACTLY the self-join shape's pairs, including the oversized-bucket
# cap semantics it subsumes from drop_oversized_buckets and the strict a<b
# that keeps a repeated id from pairing with itself.
# ---------------------------------------------------------------------------


def _bucketed(spark):
    # buckets: (0,'x') -> ids {1,2,3}; (0,'y') -> {4}; (1,'x') -> {5,6};
    # (1,'z') -> {7,8,9,10} (oversized at cap 3); cross-bucket repeat of
    # the (1,2) pair via (2,'w')
    rows = [
        (0, "x", 1), (0, "x", 2), (0, "x", 3),
        (0, "y", 4),
        (1, "x", 5), (1, "x", 6),
        (1, "z", 7), (1, "z", 8), (1, "z", 9), (1, "z", 10),
        (2, "w", 1), (2, "w", 2),
    ]
    return spark.createDataFrame(rows, "band int, bh string, doc_id int")


def _pairs(df):
    return sorted((r["a"], r["b"]) for r in df.collect())


def test_bucket_candidate_pairs_matches_self_join(spark):
    from cuda_acceleratedvectordatabaseengine_spark import util

    # (3,'d') holds id 11 twice: a repeated id must not pair with itself
    dup = spark.createDataFrame(
        [(3, "d", 11), (3, "d", 11), (3, "d", 12)],
        "band int, bh string, doc_id int",
    )
    src = _bucketed(spark).unionByName(dup)
    got = {}
    for impl in ("group_explode", "self_join"):
        got[impl] = _pairs(
            util.bucket_candidate_pairs(
                src, ["band", "bh"], "doc_id", "a", "b", 3, impl=impl
            )
        )
    # (1,'z') is dropped whole at cap 3; (1,2) appears once despite two
    # buckets; pairs are a < b
    assert got["group_explode"] == got["self_join"] == [
        (1, 2), (1, 3), (2, 3), (5, 6), (11, 12)
    ]


def test_bucket_candidate_pairs_cap_boundary_keeps_exact_size(spark):
    from cuda_acceleratedvectordatabaseengine_spark import util

    src = _bucketed(spark)
    # cap 4 admits the 4-member bucket (<=, matching drop_oversized_buckets)
    got = _pairs(
        util.bucket_candidate_pairs(src, ["band", "bh"], "doc_id", "a", "b", 4)
    )
    assert (7, 8) in got and (9, 10) in got


def test_bucket_candidate_pairs_payload_variant(spark):
    from cuda_acceleratedvectordatabaseengine_spark import util

    # block 1 holds doc 4 twice
    rows = [
        (0, 1, "p1"), (0, 2, "p2"), (0, 3, "p3"),
        (1, 4, "p4"), (1, 4, "p4"), (1, 5, "p5"),
    ]
    src = spark.createDataFrame(rows, "blk int, doc_id int, sig string")
    for impl in ("group_explode", "self_join"):
        out = sorted(
            tuple(r)
            for r in util.bucket_candidate_pairs(
                src, ["blk"], "doc_id", "a", "b", 10,
                payload_col="sig", out_pa="sa", out_pb="sb", impl=impl,
            ).collect()
        )
        assert out == [
            (1, 2, "p1", "p2"), (1, 3, "p1", "p3"), (2, 3, "p2", "p3"),
            (4, 5, "p4", "p5"),
        ], impl


def test_bucket_candidate_pairs_uncapped_falls_back_to_self_join(spark):
    from cuda_acceleratedvectordatabaseengine_spark import util

    src = _bucketed(spark)
    out = util.bucket_candidate_pairs(
        src, ["band", "bh"], "doc_id", "a", "b", None
    )
    # max_size=None must not collect buckets into array rows
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "collect_list" not in plan
    # and emits every within-bucket pair (no cap)
    assert (7, 8) in _pairs(out)


# adversarial bucket relations: few keys and ids, so buckets collide, ids
# repeat within and across buckets, singleton (pair-less) buckets abound
# and bucket sizes straddle the cap; one id may carry several payloads
_bucket_rows = st.lists(
    st.tuples(
        st.integers(0, 2),  # band
        st.sampled_from(["x", "y"]),  # bucket hash
        st.integers(0, 7),  # doc id
        st.sampled_from(["p", "q"]),  # payload
    ),
    max_size=24,
)


@given(rows=_bucket_rows, cap=st.integers(1, 6), payload=st.booleans())
@example(rows=[], cap=1, payload=False)  # no bucket at all
@example(rows=[(0, "x", 1, "p")] * 3 + [(0, "x", 2, "p")], cap=4, payload=False)
@example(rows=[(0, "x", 1, "p"), (0, "x", 1, "q"), (0, "x", 2, "p")], cap=3,
         payload=True)
@settings(max_examples=20, deadline=None)
def test_bucket_candidate_pairs_group_explode_equals_self_join(
    spark, rows, cap, payload
):
    """The group-explode path emits exactly the self-join's rows — and the
    pairs a brute-force reading of the contract gives: within a bucket of
    at most ``cap`` rows (repeats count), every distinct ``a < b`` pair,
    with each payload combination."""
    from cuda_acceleratedvectordatabaseengine_spark import util

    src = spark.createDataFrame(rows, "band int, bh string, doc_id int, sig string")
    kw = dict(payload_col="sig", out_pa="sa", out_pb="sb") if payload else {}
    got = {
        impl: sorted(
            tuple(r)
            for r in util.bucket_candidate_pairs(
                src, ["band", "bh"], "doc_id", "a", "b", cap, impl=impl, **kw
            ).collect()
        )
        for impl in ("group_explode", "self_join")
    }
    buckets: dict = {}
    for band, bh, doc, sig in rows:
        buckets.setdefault((band, bh), []).append((doc, sig))
    want = set()
    for members in buckets.values():
        if len(members) > cap:
            continue
        for a, pa_ in members:
            for b, pb_ in members:
                if a < b:
                    want.add((a, b, pa_, pb_) if payload else (a, b))
    assert got["group_explode"] == got["self_join"] == sorted(want)
