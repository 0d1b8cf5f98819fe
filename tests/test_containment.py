"""Goldens for the asymmetric-dedup pair: shingle containment
(operators/dedup.py) and dup-cluster size histogram
(operators/clusters.py)."""

from __future__ import annotations

from aroma_spark.operators.clusters import cluster_size_histogram
from aroma_spark.operators.dedup import containment_pairs, ngram_jaccard_pairs


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_containment_quote_detection(spark):
    # doc 1 ("a b c d", 2 shingles) is fully inside doc 2
    # ("a b c d e", 3 shingles): containment = 2/min(2,3) = 1.0,
    # where Jaccard would only be 2/3.
    rows = [
        (1, "a b c d"),
        (2, "a b c d e"),
        (3, "x y z w"),
    ]
    out = containment_pairs(_docs(spark, rows), threshold=0.5).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["doc_a"], r["doc_b"]) == (1, 2)
    assert (r["n_inter"], r["n_a"], r["n_b"]) == (2, 2, 3)
    assert r["containment"] == 1.0


def test_containment_threshold_filters(spark):
    # docs share 1 of min-2 shingles -> 0.5; threshold 0.6 drops it
    rows = [
        (1, "a b c x"),
        (2, "a b c y"),
    ]
    # shingles: doc1 {a b c, b c x}, doc2 {a b c, b c y} -> inter 1,
    # containment = 1/2 = 0.5
    assert containment_pairs(_docs(spark, rows), threshold=0.6).count() == 0
    r = containment_pairs(_docs(spark, rows), threshold=0.5).collect()[0]
    assert r["containment"] == 0.5


def test_containment_no_shared_shingles(spark):
    rows = [(1, "a b c"), (2, "x y z")]
    assert containment_pairs(_docs(spark, rows), threshold=0.0).count() == 0


def test_pair_verifiers_leave_cache_manager_empty(spark):
    # the shingle frame both pair verifiers reuse is owned by the
    # result, not registered in the session-wide CacheManager
    spark.catalog.clearCache()
    docs = _docs(spark, [(1, "a b c d"), (2, "a b c d e"), (3, "a b c x")])
    for _ in range(2):
        assert ngram_jaccard_pairs(docs, threshold=0.0).collect()
        assert containment_pairs(docs, threshold=0.0).collect()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_cluster_histogram_hand_computed(spark):
    comp = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 10), (4, 20), (5, 20), (6, 30)],
        "node long, component long",
    )
    out = {
        r["cluster_size"]: (r["n_clusters"], r["n_docs"])
        for r in cluster_size_histogram(comp).collect()
    }
    assert out == {3: (1, 3), 2: (1, 2), 1: (1, 1)}


def test_cluster_histogram_uniform(spark):
    comp = spark.createDataFrame(
        [(i, i // 2) for i in range(8)], "node long, component long"
    )
    out = {
        r["cluster_size"]: (r["n_clusters"], r["n_docs"])
        for r in cluster_size_histogram(comp).collect()
    }
    assert out == {2: (4, 8)}


def test_lsh_candidate_quality_buckets(spark):
    from aroma_spark.operators.dedup import lsh_candidate_quality

    # exact duplicates land in bucket 10; near-dups in a middle bucket
    rows = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "alpha beta gamma delta epsilon zeta"),  # exact dup of 1
        (3, "totally different words entirely here now"),
    ]
    out = {r["jaccard_bucket"]: r["n_pairs"] for r in lsh_candidate_quality(_docs(spark, rows)).collect()}
    assert out.get(10, 0) >= 1  # the exact-dup pair reaches bucket 10
    # the unrelated doc should not appear paired with the dups at
    # high jaccard; any candidate involving doc 3 would score 0
    assert all(b in (0, 10) for b in out)


def test_returns_by_month(spark):
    from pyspark.sql import functions as F

    from aroma_spark.operators.tpch import returns_by_month

    li = spark.createDataFrame(
        [
            ("R", 10.00, "1996-01-05 00:00:00"),
            ("N", 5.00, "1996-01-06 00:00:00"),
            ("N", 1.00, "1996-01-07 00:00:00"),
            ("A", 2.00, "1996-02-01 00:00:00"),
        ],
        "l_returnflag string, l_extendedprice double, l_shipdate string",
    ).withColumn("l_shipdate", F.to_timestamp("l_shipdate"))
    out = {
        (r["month_ts"].month, r["l_returnflag"]): r
        for r in returns_by_month(li).collect()
    }
    jan_r = out[(1, "R")]
    assert (jan_r["n_lines"], jan_r["value_c"], jan_r["n_month"]) == (1, 1000, 3)
    assert jan_r["flag_share"] == 0.333333
    jan_n = out[(1, "N")]
    assert (jan_n["n_lines"], jan_n["value_c"]) == (2, 600)
    assert out[(2, "A")]["flag_share"] == 1.0
