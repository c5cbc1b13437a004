"""Integer k-means (operators/cluster.py): hand-checkable separations;
corpus-scale engine/oracle parity is pinned by the cluster_kmeans gate."""

from __future__ import annotations

from pyspark.sql import functions as F


def _emb(spark, rows):
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")


def test_two_obvious_clusters_separate(spark):
    from webcrawler_woc_spark.operators.cluster import kmeans_int

    # vecs 0,2,4 near (0,0); vecs 1,3,5 near (10,10) — initial centroids are
    # vec 0 and vec 1, one in each blob, so 1 iteration already separates
    rows = [
        (0, [0.0, 0.1]), (1, [10.0, 10.1]),
        (2, [0.2, 0.0]), (3, [9.9, 10.0]),
        (4, [0.1, 0.2]), (5, [10.1, 9.9]),
    ]
    out = {r.vec_id: r.cid for r in kmeans_int(_emb(spark, rows), k=2, iterations=2).collect()}
    assert out[0] == out[2] == out[4]
    assert out[1] == out[3] == out[5]
    assert out[0] != out[1]


def test_deterministic_across_runs(spark):
    from webcrawler_woc_spark.operators.cluster import kmeans_int

    rows = [(i, [float((i * 7 + d * 3) % 11) for d in range(4)]) for i in range(20)]
    a = sorted(map(tuple, kmeans_int(_emb(spark, rows), k=3, iterations=3).collect()))
    b = sorted(map(tuple, kmeans_int(_emb(spark, rows), k=3, iterations=3).collect()))
    assert a == b  # integer arithmetic: no shuffle-order float drift


def test_semantic_dedup_keeps_min_id_per_near_dup_set(spark):
    from webcrawler_woc_spark.operators.cluster import semantic_dedup

    # 2 and 4 duplicate 0 (same direction => cosine 1.0); 1,3,5 form the
    # other blob with 3 duplicating 1; 5 is distinct within its cluster
    rows = [
        (0, [1.0, 0.0]), (1, [0.0, 1.0]),
        (2, [2.0, 0.0]), (3, [0.0, 3.0]),
        (4, [1.0, 0.0]), (5, [0.3, 1.0]),  # cos(5,1)=0.958 < threshold
    ]
    out = {r.vec_id: r.keep for r in semantic_dedup(
        _emb(spark, rows), k=2, iterations=2, threshold_ppm=990_000
    ).collect()}
    assert out[0] and out[1]          # min ids survive
    assert not out[2] and not out[4]  # duplicates of 0
    assert not out[3]                 # duplicate of 1
    assert out[5]                     # similar-but-below-threshold survives


def test_empty_cluster_keeps_centroid(spark):
    from webcrawler_woc_spark.operators.cluster import kmeans_int

    # k=3 but only two tight blobs: one initial centroid (vec 2, inside blob
    # A) loses all members to vec 0's updated centroid or keeps a subset —
    # either way every vector still gets assigned and dists stay finite
    rows = [
        (0, [0.0, 0.0]), (1, [10.0, 10.0]), (2, [0.1, 0.1]),
        (3, [0.05, 0.0]), (4, [10.1, 10.0]), (5, [9.9, 9.9]),
    ]
    out = kmeans_int(_emb(spark, rows), k=3, iterations=3).collect()
    assert len(out) == 6
    assert all(r.dist >= 0 for r in out)


def test_zero_norm_vector_is_never_a_duplicate_and_never_crashes(spark):
    """An all-zero embedding has undefined cosine; under ANSI mode an
    unguarded 0/0 -> floor(NaN) -> bigint cast would kill the job. It must
    instead survive with keep=True and not poison its cluster."""
    from webcrawler_woc_spark.operators.cluster import semantic_dedup

    rows = [
        (0, [1.0, 0.0]), (1, [0.0, 0.0]),  # zero vector clusters somewhere
        (2, [1.0, 0.0]),                    # true duplicate of 0
    ]
    out = {r.vec_id: r.keep for r in semantic_dedup(
        _emb(spark, rows), k=2, iterations=1, threshold_ppm=990_000
    ).collect()}
    assert out[1]       # undefined cosine -> not anyone's duplicate
    assert not out[2]   # the real duplicate is still caught


def test_null_and_short_vectors_are_kept_and_never_keepers(spark):
    """kmeans_int assigns a NULL or a short (ragged) embedding a cluster
    with a NULL dist; the within-cluster kernel must keep such rows, never
    mark them a duplicate nor let them make another row one."""
    from webcrawler_woc_spark.operators.cluster import kmeans_int, semantic_dedup

    rows = [
        (0, None),          # NULL vector, lowest id: would be every row's keeper
        (1, [1.0]),         # short vector
        (2, [1.0, 0.0]),
        (3, [0.0, 1.0]),
        (4, [1.0, 0.0]),    # true duplicate of 2
        (5, [0.0, 1.0]),    # true duplicate of 3
    ]
    df = _emb(spark, rows)
    assigned = {r.vec_id: r.dist for r in kmeans_int(df, k=2, iterations=1).collect()}
    assert sorted(assigned) == list(range(6))  # kmeans keeps both rows...
    assert assigned[0] is None and assigned[1] is None  # ...with no distance
    out = {r.vec_id: r.keep for r in semantic_dedup(
        df, k=2, iterations=1, threshold_ppm=990_000
    ).collect()}
    assert out[0] and out[1]      # kept
    assert out[2] and out[3]      # not duplicates of the NULL/short rows
    assert not out[4] and not out[5]  # the real duplicates are still caught
