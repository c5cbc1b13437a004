"""Embedding clustering: distributed k-means in exact integer arithmetic —
the SemDeDup-style curation stage (cluster the corpus embeddings, then
dedup/diversify WITHIN clusters so the near-dup search never goes global).

Why integer: float centroid updates are sums whose value depends on shuffle
order — irreproducible across runs AND across engines. Here embeddings are
scaled to integers once (floor(x * 1000) after an explicit double cast, the
same IEEE op in DuckDB), distances are exact integer squared-L2, and the
centroid update is an integer mean (sum div count) — order-independent at
every step, so the fixed-iteration result is value-identical in the SQL
oracle (the same trick as graph.pagerank_int).

Scale shape per iteration (the textbook Spark k-means layout):
* assignment — corpus x broadcast(ONE row holding all k centroids as a
  cid-sorted struct array): k·dim integers broadcast, one scan, argmin as
  a pure projection (array_min over struct<dist,cid> == (dist ASC, cid
  ASC) ties) — ZERO exchange of the corpus; the assigned vector rides the
  same projection so the update never re-joins the corpus on vec_id.
* update — posexplode to (cid, dim, val), one partial-agg'd groupBy on
  (cid, dim) (map-side combine bounds the shuffle at k·dim rows per
  partition), rebuild arrays with array_agg sorted by dim.
* localCheckpoint between iterations truncates the growing lineage
  (cache() would not — see graph.py).

Initial centroids are the first k corpus vectors (deterministic 'training
sample', the documented compromise shared with similarity.ivf_ann_topk —
real deployments k-means++ seed, whose RNG is out of the oracle contract).

Reference n/a: the reference crawler has no analytics (src/crawler.rs);
this is part of the beyond-reference training-data surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _int_vec(col, scale: int) -> "F.Column":
    # CAST to double BEFORE scaling: float*int arithmetic promotes
    # differently across engines; float->double is exact, then *scale and
    # floor are the identical IEEE ops in DuckDB
    return F.transform(col, lambda x: F.floor(x.cast("double") * scale).cast("bigint"))


def _sqdist(a, b) -> "F.Column":
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )


def semantic_dedup(
    embeddings: DataFrame,
    k: int = 8,
    iterations: int = 3,
    scale: int = 1000,
    threshold_ppm: int = 300_000,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): k-means the embedding corpus, then mark
    near-duplicates WITHIN each cluster by exact ppm-floored cosine — the
    pairwise search is cluster-local, so the quadratic term is bounded by
    the largest cluster instead of the corpus (THE reason the clustering
    stage exists). Keep rule: a vector survives unless a LOWER-id member of
    its cluster is cosine-similar above the threshold (greedy min-id keeper
    — deterministic, no component propagation needed).

    Output (vec_id, cid, keep) — the curation verdict per vector.
    Shape: kmeans assignment (checkpointed once — the consumers below
    would otherwise re-run the corpus scoring scan) + ONE shuffle of the
    corpus by cid into a cluster-local Arrow kernel (applyInPandas) that
    evaluates every within-cluster pair with vectorized numpy, block-row
    bounded so memory stays O(block x cluster). The kernel accumulates the
    dot/norm folds DIM-BY-DIM in index order, so every pair's double is
    produced by the IDENTICAL IEEE op sequence as similarity._dot/_norm
    (the sequential fold the ANN operators and the SQL oracles share) —
    value-exact vs the previous 25M-row pair join, at vectorized-numpy
    speed instead of one interpreted Catalyst fold per pair (guide §4.2).
    Zero-norm and NULL vectors (upstream garbage a clusterer must
    tolerate) are guarded: their cosine is undefined, so they are never
    anyone's duplicate or keeper; vectors of different lengths (ragged
    rows) are never compared with each other."""
    import numpy as np
    import pandas as pd

    assign = (
        kmeans_int(embeddings, k=k, iterations=iterations, scale=scale)
        .select("vec_id", "cid")
        .localCheckpoint()
    )
    emb = embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("dv")
    ).join(assign, "vec_id")

    thr = float(threshold_ppm)

    no_dups = pd.DataFrame({"vec_id": np.array([], dtype=np.int64)})

    def _cluster_dups(pdf: pd.DataFrame) -> pd.DataFrame:
        # a NULL vector has no similarity to anything, and two vectors of
        # different lengths none to each other (the NULL propagation of the
        # old pair join): such rows are never a duplicate and never a keeper,
        # so each vector length is compared on its own
        pdf = pdf[pdf["dv"].notna()]
        lengths = pdf["dv"].map(len)
        return pd.concat(
            [no_dups] + [_same_length_dups(g) for _, g in pdf.groupby(lengths)]
        )

    def _same_length_dups(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return no_dups
        pdf = pdf.sort_values("vec_id")
        ids = pdf["vec_id"].to_numpy()
        V = np.stack(pdf["dv"].to_numpy()).astype(np.float64, copy=False)
        n, d = V.shape
        # norms: acc = acc + v_k*v_k over dims IN ORDER, then sqrt — the
        # exact _norm fold, vectorized across rows
        nacc = np.zeros(n)
        for kk in range(d):
            nacc = nacc + V[:, kk] * V[:, kk]
        norms = np.sqrt(nacc)
        dup = np.zeros(n, dtype=bool)
        jpos = np.arange(n)[None, :]
        B = 2048  # row-block bound: peak temp = 2 x B x |cluster| doubles
        for i0 in range(0, n, B):
            i1 = min(i0 + B, n)
            acc = np.zeros((i1 - i0, n))
            tmp = np.empty((i1 - i0, n))
            for kk in range(d):
                # acc = acc + a_k*b_k per dim in order == the _dot fold
                np.multiply(V[i0:i1, kk, None], V[None, :, kk], out=tmp)
                acc = acc + tmp
            with np.errstate(divide="ignore", invalid="ignore"):
                sim = np.floor(acc / (norms[i0:i1, None] * norms[None, :]) * 1_000_000.0)
            hit = (
                (norms[i0:i1, None] > 0)
                & (norms[None, :] > 0)
                & (sim >= thr)
                & (jpos > np.arange(i0, i1)[:, None])  # a_id < b_id, ids sorted
            )
            dup |= hit.any(axis=0)
        return pd.DataFrame({"vec_id": ids[dup]})

    dups = emb.groupBy("cid").applyInPandas(_cluster_dups, "vec_id long")
    return assign.join(
        dups.withColumn("_dup", F.lit(True)), "vec_id", "left"
    ).select("vec_id", "cid", F.col("_dup").isNull().alias("keep"))


def kmeans_int(
    embeddings: DataFrame,
    k: int = 8,
    iterations: int = 3,
    scale: int = 1000,
) -> DataFrame:
    """Fixed-iteration integer k-means over (vec_id, embedding:array<float>).

    Returns the final assignment (vec_id, cid, dist) — all integers, fully
    deterministic. An empty cluster keeps its previous centroid (no
    reseeding — reseeding rules are engine lore, not arithmetic).
    """
    # cache the scaled corpus: every assign() scan reads it, so without this
    # the parquet scan + _int_vec transform re-runs once per iteration + 1
    # (MEMORY_AND_DISK — spills at scale). The final assignment is
    # checkpointed below so the cache can be released before returning.
    e = embeddings.select(
        "vec_id", _int_vec(F.col("embedding"), scale).alias("v")
    ).cache()
    cents = e.filter(F.col("vec_id") < k).select(
        F.col("vec_id").cast("int").alias("cid"), F.col("v").alias("cv")
    )

    def assign(centroids: DataFrame, with_vec: bool = False) -> DataFrame:
        # ONE row carrying all k centroids (cid-sorted array of structs),
        # broadcast into the corpus scan; the argmin is then a pure
        # projection — array_min over struct<dist,cid> is lexicographic, ==
        # the previous window's (dist ASC, cid ASC) row_number()=1, with
        # ZERO exchange of the corpus. The old shape shuffled k x corpus
        # rows through a per-vec_id window sort EVERY iteration (guide
        # §2.4: remove shuffles outright). BNLJ of a 1-row build side stays
        # the allowlisted textbook k-means scan. A data-driven transform
        # over the centroid array (not k inlined literal folds — measured
        # 2x slower: the giant expression tree falls out of whole-stage
        # codegen) keeps the codegen compact.
        one_row = centroids.agg(
            F.array_sort(F.collect_list(F.struct("cid", "cv"))).alias("_cents")
        )
        best = F.array_min(
            F.transform(
                F.col("_cents"),
                lambda c: F.struct(
                    _sqdist(F.col("v"), c["cv"]).alias("dist"),
                    c["cid"].alias("cid"),
                ),
            )
        )
        # field access happens HERE, in a generator-free projection: a
        # posexplode in the same select would strip the inner struct
        # aliases (col1/col2) and `best["cid"]` would fail to resolve
        cols = ["vec_id", best["cid"].alias("cid"), best["dist"].alias("dist")]
        if with_vec:
            # carry the vector through assignment so the update step never
            # re-joins the corpus on vec_id (guide §2.4: the join shuffled
            # both corpus-sized sides once per iteration for a column the
            # scan already had in hand)
            cols.append(F.col("v"))
        return e.crossJoin(F.broadcast(one_row)).select(*cols)

    for _ in range(iterations):
        a = assign(cents, with_vec=True)
        dims = (
            a.select("cid", F.posexplode("v").alias("dim", "val"))
            .groupBy("cid", "dim")
            # TRUNCATING integer mean is the contract: sums go negative
            # (embedding components do) and both engines truncate toward
            # zero on integer division (Spark `div`, DuckDB `//`: -7/2 = -3
            # in both — verified by probe; DuckDB floors only FLOAT `//`)
            .agg(F.expr("CAST(sum(val) div count(*) AS BIGINT)").alias("m"))
        )
        new_cents = (
            dims.groupBy("cid")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("dim", "m"))),
                    lambda s: s["m"],
                ).alias("cv")
            )
        )
        # empty clusters vanish from new_cents; keep their previous centroid
        cents = (
            cents.alias("old")
            .join(new_cents.alias("new"), "cid", "left")
            .select(
                "cid",
                F.coalesce(F.col("new.cv"), F.col("old.cv")).alias("cv"),
            )
            .localCheckpoint()  # truncate per-iteration lineage (see graph.py)
        )
    # materialize the final re-score once, then release the corpus cache —
    # callers get a pinned assignment with no dangling persisted input
    result = assign(cents).localCheckpoint()
    e.unpersist()
    return result
