"""IVF (inverted-file) approximate nearest neighbour over embeddings.

The scale path for similarity search: brute-force cosine top-k
(entry_queries.q_ann_topk_cosine) touches every row per query; IVF
clusters the corpus once, then each query probes only its ``n_probe``
nearest clusters — at 100 TB that is the difference between a full scan
and reading ~n_probe/n_centroids of the data, and the cluster id is a
partition key (write the indexed table partitioned by ``cluster`` and
probes become partition-pruned scans).

Pipeline (all deterministic, seed-fixed):
- :func:`train_centroids` — driver-side mini-batch Lloyd iterations on a
  sampled slice (numpy; centroids are a tiny broadcastable array — the
  same trust model as the planner's sampled histograms);
- :func:`ivf_assign`  — one Arrow-batched pass: argmax cosine against the
  broadcast centroids → (cluster, id, vec);
- :func:`ivf_topk`    — queries → their n_probe nearest clusters
  (driver-side, tiny) → broadcast (query, cluster) probe pairs →
  equi-join on cluster → EXACT cosine rerank as a JVM ``aggregate`` /
  ``zip_with`` fold (bit-identical to the brute-force oracle's
  sequential sum — numpy/BLAS pairwise sums would drift in the last
  ulp) → per-query window top-k.

Exactness property used by the driver oracle: with
``n_probe = n_centroids`` every cluster is probed, so IVF top-k EQUALS
brute-force top-k row for row; partial-probe recall is covered by the
pytest recall bound on clustered data.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window


def _as_matrix(vecs: pd.Series) -> np.ndarray:
    return np.asarray([np.asarray(v, dtype=np.float64) for v in vecs.to_numpy(object)])


def _normalize(m: np.ndarray) -> np.ndarray:
    n = np.linalg.norm(m, axis=1, keepdims=True)
    return m / np.where(n > 0, n, 1.0)


def train_centroids(
    df: DataFrame, vec_col: str = "embedding", n_centroids: int = 16,
    sample: float = 1.0, iters: int = 10, seed: int = 42,
    max_train: int = 100_000,
) -> np.ndarray:
    """Spherical k-means on a sampled slice → (n_centroids, dim) unit
    vectors.  Deterministic: seeded init, fixed iteration count.
    ``max_train`` hard-bounds the driver collect regardless of ``sample``
    — without it the convenience path (sample=1.0) would toPandas() the
    whole corpus at 100 TB.  Centroid quality only needs a slice; with
    full probes (n_probe = n_centroids) results are centroid-independent
    anyway (exact rerank)."""
    pdf = (
        df.sample(fraction=min(sample, 1.0), seed=seed)
        .select(vec_col)
        .limit(int(max_train))
        .toPandas()
    )
    if len(pdf) == 0:  # empty corpus/sample: no centroids (ADVICE round 2)
        return np.zeros((0, 0))
    m = _normalize(_as_matrix(pdf[vec_col]))
    rng = np.random.default_rng(seed)
    k = min(n_centroids, len(m))
    cents = m[rng.choice(len(m), size=k, replace=False)]
    for _ in range(iters):
        assign = np.argmax(m @ cents.T, axis=1)
        for c in range(k):
            sel = m[assign == c]
            if len(sel):
                cents[c] = sel.mean(axis=0)
        cents = _normalize(cents)
    return cents


def ivf_assign(
    df: DataFrame, centroids: np.ndarray, vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """One pass: each vector → its nearest centroid id (cosine argmax)."""
    cents = centroids  # closure-shipped; tiny
    if cents.size == 0:  # no centroids (empty training corpus)
        return df.withColumn("cluster", F.lit(-1).cast("int"))

    @F.pandas_udf("int")
    def assign(vecs: pd.Series) -> pd.Series:
        m = _normalize(_as_matrix(vecs))
        if len(m) == 0:
            return pd.Series([], dtype="int32")
        return pd.Series(np.argmax(m @ cents.T, axis=1).astype("int32"))

    return df.withColumn("cluster", assign(F.col(vec_col)))


def ivf_topk(
    indexed: DataFrame, centroids: np.ndarray, queries: DataFrame,
    k: int = 5, n_probe: int = 4, vec_col: str = "embedding",
    id_col: str = "vec_id", query_id: str = "query_id", query_vec: str = "qemb",
) -> DataFrame:
    """(query_id, rank, id, sim) — top-k by exact cosine within the probed
    clusters.  ``queries`` is the SMALL side (collected + broadcast)."""
    qpdf = queries.select(query_id, query_vec).toPandas()
    if len(qpdf) == 0 or len(centroids) == 0:
        # empty queries or empty index: typed empty (query_id, rank, id,
        # sim) frame — createDataFrame(pd.DataFrame([])) cannot infer a
        # schema (ADVICE round 2, low), so derive it from the inputs
        return (
            queries.limit(0).select(F.col(query_id).alias("query_id"))
            .crossJoin(indexed.limit(0).select(id_col))
            .withColumn("rank", F.lit(0).cast("int"))
            .withColumn("sim", F.lit(0.0))
            .select("query_id", "rank", id_col, "sim")
        )
    qm = _normalize(_as_matrix(qpdf[query_vec]))
    n_probe = min(n_probe, len(centroids))
    order = np.argsort(-(qm @ centroids.T), axis=1)[:, :n_probe]
    probe_rows = [
        {"query_id": qid, "cluster": int(c)}
        for qid, cl in zip(qpdf[query_id], order)
        for c in cl
    ]
    spark = indexed.sparkSession
    probes = spark.createDataFrame(pd.DataFrame(probe_rows))
    qdf = spark.createDataFrame(qpdf).withColumnRenamed(query_id, "query_id")

    cand = indexed.join(F.broadcast(probes), "cluster", "inner")
    cand = cand.join(F.broadcast(qdf), "query_id", "inner")
    # JVM sequential fold — bit-identical to the brute-force SQL oracle
    dot = f"aggregate(zip_with({query_vec}, emb_d, (x, y) -> x * y), 0D, (acc, v) -> acc + v)"
    nq = f"sqrt(aggregate(zip_with({query_vec}, {query_vec}, (x, y) -> x * y), 0D, (acc, v) -> acc + v))"
    nc = "sqrt(aggregate(zip_with(emb_d, emb_d, (x, y) -> x * y), 0D, (acc, v) -> acc + v))"
    cand = cand.withColumn("emb_d", F.expr(f"transform({vec_col}, x -> CAST(x AS DOUBLE))"))
    cand = cand.withColumn(
        query_vec, F.expr(f"transform({query_vec}, x -> CAST(x AS DOUBLE))")
    )
    cand = cand.withColumn("sim", F.expr(f"{dot} / ({nq} * {nc})"))
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col(id_col).asc())
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", id_col, "sim")
    )


def ann_ivf(
    df: DataFrame, queries: DataFrame, k: int = 5, n_centroids: int = 16,
    n_probe: int = 4, vec_col: str = "embedding", id_col: str = "vec_id",
    query_id: str = "query_id", query_vec: str = "qemb", seed: int = 42,
) -> DataFrame:
    """End-to-end convenience: train → assign → probe → rerank."""
    cents = train_centroids(df, vec_col, n_centroids, seed=seed)
    indexed = ivf_assign(df, cents, vec_col, id_col)
    return ivf_topk(
        indexed, cents, queries, k=k, n_probe=n_probe, vec_col=vec_col,
        id_col=id_col, query_id=query_id, query_vec=query_vec,
    )
