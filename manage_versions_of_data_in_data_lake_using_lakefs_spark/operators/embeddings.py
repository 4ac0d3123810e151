"""Whole-corpus embedding statistics: covariance (PCA/whitening prep)
and nearest-centroid domain classification.

Both are the "one pass over 100 TB of vectors → tiny result" shape that
dominates embedding-table analytics:

- ``gram_covariance`` reduces n × d vectors to the d×(d+1)/2 upper
  triangle of the Gram + covariance matrix — the input to PCA,
  whitening, or drift detection. A ``mapInPandas`` pass emits one
  d²-sized integer partial per partition (numpy ``M.T @ M`` over the
  1e-6-quantized vectors, exact in int64), and ONE tiny groupBy merges
  them; the corpus itself never shuffles. The d×d eigendecomposition
  that follows is driver/SQL territory (d ≈ 64–4096), not Spark's.
- ``centroid_classify`` labels every vector with its nearest per-label
  centroid (the corpus-mixing "which domain is this document" pass) and
  returns the label × prediction confusion counts. Centroids come from
  the same partial-sum pattern (≤ k metadata rows ever reach the
  driver — the established k-means exception); assignment is a k-row
  broadcast + map-side exact integer dot, so the big side streams.

Exactness contract (shared with the DuckDB oracles in
queries/advanced.py): vectors are quantized to int64 at 1e-6 like every
similarity operator (similarity.quantize); all sums/dots are integer and
associative, so any partitioning gives bit-identical results. Centroid
division uses numpy ``//`` (floor), replayed in SQL via the pmod trick
(kmeans_sql.py:77). Magnitude check: |q| ≤ ~1e6, so a d=64 dot is
≤ ~6e13 and a Gram entry over 10⁹ rows is ≤ ~1e2⁴ — int64 overflows
past ~9e18, so at extreme scale the Gram pass drops quantization to
1e-3 (still exact; resolution is a parameter).

No reference counterpart (its jobs stop at feature engineering,
jobs/vdt4.py); these extend the mandated LLM-pipeline families.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from manage_versions_of_data_in_data_lake_using_lakefs_spark.runtime import local_df
from pyspark.sql import Window

from manage_versions_of_data_in_data_lake_using_lakefs_spark.operators.similarity import (
    cosine_q,
    dot_q,
    quantize,
)


def _make_gram_partials():
    """Factory so cloudpickle ships the closure BY VALUE (workers never
    import this package — see similarity._make_dot_q_batch)."""

    def _gram_partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        G: np.ndarray | None = None
        s: np.ndarray | None = None
        n = 0
        for pdf in batches:
            if pdf.empty:
                continue
            M = np.array(pdf["q"].to_list(), dtype=np.int64)
            if G is None:
                d = M.shape[1]
                G = np.zeros((d, d), np.int64)
                s = np.zeros(d, np.int64)
            G += M.T @ M
            s += M.sum(axis=0)
            n += len(M)
        if G is not None:
            d = G.shape[0]
            iu, ju = np.triu_indices(d)
            yield pd.DataFrame(
                {
                    "i": (iu + 1).astype(np.int32),  # 1-based like SQL lists
                    "j": (ju + 1).astype(np.int32),
                    "gram": G[iu, ju],
                    "si": s[iu],
                    "sj": s[ju],
                    "n": np.int64(n),
                }
            )

    return _gram_partials


def gram_covariance(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Upper triangle (1-based i ≤ j) of the exact quantized Gram matrix
    plus the derived covariance: one map pass, one tiny d²-row merge.

    Output: (i, j, gram, cov) where gram = Σ qᵢ·qⱼ over all vectors and
    cov = (gram − sᵢ·sⱼ/n)/n — population covariance of the quantized
    coordinates. The float arithmetic is a fixed-order expression over
    exact integers, so it is the same IEEE double in any engine.
    """
    q = df.select(quantize(F.col(vec_col)).alias("q"))
    part = q.mapInPandas(
        _make_gram_partials(),
        "i INT, j INT, gram LONG, si LONG, sj LONG, n LONG",
    )
    merged = part.groupBy("i", "j").agg(
        F.sum("gram").alias("gram"),
        F.sum("si").alias("si"),
        F.sum("sj").alias("sj"),
        F.sum("n").alias("n"),
    )
    nd = F.col("n").cast("double")
    cov = (
        F.col("gram").cast("double")
        - F.col("si").cast("double") * F.col("sj").cast("double") / nd
    ) / nd
    return merged.select("i", "j", "gram", cov.alias("cov")).orderBy("i", "j")


def _make_label_sum_partials():
    """Per-partition per-label (vsum, cnt) partials — by-value closure."""

    def _label_partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        acc_sum: dict[int, np.ndarray] = {}
        acc_cnt: dict[int, int] = {}
        for pdf in batches:
            if pdf.empty:
                continue
            M = np.array(pdf["q"].to_list(), dtype=np.int64)
            labels = pdf["label"].to_numpy()
            for lb in np.unique(labels):
                sel = M[labels == lb]
                key = int(lb)
                if key in acc_sum:
                    acc_sum[key] += sel.sum(axis=0)
                else:
                    acc_sum[key] = sel.sum(axis=0)
                acc_cnt[key] = acc_cnt.get(key, 0) + len(sel)
        if acc_sum:
            yield pd.DataFrame(
                {
                    "label": list(acc_sum),
                    "vsum": [v.tolist() for v in acc_sum.values()],
                    "cnt": [acc_cnt[k] for k in acc_sum],
                }
            )

    return _label_partials


def label_centroids(
    df: DataFrame, vec_col: str = "embedding", label_col: str = "label"
) -> list[tuple[int, list[int]]]:
    """Exact per-label centroids (floor-div elementwise mean of the
    quantized vectors), sorted by label. Only ≤ k metadata rows reach
    the driver — the same exception the k-means trainer documents
    (clustering.py). int64 sums are associative: any partitioning gives
    the same centroids bit-for-bit."""
    q = df.select(
        quantize(F.col(vec_col)).alias("q"), F.col(label_col).cast("long").alias("label")
    )
    part = q.mapInPandas(
        _make_label_sum_partials(), "label LONG, vsum ARRAY<LONG>, cnt LONG"
    )
    acc: dict[int, tuple[np.ndarray, int]] = {}
    for r in part.collect():
        v = np.array(r["vsum"], dtype=np.int64)
        if r["label"] in acc:
            pv, pc = acc[r["label"]]
            acc[r["label"]] = (pv + v, pc + r["cnt"])
        else:
            acc[r["label"]] = (v, r["cnt"])
    return [
        (lb, [int(x) for x in (vsum // cnt)])
        for lb, (vsum, cnt) in sorted(acc.items())
    ]


def centroid_classify(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
) -> DataFrame:
    """Nearest-centroid classification → (label, pred, cnt) confusion
    counts. Assignment is a k-row broadcast cross join + exact integer
    cosine + one row_number window per vector (ties → smaller pred);
    at 100 TB the corpus streams map-side, the only shuffles are the
    window on the (narrow) scored rows and the k²-row final count."""
    spark = df.sparkSession
    cents = label_centroids(df, vec_col, label_col)
    cdf = local_df(spark,
        [(lb, vec) for lb, vec in cents], "cand LONG, cvec ARRAY<LONG>"
    )
    q = df.select(
        F.col(id_col).alias("id"),
        F.col(label_col).cast("long").alias("label"),
        quantize(F.col(vec_col)).alias("q"),
    ).withColumn("n", dot_q(F.col("q"), F.col("q")))
    scored = q.crossJoin(F.broadcast(cdf)).withColumn(
        "cos",
        cosine_q(
            dot_q(F.col("q"), F.col("cvec")),
            F.col("n"),
            dot_q(F.col("cvec"), F.col("cvec")),
        ),
    )
    w = Window.partitionBy("id").orderBy(F.col("cos").desc(), F.col("cand").asc())
    pred = (
        scored.withColumn("r", F.row_number().over(w))
        .where(F.col("r") == 1)
        .select("label", F.col("cand").alias("pred"))
    )
    return (
        pred.groupBy("label", "pred")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy("label", "pred")
    )


def jl_basis(out_dims: int = 16, in_dims: int = 64) -> list[list[int]]:
    """Deterministic ±1 Johnson–Lindenstrauss basis. Signs are the low
    bit of a splitmix64-style multiply-xor-fold of the cell index — a
    full-avalanche mixer, so entries are ~50/50 and unpatterned, which
    is what the Achlioptas (2003) ±1-entry distance-preservation
    guarantee assumes (the earlier ``% 7 % 2`` recurrence was +1 with
    probability 4/7 and strongly patterned — ADVICE r5). No RNG API →
    identical basis in any engine or run."""
    M = (1 << 64) - 1

    def sign(j: int, d: int) -> int:
        x = (j * in_dims + d + 0x9E3779B97F4A7C15) & M
        x = ((x ^ (x >> 30)) * 0xBF58476D1CE4E5B9) & M
        x = ((x ^ (x >> 27)) * 0x94D049BB133111EB) & M
        x ^= x >> 31
        return 1 if (x & 1) == 0 else -1

    return [[sign(j, d) for d in range(in_dims)] for j in range(out_dims)]


def _make_project_batches(basis: list[list[int]]):
    """Factory (by-value pickling): one int64 matmul per Arrow batch."""

    def _project(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        B = np.array(basis, dtype=np.int64)  # out × in
        for pdf in batches:
            if pdf.empty:
                continue
            M = np.array(pdf["q"].to_list(), dtype=np.int64)
            P = M @ B.T  # n × out
            n, out = P.shape
            yield pd.DataFrame(
                {
                    "id": np.repeat(pdf["id"].to_numpy(), out),
                    "dim": np.tile(np.arange(1, out + 1, dtype=np.int32), n),
                    "val": P.reshape(-1),
                }
            )

    return _project


def jl_project(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    out_dims: int = 16,
) -> DataFrame:
    """Project d-dim embeddings onto a deterministic ±1 JL basis →
    (id, dim, val) rows, val exact int64 (|val| ≤ d·10⁶ — no overflow
    at any corpus size; the basis is per-ROW work so this is map-only,
    zero shuffle at 100 TB). The d' ≈ O(log n / ε²) sketch is the
    standard precursor to cheaper distance computations downstream."""
    in_dims = len(df.select(vec_col).first()[0])
    basis = jl_basis(out_dims, in_dims)
    q = df.select(F.col(id_col).alias("id"), quantize(F.col(vec_col)).alias("q"))
    return q.mapInPandas(
        _make_project_batches(basis), "id LONG, dim INT, val LONG"
    ).orderBy("id", "dim")
