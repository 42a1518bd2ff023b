"""Similarity search over embedding columns (array<float>).

- ``brute_force_topk``: exact cosine top-k via a zip_with dot
  product — the correctness baseline; broadcast the query side, no
  shuffle on the corpus.
- ``lsh_topk``: the scale path — random-hyperplane (sign) LSH buckets
  computed with deterministic seeded planes, equi-join on bucket,
  exact re-rank inside buckets.  At 10^12 rows the bucket join
  replaces the all-pairs cross product; recall is tunable via
  n_planes / n_tables (tested vs brute force).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.geo import dlit_sql
from ..plans.session import materialize


def _dot_sql(a: str, b: str) -> str:
    """Dot product of two array<double> expressions, summed left to
    right."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0.0e0, "
        f"(x, y) -> x + y)"
    )


def _array_sql(v: list[float]) -> str:
    return "array(" + ", ".join(dlit_sql(x) for x in v) + ")"


def _norm(a):
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v)
    )


def with_unit_vec(df: DataFrame, emb_col: str = "embedding") -> DataFrame:
    """Add a L2-normalized double vector column ``unit``."""
    vec = F.transform(F.col(emb_col), lambda x: x.cast("double"))
    return df.withColumn("unit", F.transform(vec, lambda x: x / _norm(vec)))


def brute_force_topk(
    corpus: DataFrame, queries: DataFrame, k: int = 5,
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact cosine top-k of each query vs the corpus.  queries must
    have (query_id, unit); corpus (vec_id, unit).

    Scale plan: the CORPUS is the unbroadcastable side (10^12 rows) —
    broadcast the small query set onto it, so the only shuffle is the
    top-k window exchange on query_id."""
    c = corpus.select(F.col(id_col).alias("nb_id"), F.col("unit").alias("c_unit"))
    q = queries.select("query_id", "unit")
    crossed = c.join(F.broadcast(q))
    cos = F.expr(_dot_sql("unit", "c_unit"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("nb_id"))
    return (
        crossed.withColumn("cos", cos)
        .withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select("query_id", "rnk", F.col("nb_id"), F.col("cos"))
    )


def hyperplanes(dim: int, n_planes: int, seed: int = 7) -> list[list[float]]:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).tolist()


def lsh_bucket_sql(unit: str, planes: list[list[float]]) -> str:
    """Sign-bit bucket id from deterministic hyperplanes, as one SQL
    expression over literal plane arrays."""
    bits = "".join(
        f" + shiftleft(cast(CASE WHEN {_dot_sql(unit, _array_sql(p))} >= 0 "
        f"THEN 1 ELSE 0 END as bigint), {i})"
        for i, p in enumerate(planes)
    )
    return f"(cast(0 as bigint){bits})"


def _lsh_keys(n_tables: int, dim: int, n_planes: int, seed: int) -> list[str]:
    """One ``b<t>`` bucket key per table: the table's bucket id
    scaled by n_tables plus t, so keys of different tables differ."""
    return [
        f"{lsh_bucket_sql('unit', hyperplanes(dim, n_planes, seed + 1000 * t))}"
        f" * {n_tables} + {t} AS b{t}"
        for t in range(n_tables)
    ]


def ivf_centroids(dim: int, n_cells: int, seed: int = 11) -> list[list[float]]:
    """Deterministic unit-norm centroids (seeded Gaussian directions) —
    the UNTRAINED baseline.  Production path: ivf_train_centroids on a
    corpus sample (both are driver-side literals, so the algorithmic
    oracle stays exact either way)."""
    rng = np.random.default_rng(seed)
    c = rng.standard_normal((n_cells, dim))
    c /= np.linalg.norm(c, axis=1, keepdims=True)
    return c.tolist()


def ivf_train_centroids(
    units: np.ndarray, n_cells: int, seed: int = 11, iters: int = 10
) -> list[list[float]]:
    """Seeded spherical k-means (Lloyd) over a driver-side sample of
    unit vectors — the IVF-Flat training step.  Assignment by max dot
    (== min angle on unit vectors), update = renormalized mean; empty
    cells keep their previous centroid.  Deterministic for a fixed
    (sample, seed), so trained centroids embed as literals and the
    exact algorithmic DuckDB oracle keeps working.  At 10^12 rows the
    sample is a bounded collect (<=~10k vectors); training cost is
    driver-side numpy, amortized across the whole scan."""
    U = np.asarray(units, dtype=np.float64)
    rng = np.random.default_rng(seed)
    C = U[rng.choice(len(U), size=n_cells, replace=False)].copy()
    for _ in range(iters):
        assign = np.argmax(U @ C.T, axis=1)
        for c in range(n_cells):
            members = U[assign == c]
            if len(members):
                v = members.sum(axis=0)
                norm = np.linalg.norm(v)
                if norm > 0:
                    C[c] = v / norm
    return C.tolist()


def _cell_rank_array_sql(unit: str, cents: list[list[float]]) -> str:
    """array of cells ordered by descending centroid dot (struct sort
    on (-dot, cell)).  The centroid matrix is ONE nested literal array
    walked by a single transform/fold template, not n_cells separate
    aggregate trees — cuts codegen size/compile time ~n_cells-fold at
    identical math."""
    cents_lit = "array(" + ", ".join(_array_sql(c) for c in cents) + ")"
    dots = f"transform({cents_lit}, c -> {_dot_sql(unit, 'c')})"
    return (
        f"array_sort(zip_with({dots}, sequence(0, {len(cents) - 1}), "
        f"(d, i) -> named_struct('nd', -d, 'cell', i)))"
    )


def ivf_rank_cells_udf(cents: list[list[float]], n_top: int):
    """Arrow-batched assignment fast path: one numpy dgemm per batch
    (units @ centroids^T), argsort(-dot) stable -> same
    (dot desc, cell asc) order as the SQL fold.  The per-row
    higher-order-function fold is ~0.1 ms/row (interpreted, object
    churn); the batched matmul is ~100x faster per row — the right
    physical plan at 10^12 rows.  Identity of results with the SQL
    path is asserted in tests.

    TIE-MARGIN ASSUMPTION: dgemm's fp summation order differs from the
    sequential SQL fold / DuckDB list_dot_product, so a near-tie in
    centroid dots (gap within ~1e-12 accumulated rounding) could flip
    the cell ranking between engines.  Gate validity therefore rests
    on the data having a real gap — tests/test_dedup_similarity.py
    asserts a minimum dot-gap between the n_probe-th and
    (n_probe+1)-th cells over ALL gate vectors (sf0.001 + sf0.01)."""
    from pyspark.sql.functions import pandas_udf

    Ct = np.array(cents, dtype=np.float64).T  # (dim, n_cells)

    @pandas_udf("array<int>")
    def rank(units: pd.Series) -> pd.Series:
        U = np.array(units.tolist(), dtype=np.float64)  # (B, dim)
        D = U @ Ct
        idx = np.argsort(-D, axis=1, kind="stable")[:, :n_top]
        return pd.Series(list(idx.astype(np.int32)))

    return rank


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    cents: list[list[float]],
    k: int = 5,
    n_probe: int = 2,
    id_col: str = "vec_id",
    fast: bool = True,
) -> DataFrame:
    """IVF approximate top-k — the inverted-file scale path beside the
    LSH one: corpus rows are assigned to their nearest centroid cell
    (no shuffle for assignment); each query probes its ``n_probe``
    nearest cells; candidates are a hash equi-join on cell; exact
    cosine re-rank inside candidates.  At 10^12 rows the equi-join on
    a bounded cell key replaces the cross product, and n_probe dials
    recall vs cost exactly like IVF-Flat indexes.

    ``fast=True`` (default) assigns via the Arrow-batched numpy dgemm
    (ivf_rank_cells_udf); ``fast=False`` keeps the pure-SQL fold —
    identical results (tested), different physical path."""
    if fast:
        corpus_rank = ivf_rank_cells_udf(cents, 1)
        query_rank = ivf_rank_cells_udf(cents, n_probe)
        c = corpus.select(
            F.col(id_col).alias("nb_id"),
            F.col("unit").alias("c_unit"),
            F.element_at(corpus_rank(F.col("unit")), 1).alias("cell"),
        )
        q = queries.select(
            "query_id", "unit",
            F.explode(query_rank(F.col("unit"))).alias("cell"),
        )
    else:
        rank = _cell_rank_array_sql("unit", cents)
        c = corpus.select(
            F.col(id_col).alias("nb_id"),
            F.col("unit").alias("c_unit"),
            F.expr(f"element_at({rank}, 1).cell").alias("cell"),
        )
        q = queries.select(
            "query_id", "unit",
            F.expr(
                f"explode(transform(slice({rank}, 1, {n_probe}), s -> s.cell))"
            ).alias("cell"),
        )
    joined = q.join(c, "cell")
    cos = F.expr(_dot_sql("unit", "c_unit"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("nb_id"))
    return (
        joined.withColumn("cos", cos)
        .withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select("query_id", "rnk", "nb_id", "cos")
    )


def cosine_neardup_pairs(
    emb: DataFrame,
    threshold: float,
    n_planes: int = 2,
    n_tables: int = 16,
    id_col: str = "vec_id",
    seed: int = 7,
    dim: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs — the embedding analog of
    minhash_lsh_pairs: sign-LSH bucket self-join for candidates, exact
    cosine verify, (id_a < id_b, cos_e6) output.

    Recall dial: collision prob per table is (1 - acos(c)/pi)^n_planes
    — few planes + many tables pushes recall -> 1 for c >= threshold
    while same-bucket candidates (not all pairs) bound the join size."""
    if dim is None:
        raise ValueError("cosine_neardup_pairs requires dim=")
    # round 6 (§2.3/§8 shuffle keys, not payloads — the committed
    # minhash_lsh_pairs pattern applied here): the bucket self-join
    # used to carry BOTH 64-double unit vectors through the 16-way
    # table explode and both exchange sides (~2 KB/row across a
    # near-quadratic candidate set).  Now (id, bucket) alone flows
    # through the candidate join + dedup, and the vectors re-attach to
    # the deduped candidate PAIRS from the once-materialized sig
    # table.  Candidate set and verify are unchanged (pinned by the
    # driver oracle + recall tests).  Measured 33.5 -> ~12 s at sf0.1
    # (2 M candidates; the residual is the candidate dedup + the
    # per-pair cosine itself).
    sig, _ = materialize(
        emb.selectExpr(
            f"{id_col} AS id", "unit", *_lsh_keys(n_tables, dim, n_planes, seed)
        )
    )
    b = sig.withColumn(
        "bucket", F.explode(F.array(*[F.col(f"b{t}") for t in range(n_tables)]))
    ).select("id", "bucket")
    left = b.select(F.col("bucket"), F.col("id").alias("id_a"))
    right = b.select(F.col("bucket"), F.col("id").alias("id_b"))
    cand = (
        left.join(right, ["bucket"])
        .where(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    cand = cand.join(
        sig.select(F.col("id").alias("id_a"), F.col("unit").alias("u_a")),
        "id_a",
    ).join(
        sig.select(F.col("id").alias("id_b"), F.col("unit").alias("u_b")),
        "id_b",
    )
    cos = F.expr(_dot_sql("u_a", "u_b"))
    return (
        cand.withColumn("cos", cos)
        .where(F.col("cos") >= threshold)
        .select(
            "id_a", "id_b",
            F.round(F.col("cos") * 1e6, 0).cast("long").alias("cos_e6"),
        )
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = 4,
    n_tables: int = 4,
    id_col: str = "vec_id",
    seed: int = 7,
    dim: int | None = None,
) -> DataFrame:
    """Approximate top-k: multi-table sign-LSH.  Each of ``n_tables``
    independent plane sets produces a (table, bucket) key; candidates
    are the union over tables of same-bucket corpus rows, deduped, then
    exactly re-ranked by cosine.  Recall grows with n_tables, cost with
    candidates — the standard tradeoff dial.

    ``dim`` must be supplied by the caller (it is a property of the
    embedding model, known statically): inferring it with a driver
    action (`.first()`) would put a full Spark job in the hot path of
    every ANN call."""
    if dim is None:
        raise ValueError(
            "lsh_topk requires dim= (embedding dimensionality); "
            "do not infer it with a driver action"
        )
    keys = _lsh_keys(n_tables, dim, n_planes, seed)
    # round 6 (§2.3 shuffle keys, not payloads): the bucket join and
    # the candidate dedup carry (query_id, nb_id, bucket) only; both
    # unit vectors re-attach to the deduped candidates afterwards —
    # the corpus side's ×n_tables explode no longer ships the vector
    # payload through the exchanges.  Candidates and cos unchanged.
    cb = corpus.selectExpr(f"{id_col} AS nb_id", *keys).withColumn(
        "bucket", F.explode(F.array(*[F.col(f"b{t}") for t in range(n_tables)]))
    )
    qb = queries.selectExpr("query_id", *keys).withColumn(
        "bucket", F.explode(F.array(*[F.col(f"b{t}") for t in range(n_tables)]))
    )
    joined = (
        qb.select("query_id", "bucket")
        .join(cb.select("nb_id", "bucket"), "bucket")
        .dropDuplicates(["query_id", "nb_id"])
        .join(
            queries.select("query_id", "unit"),
            "query_id",
        )
        .join(
            corpus.select(
                F.col(id_col).alias("nb_id"), F.col("unit").alias("c_unit")
            ),
            "nb_id",
        )
    )
    cos = F.expr(_dot_sql("unit", "c_unit"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("nb_id"))
    return (
        joined.withColumn("cos", cos)
        .withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select("query_id", "rnk", "nb_id", "cos")
    )
