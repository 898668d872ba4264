"""Similarity search over embedding columns (``array<float>``).

Three physical strategies for the same logical op (top-k neighbors by cosine):

- ``brute_force_topk``       : pure column expressions (zip_with/aggregate) +
                               per-query window top-k. Exact; the correctness
                               baseline. Cost O(|queries| * |corpus|) but fully
                               distributed — queries are broadcast, the corpus
                               is never shuffled, and TakeOrdered per query
                               bounds memory.
- ``brute_force_topk_numpy`` : Arrow-batched ``mapInPandas`` — each corpus
                               partition computes a (batch x queries) matrix
                               product with BLAS, emits its local top-k, and a
                               tiny global reduce finishes. This is the 100 TB
                               path: ~10-100x faster per row than per-element
                               expressions at high dims, and the shuffle
                               carries only |queries| * k * partitions rows.
- ``ivf_topk``               : IVF-style pruning — vectors are assigned to the
                               nearest of C centroids; a query searches only
                               its own cell. Approximate (recall < 1 near cell
                               boundaries), but the scan per query drops from
                               N to ~N/C. Centroids: k-means|| via
                               pyspark.ml (production) or a deterministic
                               first-C stub (cross-engine oracle tests).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from momyre_spark.functions.numeric import round_half_up
from momyre_spark.functions.vectors import cosine


def _pairs_with_cosine(corpus: DataFrame, queries: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    from momyre_spark.functions.vectors import add_normalized, dot

    q = add_normalized(queries, vec_col, "__nv").select(
        F.col(id_col).alias("query_id"), F.col("__nv").alias("__qv")
    )
    c = add_normalized(corpus, vec_col, "__nv").select(
        F.col(id_col).alias("neighbor_id"), F.col("__nv").alias("__cv")
    )
    return (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cos", dot(F.col("__cv"), F.col("__qv")))
    )


def _topk(scored: DataFrame, k: int) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", round_half_up(F.col("cos"), 4).alias("cos"))
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query (queries broadcast)."""
    return _topk(_pairs_with_cosine(corpus, queries, id_col, vec_col), k)


def _fold_normalize_np(mat):
    """Unit-normalize rows with the EXACT IEEE op sequence of
    ``functions.vectors.add_normalized``: the squared norm accumulates
    dimension by dimension from 0.0 (the zip_with/aggregate left fold),
    then one sqrt and one division per element. Column-wise vectorized
    accumulation performs that same scalar sequence independently per row
    (the TwoNN precedent, ``twonn_intrinsic_dim_numpy``) — NOT
    ``np.linalg.norm``, whose pairwise summation reorders the adds."""
    import numpy as np

    acc = np.zeros(len(mat))
    for j in range(mat.shape[1]):
        c = mat[:, j]
        acc = acc + c * c
    return mat / np.sqrt(acc)[:, None]


def _fold_dot_np(mat, qt):
    """(B, D) x (Q, D) -> (B, Q) dot products accumulated dimension by
    dimension — bit-identical to the sequential ``vectors.dot`` fold (and
    to the oracles' list_reduce). Deliberately NOT a BLAS matmul: dgemm's
    blocked summation reorders the adds, and these cosines feed ranked,
    value-hashed outputs."""
    import numpy as np

    acc = np.zeros((mat.shape[0], qt.shape[0]))
    for j in range(mat.shape[1]):
        acc = acc + mat[:, j, None] * qt[None, :, j]
    return acc


def _pair_dot_pandas():
    """Vectorized (Arrow) twin of the per-row ``vectors.dot`` fold for
    DATA x DATA pairs (both vectors are columns, so the parsed-SQL literal
    trick does not apply): column-wise accumulation reproduces the
    zip_with/aggregate left fold's exact IEEE op order per row (the
    ``_fold_dot_np`` precedent), replacing one interpreted higher-order
    fold PER PAIR with one numpy pass per Arrow batch."""
    import numpy as np

    @F.pandas_udf("double")
    def pair_dot(dv: pd.Series, qv: pd.Series) -> pd.Series:
        if not len(dv):
            return pd.Series([], dtype="float64")
        a = np.array(list(dv), dtype=np.float64)
        b = np.array(list(qv), dtype=np.float64)
        acc = np.zeros(len(a))
        for j in range(a.shape[1]):
            acc = acc + a[:, j] * b[:, j]
        return pd.Series(acc)

    return pair_dot


def _local_topk_np(ids, cs, k):
    """Per-batch candidate pruning by (cos DESC, id ASC) — the SAME total
    order the global rank window uses, so ties at the k boundary survive
    to the window exactly as they would from the unpruned set."""
    import numpy as np

    if len(ids) > k:
        keep = np.lexsort((ids, -cs))[:k]
        return ids[keep], cs[keep]
    return ids, cs


_MAX_NUMPY_QUERIES = 100_000  # the query matrix rides in every task closure


def _collect_query_mat(queries: DataFrame, id_col: str, vec_col: str):
    """Driver-side (ids, fold-normalized matrix) of a bounded query set."""
    import numpy as np

    qrows = queries.select(id_col, vec_col).limit(_MAX_NUMPY_QUERIES + 1).collect()
    if len(qrows) > _MAX_NUMPY_QUERIES:
        raise ValueError(
            f"momyre: query set exceeds {_MAX_NUMPY_QUERIES} rows — "
            "it must be broadcastable; batch the queries or use srp_lsh_topk"
        )
    q_ids = np.array([r[0] for r in qrows], dtype=np.int64)
    q_mat = _fold_normalize_np(np.array([r[1] for r in qrows], dtype=np.float64))
    return q_ids, q_mat


def brute_force_topk_numpy(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k via Arrow-batched numpy per corpus partition —
    BIT-IDENTICAL to :func:`brute_force_topk` (parity pytest): the
    normalization and every cosine reproduce the expression path's
    sequential folds via column-wise accumulation (``_fold_normalize_np``
    / ``_fold_dot_np``), and per-batch pruning keeps the window's exact
    (cos DESC, id ASC) order, ties included.

    The query matrix rides to executors as a plain task closure (it is
    dimension-sized); each Arrow batch emits only its local top-k, so the
    global window sees |partitions| * |queries| * k rows, not the corpus.
    """
    import numpy as np

    q_ids, q_mat = _collect_query_mat(queries, id_col, vec_col)

    out_schema = "query_id long, neighbor_id long, cos double"

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            mat = _fold_normalize_np(np.array(list(pdf[vec_col]), dtype=np.float64))
            sims = _fold_dot_np(mat, q_mat)  # (batch, queries)
            for qi, qid in enumerate(q_ids):
                mask = ids != qid
                cids, cs = _local_topk_np(ids[mask], sims[:, qi][mask], k)
                yield pd.DataFrame(
                    {"query_id": qid, "neighbor_id": cids, "cos": cs}
                )

    local = corpus.select(id_col, vec_col).mapInPandas(score, schema=out_schema)
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        local.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", round_half_up(F.col("cos"), 4).alias("cos"))
    )


def ivf_topk_numpy(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    num_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[float]] | str = "first_c",
    nprobe: int = 1,
) -> DataFrame:
    """Fold-exact Arrow-batched twin of :func:`ivf_topk` — BIT-IDENTICAL
    output (parity pytest): same centroids (``_centroid_rows``), same
    assignment rule (max cosine, ties to the lower cent_id), same
    sequential-fold cosines, same (cos DESC, id ASC) rank order.

    Why it exists (guide §4): the expression path evaluates
    |corpus| x num_cells interpreted higher-order folds just for cell
    assignment, plus one fold per candidate pair; here the corpus streams
    through ONE ``mapInPandas`` that fuses assignment and scoring —
    per-dimension vectorized accumulation, no per-element lambda
    machinery, and only local top-k rows reach the window. Queries (a
    bounded set, same ``_MAX_NUMPY_QUERIES`` cap) are assigned on the
    driver so the task closure carries just (id, cell, vector)."""
    import numpy as np

    cent_rows = _centroid_rows(emb, num_cells, id_col, centroids, vec_col)
    if not cent_rows:
        raise ValueError("momyre: no centroids resolved")
    c_ids = np.array([c for c, _ in cent_rows], dtype=np.int64)
    c_mat = np.array([v for _, v in cent_rows], dtype=np.float64)  # unit rows

    def assign_cells(mat):
        # nearest cell by (cosine DESC, cent_id ASC) — the _nearest_cells
        # comparator — via one lexsort per row over num_cells entries
        sims = _fold_dot_np(mat, c_mat)  # (n, C)
        order = np.lexsort(
            (np.broadcast_to(c_ids, sims.shape), -sims), axis=1
        )
        return c_ids[order[:, :nprobe]]  # (n, nprobe)

    q_ids, q_mat = _collect_query_mat(queries, id_col, vec_col)
    q_cells = assign_cells(q_mat)  # (Q, nprobe)

    out_schema = "query_id long, neighbor_id long, cos double"

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            mat = _fold_normalize_np(np.array(list(pdf[vec_col]), dtype=np.float64))
            cells = assign_cells(mat)[:, 0]  # corpus rows live in ONE cell
            sims = _fold_dot_np(mat, q_mat)
            for qi, qid in enumerate(q_ids):
                mask = np.isin(cells, q_cells[qi]) & (ids != qid)
                cids, cs = _local_topk_np(ids[mask], sims[:, qi][mask], k)
                yield pd.DataFrame(
                    {"query_id": qid, "neighbor_id": cids, "cos": cs}
                )

    local = emb.select(id_col, vec_col).mapInPandas(score, schema=out_schema)
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        local.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", round_half_up(F.col("cos"), 4).alias("cos"))
    )


def srp_planes(
    num_tables: int, num_planes: int, dim: int, seed: int = 0x5EED
) -> list[list[list[float]]]:
    """Deterministic Gaussian hyperplanes: [table][plane][dim]."""
    import random as _random

    rng = _random.Random(seed)
    return [
        [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(num_planes)]
        for _ in range(num_tables)
    ]


def _srp_bucket_sql(vec_col: str, table_planes: list[list[float]]) -> str:
    """SQL text for one table's bucket id: sign-bit pattern over its planes.

    Built as parsed SQL, not a Column tree — a tables x planes x dim
    ``F.lit`` tree costs one py4j round-trip per literal (the minhash-wide
    lesson, dedup.py); one selectExpr parse is flat."""
    terms = []
    for p, plane in enumerate(table_planes):
        arr = "array(" + ",".join(f"{x!r}D" for x in plane) + ")"
        proj = (
            f"aggregate(zip_with(CAST(`{vec_col}` AS ARRAY<DOUBLE>), {arr}, "
            f"(x, y) -> x * y), 0D, (acc, x) -> acc + x)"
        )
        terms.append(f"(CASE WHEN {proj} > 0 THEN {1 << p}L ELSE 0L END)")
    return "(" + " + ".join(terms) + ")"


# past this many TOTAL planes (tables x planes/table) the per-plane fold
# expressions stop being viable: the expression tree carries
# tables x planes x dim literals, so Catalyst re-analyzes tens of
# thousands of nodes on EVERY downstream action and evaluation falls out
# of codegen — switch to one Arrow-batched matmul (the same escape hatch
# as _EXPR_CELL_LIMIT for IVF cells). Sign boundaries are the only
# possible divergence between the two paths (fold vs SIMD summation order
# at |projection| ~ 1e-16) — measure-zero, and it only perturbs candidate
# RECALL; the exact-cosine verify downstream keeps precision 1 either way.
_EXPR_PLANE_LIMIT = 96


def _check_planes(planes: list[list[list[float]]]) -> None:
    """Both bucket paths read the plane count from ``planes[0]`` and pack
    all planes into one (tables*planes, dim) matrix, so a ragged list
    would silently mis-bucket or fail deep in numpy — refuse it here."""
    for what, sizes in (
        ("plane count", {len(tp) for tp in planes}),
        ("dimension", {len(p) for tp in planes for p in tp}),
    ):
        if len(sizes) > 1:
            raise ValueError(
                f"momyre: ragged SRP planes, {what} varies: {sorted(sizes)}"
            )


def _with_srp_buckets_arrow(
    df: DataFrame,
    planes: list[list[list[float]]],
    vec_col: str,
    out_col: str,
) -> DataFrame:
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    n_tables, n_planes = len(planes), len(planes[0])
    w = np.asarray(planes, dtype=np.float64).reshape(
        n_tables * n_planes, -1
    )
    powers = (np.int64(1) << np.arange(n_planes, dtype=np.int64))

    dim = w.shape[1]

    @pandas_udf("array<long>")
    def _buckets(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype=object)
        # NULL / wrong-length embeddings must match the expression path's
        # behavior (NULL projection -> CASE false -> bucket 0), not crash
        # the batch: substitute a zero vector, whose projections are
        # exactly 0 -> every sign bit false -> bucket 0 in every table
        x = np.stack([
            np.asarray(e, dtype=np.float64)
            if e is not None and len(e) == dim
            else np.zeros(dim)
            for e in v.to_numpy()
        ])
        signs = (x @ w.T) > 0  # (n, tables*planes)
        ids = (
            signs.reshape(len(x), n_tables, n_planes).astype(np.int64)
            * powers
        ).sum(axis=2)
        return pd.Series(list(ids))

    return df.withColumn(out_col, _buckets(F.col(vec_col)))


def with_srp_buckets(
    df: DataFrame,
    planes: list[list[list[float]]],
    vec_col: str = "embedding",
    out_col: str = "__buckets",
) -> DataFrame:
    """Attach ``out_col``: array<long> of per-table SRP bucket ids.

    Codegen fold expressions up to ``_EXPR_PLANE_LIMIT`` total planes
    (bit-identical with the SQL-oracle recipe); one Arrow matmul batch
    above it (production plane counts)."""
    _check_planes(planes)
    if planes and len(planes) * len(planes[0]) > _EXPR_PLANE_LIMIT:
        return _with_srp_buckets_arrow(df, planes, vec_col, out_col)
    items = ", ".join(_srp_bucket_sql(vec_col, tp) for tp in planes)
    return df.selectExpr("*", f"array({items}) AS `{out_col}`")


def srp_banded_rows(
    df: DataFrame,
    planes: list[list[list[float]]],
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Exploded SRP bucket assignment: ``(id_col, table, bucket)`` — one
    row per (vector, table).

    Every banding consumer posexplodes the ``with_srp_buckets`` array
    immediately, and above ``_EXPR_PLANE_LIMIT`` that shape pays the
    Python boundary TWICE: the executed plan holds two ArrowEvalPython
    nodes for the one pandas UDF (the generator input and the projection
    each evaluate it — guide §4.4's duplication, measured 2x the banding
    stage at 24x12 planes). Past the limit this fuses projection, matmul,
    bucket packing AND the explode into ONE ``mapInPandas`` (guide §4.2):
    one Python boundary, vectors cross it once, and only the narrow
    (id, table, bucket) rows come back. Bucket values are bit-identical
    to ``_with_srp_buckets_arrow`` (same float64 matmul, same sign/pack
    ops — pinned by the emission parity pytest); at or under the limit
    the expression array + posexplode path is unchanged (it is the
    SQL-oracle recipe and evaluates once, in codegen).
    """
    _check_planes(planes)
    if not planes or len(planes) * len(planes[0]) <= _EXPR_PLANE_LIMIT:
        return with_srp_buckets(df, planes, vec_col).select(
            id_col, F.posexplode("__buckets").alias("table", "bucket")
        )
    import numpy as np
    import pandas as pd

    n_tables, n_planes = len(planes), len(planes[0])
    w = np.asarray(planes, dtype=np.float64).reshape(
        n_tables * n_planes, -1
    )
    powers = np.int64(1) << np.arange(n_planes, dtype=np.int64)
    dim = w.shape[1]
    id_type = df.schema[id_col].dataType.simpleString()

    def banding(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            # NULL / wrong-length embeddings: same rule as the array twin
            # (zero vector -> every sign bit false -> bucket 0 per table)
            x = np.stack([
                np.asarray(e, dtype=np.float64)
                if e is not None and len(e) == dim
                else np.zeros(dim)
                for e in pdf[vec_col].to_numpy()
            ])
            signs = (x @ w.T) > 0
            buckets = (
                signs.reshape(len(x), n_tables, n_planes).astype(np.int64)
                * powers
            ).sum(axis=2)
            yield pd.DataFrame({
                id_col: np.repeat(pdf[id_col].to_numpy(), n_tables),
                "table": np.tile(
                    np.arange(n_tables, dtype=np.int32), len(x)
                ),
                "bucket": buckets.reshape(-1),
            })

    return df.select(id_col, vec_col).mapInPandas(
        banding, f"`{id_col}` {id_type}, table int, bucket long"
    )


def srp_lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    num_planes: int = 12,
    num_tables: int = 4,
    seed: int = 0x5EED,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Approximate top-k via signed-random-projection LSH.

    ``num_tables`` independent hash tables, each hashing a vector to the
    sign-bit pattern of ``num_planes`` fixed random hyperplanes (deterministic
    seed -> reproducible). Candidates = corpus vectors sharing a bucket with
    the query in ANY table; exact cosine re-ranks candidates. Collision
    probability per plane is 1 - theta/pi, so near-parallel vectors collide
    with high probability while the bucket join touches ~N/2^planes vectors
    per table — the classic cosine-LSH trade (recall tunable via
    tables x planes).

    Candidate generation is a HASH join on the exploded ``(table, bucket)``
    key — an OR-of-bucket-equalities condition would execute as a
    BroadcastNestedLoopJoin scanning every corpus row against every query
    (LSH would save cosines but not the O(N x |q|) pair scan). The exploded
    equi-join partitions by bucket, which is the shape that survives scale;
    the candidate set is identical (union over tables).
    """
    planes = srp_planes(num_tables, num_planes, dim, seed)

    q_ex = (
        with_srp_buckets(queries, planes, vec_col)
        .select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("__qv"),
            F.posexplode("__buckets").alias("__table", "__bucket"),
        )
    )
    c_ex = (
        with_srp_buckets(corpus, planes, vec_col)
        .select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("__cv"),
            F.posexplode("__buckets").alias("__table", "__bucket"),
        )
    )
    cand = (
        c_ex.join(F.broadcast(q_ex), ["__table", "__bucket"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
        .withColumn("cos", cosine(F.col("__cv"), F.col("__qv")))
    )
    return _topk(cand, k)


def train_kmeans_centroids(
    emb: DataFrame,
    num_cells: int = 16,
    vec_col: str = "embedding",
    seed: int = 0x5EED,
    max_iter: int = 20,
    sample_fraction: float | None = None,
) -> list[list[float]]:
    """k-means|| centroids over (optionally sampled) unit-normalized vectors.

    Training runs on a sample at scale (``sample_fraction``) — centroid
    quality needs only a sketch of the distribution, not the corpus. The
    returned centroids are plain Python lists: dimension-sized, they ride
    to executors in the assignment expression (no MLlib dependency at
    query time).
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    from momyre_spark.functions.vectors import add_normalized

    train = emb
    if sample_fraction is not None:
        train = train.sample(fraction=sample_fraction, seed=seed)
    feats = add_normalized(train, vec_col, "__nv").select(
        array_to_vector(F.col("__nv")).alias("features")
    )
    model = KMeans(k=num_cells, seed=seed, maxIter=max_iter).fit(feats)
    return [[float(x) for x in c] for c in model.clusterCenters()]


def assign_ivf_cells(
    emb: DataFrame,
    num_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[float]] | str = "first_c",
    keep_score: bool = False,
) -> DataFrame:
    """Assign each vector to its nearest centroid cell.

    ``centroids``:
    - ``'kmeans'``  : train k-means|| via pyspark.ml (the production path —
      data-adapted cells; see :func:`train_kmeans_centroids`);
    - ``'first_c'`` : the ``num_cells`` lowest-id vectors act as centroids —
      a deterministic stub that both engines can reproduce (oracle tests);
      on clustered data its recall collapses (tested), so never at scale;
    - an explicit list of vectors (pre-trained / cached).

    Assignment is a broadcast join + argmax over per-centroid cosine — no
    shuffle of the corpus.
    """
    from momyre_spark.functions.vectors import add_normalized

    nemb = add_normalized(emb, vec_col, "__nv")
    cents = _centroid_rows(emb, num_cells, id_col, centroids, vec_col)
    out_cols = [id_col, vec_col, F.col("cent_id").alias("cell")]
    if keep_score:
        out_cols.append(F.col("__cs").alias("cell_cos"))
    return _nearest_cells(nemb, cents, id_col, n_best=1).select(*out_cols)


def _unit(c: list[float]) -> list[float]:
    """Driver-side unit normalization, ordered EXACTLY like the engines'
    sequential folds (Python left-fold sum == Spark aggregate() == DuckDB
    list_reduce over doubles), so centroid cosines stay bit-identical with
    the oracle recipe."""
    import math

    s = 0.0
    for x in c:
        s += float(x) * float(x)
    n = math.sqrt(s) or 1.0
    return [float(x) / n for x in c]


def _centroid_rows(
    emb: DataFrame,
    num_cells: int,
    id_col: str,
    centroids: list[list[float]] | str,
    vec_col: str = "embedding",
) -> list[tuple[int, list[float]]]:
    """Resolve the centroid spec to driver-side (cent_id, unit_vec) rows —
    KB-scale state (bounded by num_cells) resolved ONCE so corpus
    assignment and query probing share identical cells, then pushed back
    down as literals. Unit-normalizing makes cosine argmax the
    spherical-k-means rule (a k-means mean of unit vectors is not unit).

    'first_c' collects the num_cells lowest-id RAW vectors (a column-pruned
    TakeOrdered — never a corpus-wide normalize job) and normalizes on the
    driver with the fold-identical recipe."""
    if centroids == "kmeans":
        centroids = train_kmeans_centroids(emb, num_cells, vec_col)
    if centroids == "first_c":
        rows = (
            emb.select(id_col, vec_col).orderBy(id_col).limit(num_cells).collect()
        )
        # cell ids are the source row ids when integral (mirrors the SQL
        # oracles' `vec_id AS cent_id`); non-integral ids (string/UUID
        # corpora) fall back to the deterministic position in id order —
        # cells are int-labeled partition values on disk either way
        if rows and isinstance(rows[0][id_col], int):
            return [(int(r[id_col]), _unit(list(r[vec_col]))) for r in rows]
        return [(i, _unit(list(r[vec_col]))) for i, r in enumerate(rows)]
    # explicit centroids: either bare vectors (ids = position) or
    # id-carrying (cent_id, vector) tuples (e.g. a cached first_c resolve)
    if centroids and isinstance(centroids[0], tuple):
        return [(int(i), _unit(list(v))) for i, v in centroids]
    return [(i, _unit(c)) for i, c in enumerate(centroids)]


# past this many centroids the per-centroid fold expressions stop being
# codegen-friendly; switch to the Arrow/numpy matmul path
_EXPR_CELL_LIMIT = 64


def _nearest_cells(
    nemb: DataFrame, cents: list[tuple[int, list[float]]], id_col: str, n_best: int
) -> DataFrame:
    """The ``n_best`` nearest cells per vector (with ``__rn`` probe rank and
    ``__cs`` centroid cosine) — MAP-ONLY.

    Centroids arrive as driver-side rows (bounded by num_cells — the same
    KB-scale state PQ codebooks are; see _centroid_rows) and are pushed
    back down as literals, so assignment never materializes the N x C cross product in
    a shuffle: the earlier crossJoin + Window.partitionBy(id) formulation
    shuffled N*C rows — 100 TB x thousands of cells is petabytes through
    the exchange. Two physical strategies, one contract:

    - C <= _EXPR_CELL_LIMIT: per-centroid codegen folds + array_sort +
      posexplode (pure JVM expressions; sequential-fold dot, so results
      stay bit-identical with the oracle recipe);
    - larger C: Arrow-batched numpy matmul per partition (argsort top
      n_best), the same shape brute_force_topk_numpy uses.

    Ties on the cosine break toward the lower cent_id (both paths).
    """
    cent_rows = sorted(cents, key=lambda t: t[0])
    if not cent_rows:
        raise ValueError("momyre: no centroids resolved")
    passthrough = nemb.columns

    if len(cent_rows) <= _EXPR_CELL_LIMIT:
        # the whole centroid battery is built as ONE parsed SQL string
        # (the _srp_bucket_sql lesson): a cells x dim F.lit Column tree
        # costs one py4j round trip per literal — measured ~2.3s of pure
        # driver time per call at 16x64 — while one F.expr parse of the
        # identical fold/sort/slice tree is flat. Same Catalyst
        # expressions after parse, so cell ids, cosines and every oracle
        # over them are unchanged.
        structs = []
        for cid, vec in cent_rows:
            arr = "array(" + ",".join(f"{float(x)!r}D" for x in vec) + ")"
            s = (
                f"aggregate(zip_with(`__nv`, {arr}, (x, y) -> x * y), "
                f"0D, (acc, x) -> acc + x)"
            )
            structs.append(
                f"struct({s} AS s, CAST({int(cid)} AS BIGINT) AS c)"
            )
        cmp = (
            "(a, b) -> CASE WHEN a.s > b.s THEN -1 "
            "WHEN a.s < b.s THEN 1 ELSE CAST(a.c - b.c AS INT) END"
        )
        best = F.expr(
            f"slice(array_sort(array({', '.join(structs)}), {cmp}), "
            f"1, {int(n_best)})"
        )
        return (
            nemb.select(*passthrough, F.posexplode(best).alias("__p", "__b"))
            .select(
                *passthrough,
                F.col("__b.c").alias("cent_id"),
                F.col("__b.s").alias("__cs"),
                (F.col("__p") + 1).cast("int").alias("__rn"),
            )
        )

    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    cmat = np.array([v for _, v in cent_rows], dtype=np.float64)  # C x d
    cids = np.array([c for c, _ in cent_rows], dtype=np.int64)
    out_schema = StructType(
        nemb.schema.fields
        + [
            StructField("cent_id", LongType()),
            StructField("__cs", DoubleType()),
            StructField("__rn", IntegerType()),
        ]
    )
    # n_best above the centroid count must degrade to "all cells" exactly
    # like the expression path (F.slice of a shorter array) — unclamped it
    # crashes the repeat/ravel arithmetic below with a length mismatch
    nb = min(n_best, len(cent_rows))

    def assign(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.array(list(pdf["__nv"]), dtype=np.float64)  # B x d
            scores = m @ cmat.T  # B x C
            # argsort by (-score, cent_id): lexsort on (cids, -scores)
            order = np.lexsort((np.broadcast_to(cids, scores.shape), -scores), axis=1)
            top = order[:, :nb]  # B x nb
            reps = pdf.loc[pdf.index.repeat(nb)].reset_index(drop=True)
            reps["cent_id"] = cids[top].ravel()
            reps["__cs"] = np.take_along_axis(scores, top, axis=1).ravel()
            reps["__rn"] = np.tile(np.arange(1, nb + 1), len(pdf)).astype("int32")
            yield reps

    return nemb.mapInPandas(assign, schema=out_schema)


def ivf_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    num_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[float]] | str = "first_c",
    nprobe: int = 1,
) -> DataFrame:
    """Approximate top-k: search the query's ``nprobe`` nearest IVF cells.

    ``nprobe=1`` is classic IVF; raising it recovers the recall lost to
    cell-boundary neighbors (the standard multi-probe trade: scanned
    fraction ~ nprobe/C). Corpus vectors still live in exactly one cell —
    only the broadcast query side fans out, so the join stays an equi-join
    on the cell id and candidate pairs are unique by construction.

    At scale: ``centroids='kmeans'`` (data-adapted cells) and the corpus
    written partitioned/bucketed by ``cell`` so a query's scan prunes to
    ``nprobe`` partitions (~nprobe·N/C vectors)."""
    from momyre_spark.functions.vectors import add_normalized, dot

    nemb = add_normalized(emb, vec_col, "__nv")
    cents = _centroid_rows(emb, num_cells, id_col, centroids, vec_col)
    corpus = _nearest_cells(nemb, cents, id_col, n_best=1).select(
        F.col(id_col).alias("neighbor_id"),
        F.col("__nv").alias("__cv"),
        F.col("cent_id").alias("__ccell"),
    )
    qv = nemb.join(queries.select(id_col), id_col, "left_semi")
    q = _nearest_cells(qv, cents, id_col, n_best=nprobe).select(
        F.col(id_col).alias("query_id"),
        F.col("__nv").alias("__qv"),
        F.col("cent_id").alias("__qcell"),
    )
    scored = (
        corpus.join(F.broadcast(q), F.col("__ccell") == F.col("__qcell"))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cos", dot(F.col("__cv"), F.col("__qv")))
    )
    return _topk(scored, k)


def hard_negatives(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Hard-negative mining for contrastive/retrieval training: for each
    query, the top-k most-similar corpus items whose ``label_col`` DIFFERS
    from the query's — the near-miss examples a trainer wants as negatives
    (random negatives are trivially separable; the hard ones carry the
    gradient).

    Same physical shape as brute_force_topk (queries broadcast, one window
    top-k): labels ride ALONG the normalized projections — a post-hoc join
    to attach the neighbor's label would shuffle the full |corpus| x |q|
    scored set just to read one small column."""
    from momyre_spark.functions.vectors import add_normalized, dot

    q = add_normalized(queries, vec_col, "__nv").select(
        F.col(id_col).alias("query_id"),
        F.col("__nv").alias("__qv"),
        F.col(label_col).alias("__ql"),
    )
    c = add_normalized(corpus, vec_col, "__nv").select(
        F.col(id_col).alias("neighbor_id"),
        F.col("__nv").alias("__cv"),
        F.col(label_col).alias("__cl"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(
            (F.col("neighbor_id") != F.col("query_id"))
            & (F.col("__cl") != F.col("__ql"))
        )
        .withColumn("cos", dot(F.col("__cv"), F.col("__qv")))
    )
    return _topk(scored, k)


def label_margin_report(
    emb: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
    id_col: str = "vec_id",
    max_exact_rows: int = 10_000,
    sample_per_label: int = 500,
) -> DataFrame:
    """Per-label embedding-separation report: mean intra-label vs
    inter-label cosine and their margin — the "are my labels separable in
    embedding space" diagnostic run before training a classifier on them.

    The pair score is an all-pairs self-join — O(N²) with no LSH shortcut
    (EVERY pair contributes to the means, not just near ones). Above
    ``max_exact_rows`` the report therefore switches to a deterministic
    per-label sample (``sampling.sample_per_group`` hash order, exactly
    ``sample_per_label`` rows per label): the pair count is then bounded by
    (labels·sample_per_label)²/2 whatever the corpus size, and the sampled
    means are unbiased estimates of the exact ones. Same guard pattern as
    ``brute_force_topk_numpy``'s MAX_QUERIES cap — never silently quadratic.

    Decimal-fixed pair sums keep the aggregation bit-identical under any
    partitioning (the oracled-floating-aggregate pattern).
    """
    from momyre_spark.functions.numeric import round_half_up
    from momyre_spark.functions.vectors import add_normalized, dot
    from momyre_spark.operators.sampling import sample_per_group

    base = emb.select(
        F.col(id_col).alias("vec_id"),
        F.col(label_col).alias("label"),
        F.col(vec_col).alias("__vec"),
    )
    # limit-probe, not a full count: take() on a limit short-circuits the
    # scan once max_exact_rows+1 rows exist, so the guard costs O(cap) IO
    # even on a petabyte input.
    probe = base.select("vec_id").limit(max_exact_rows + 1).take(
        max_exact_rows + 1
    )
    if len(probe) > max_exact_rows:
        base = sample_per_group(
            base, sample_per_label, ["label"], id_col="vec_id",
            salt="label_margin",
        )
    el = add_normalized(base, "__vec", "__nv").select(
        "vec_id", "label", "__nv"
    )
    a = el.select(
        F.col("vec_id").alias("ia"), F.col("label").alias("la"),
        F.col("__nv").alias("va"),
    )
    b = el.select(
        F.col("vec_id").alias("ib"), F.col("label").alias("lb"),
        F.col("__nv").alias("vb"),
    )
    pairs = a.join(b, F.col("ia") < F.col("ib")).select(
        "la", "lb",
        round_half_up(dot(F.col("va"), F.col("vb")), 6)
        .cast("decimal(18,6)")
        .alias("cosd"),
    )
    # Each pair touches at most two labels, so emit exactly those rows
    # (intra: one row, inter: one per side) and aggregate by that key —
    # |pairs| + |inter pairs| rows through the agg instead of the old
    # labels x pairs cross-join blowup. Singleton-label rows still surface:
    # with N >= 2 every row participates in some pair.
    zero = F.lit(0).cast("decimal(18,6)")
    tagged = pairs.select(
        F.explode(
            F.when(
                F.col("la") == F.col("lb"), F.array(F.col("la"))
            ).otherwise(F.array(F.col("la"), F.col("lb")))
        ).alias("label"),
        (F.col("la") == F.col("lb")).alias("__intra"),
        "cosd",
    )
    per = tagged.groupBy("label").agg(
        F.sum(F.when(F.col("__intra"), F.col("cosd")).otherwise(zero)).alias("s_intra"),
        F.sum(F.when(F.col("__intra"), F.lit(1)).otherwise(F.lit(0))).alias("n_intra"),
        F.sum(F.when(~F.col("__intra"), F.col("cosd")).otherwise(zero)).alias("s_inter"),
        F.sum(F.when(~F.col("__intra"), F.lit(1)).otherwise(F.lit(0))).alias("n_inter"),
    )
    mi = F.col("s_intra").cast("double") / F.col("n_intra")
    me = F.col("s_inter").cast("double") / F.col("n_inter")
    return per.select(
        "label",
        F.col("n_intra").cast("bigint").alias("n_intra"),
        F.col("n_inter").cast("bigint").alias("n_inter"),
        round_half_up(mi, 4).alias("mean_intra"),
        round_half_up(me, 4).alias("mean_inter"),
        round_half_up(mi - me, 4).alias("margin"),
    ).orderBy("label")


def ann_recall_report(
    exact: DataFrame,
    approx: DataFrame,
    k: int = 10,
) -> DataFrame:
    """Per-query recall@k of an approximate neighbor list against the exact
    one — the measurement that turns "the IVF/LSH index is accurate" from a
    claim into a number. Both inputs are ``(query_id, neighbor_id, rank)``
    frames (the shape every top-k operator here emits); recall@k =
    |approx ∩ exact top-k| / |exact top-k| per query, with the exact list
    as the denominator so an approximate list that returns FEWER than k
    rows (an under-populated IVF cell) is penalized, not excused.

    Cost: both sides are |queries|·k rows — negligible next to the corpus
    scans that produced them; one equi-join on (query_id, neighbor_id) and
    one hash agg. At 100 TB the report costs what the two searches cost;
    the comparison itself is free.

    Both pair sets are de-duplicated before the join: a neighbor list can
    legitimately repeat a (query_id, neighbor_id) pair (the same vec_id in
    both IVF base and add-tail after a re-ingest), and a duplicate on
    either side would fan out the left join, inflating n_exact/n_hit so
    recall no longer measures |approx ∩ exact| / |exact top-k|.
    """
    e = (
        exact.filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id")
        .distinct()
    )
    a = (
        approx.filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id")
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    per = (
        e.join(a, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_exact"),
            F.coalesce(F.sum("__hit"), F.lit(0)).cast("bigint").alias("n_hit"),
        )
    )
    return per.select(
        "query_id",
        "n_exact",
        "n_hit",
        round_half_up(
            F.col("n_hit").cast("double") / F.col("n_exact"), 4
        ).alias("recall"),
    ).orderBy("query_id")


def _write_by_cell(
    assigned: DataFrame,
    path: str,
    num_cells: int,
    files_per_cell: int,
    id_col: str,
) -> None:
    """Cell-partitioned parquet write with a BOUNDED file count.

    Hash-clustering rows on (cell, id-salt) before ``partitionBy("cell")``
    pins every cell to exactly ``files_per_cell`` writer tasks — the file
    count is ~num_cells·files_per_cell regardless of how many input
    partitions (executors) produced the rows. Without it the committer
    emits up to input_partitions files PER CELL per write."""
    n = max(1, int(files_per_cell))
    salt = F.pmod(F.xxhash64(F.col(id_col).cast("string")), F.lit(n))
    (
        assigned.repartition(num_cells * n, F.col("cell"), salt)
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(path)
    )


def build_ivf_index(
    emb: DataFrame,
    root: str,
    num_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[float]] | str = "kmeans",
    files_per_cell: int = 1,
) -> int:
    """Materialize the corpus as an ON-DISK IVF index: every vector (with
    its unit-normalized projection precomputed) written to parquet
    PARTITIONED BY its nearest-centroid cell, centroids stored alongside.

    This is the persisted form of :func:`ivf_topk`'s 100 TB note ("the
    corpus written partitioned by cell so a query's scan prunes"): search
    (:func:`ivf_topk_indexed`) resolves the query's probe cells on the
    driver (bounded by num_cells) and pushes them as a LITERAL partition
    filter — the scan then opens only ~nprobe·N/C of the corpus, decided
    before any file IO, instead of scanning everything and filtering.
    Normalization is paid once at BUILD time, not per query.

    Build cost: centroid resolve (k-means sample or first_c TakeOrdered) +
    one map-only assignment pass + one cell-keyed shuffle into the
    partitioned write. The shuffle is what BOUNDS the file count: writing
    partitionBy("cell") straight from the scan's partitioning emits up to
    input_partitions x cells files (a 1000-executor build over 1000 cells
    would leave a million files); hash-clustering on (cell, salt) first
    pins each cell to exactly ``files_per_cell`` writer tasks, so the
    index is ~num_cells·files_per_cell files whatever the input
    parallelism. Raise ``files_per_cell`` when single cells outgrow one
    task's worth of read parallelism. Returns the number of cells."""
    spark = emb.sparkSession
    from momyre_spark.functions.vectors import add_normalized

    cents = _centroid_rows(emb, num_cells, id_col, centroids, vec_col)
    nemb = add_normalized(emb, vec_col, "__nv")
    assigned = _nearest_cells(nemb, cents, id_col, n_best=1).select(
        F.col(id_col),
        F.col(vec_col),
        F.col("__nv").alias("nvec"),
        F.col("cent_id").alias("cell"),
    )
    _write_by_cell(
        assigned, f"{root}/vectors", num_cells, files_per_cell, id_col
    )
    cdf = spark.createDataFrame(
        [(int(c), [float(x) for x in v]) for c, v in cents],
        "cent_id long, centroid array<double>",
    )
    cdf.coalesce(1).write.mode("overwrite").parquet(f"{root}/centroids")
    # a rebuild indexes the caller's full corpus: any add-tail from a
    # previous index generation at this root is stale — drop it
    jvm, fs = _ivf_fs(spark, root)
    fs.delete(jvm.org.apache.hadoop.fs.Path(f"{root}/adds"), True)
    return len(cents)


def ivf_topk_indexed(
    spark: SparkSession,
    root: str,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 1,
) -> DataFrame:
    """Top-k search against a :func:`build_ivf_index` index.

    The stored centroids (KB-scale, bounded by num_cells) load to the
    driver AS-IS — never re-normalized, so scores stay bit-identical with
    the build's assignment. Query vectors map to their ``nprobe`` nearest
    cells; the DISTINCT probe-cell set (≤ num_cells values) becomes a
    literal ``cell IN (...)`` filter on the partitioned corpus — partition
    pruning at the source, then a broadcast join of the (small) query side
    against only the probed cells. Same output contract as ivf_topk.
    Vectors appended since the build (:func:`ivf_index_add`) participate:
    the add-tail keeps ``cell`` as a partition column, so the same probe
    filter prunes it identically."""
    from momyre_spark.functions.vectors import add_normalized, dot

    # heal FIRST: loading centroids before the heal could mix an old
    # centroid geometry with a committed-but-unswapped reclustered base
    _ivf_heal(spark, root)
    cents = [
        (int(r["cent_id"]), list(r["centroid"]))
        for r in spark.read.parquet(f"{root}/centroids").collect()
    ]
    nq = add_normalized(queries, vec_col, "__nv")
    q = _nearest_cells(nq, cents, id_col, n_best=nprobe).select(
        F.col(id_col).alias("query_id"),
        F.col("__nv").alias("__qv"),
        F.col("cent_id").alias("__qcell"),
    )
    cells = sorted(
        int(r["__qcell"]) for r in q.select("__qcell").distinct().collect()
    )
    corpus = (
        _ivf_corpus(spark, root)
        .filter(F.col("cell").isin(cells))
        .select(
            F.col(id_col).alias("neighbor_id"),
            F.col("nvec").alias("__cv"),
            F.col("cell").alias("__ccell"),
        )
    )
    scored = (
        corpus.join(F.broadcast(q), F.col("__ccell") == F.col("__qcell"))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cos", dot(F.col("__cv"), F.col("__qv")))
    )
    return _topk(scored, k)


def _ivf_fs(spark: SparkSession, path: str):
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    return jvm, p.getFileSystem(spark._jsc.hadoopConfiguration())


def _ivf_heal(spark: SparkSession, root: str) -> None:
    """Self-heal every non-atomic compaction window before any read.

    Plain compact: a crash between deleting ``vectors`` and renaming
    ``vectors_new`` leaves only the committed (``_SUCCESS``-marked) new
    directory — finish the rename.

    Recluster: the rebuild lives under ``__rebuild`` and becomes
    authoritative only once its ``_COMMIT`` marker exists. With the
    marker, redo the idempotent swap (delete primary, rename rebuild sub,
    drop the add-tail) for whichever of vectors/centroids the crash left
    unswapped; without it, the rebuild never committed — discard it, the
    primaries are intact."""
    jvm, fs = _ivf_fs(spark, root)
    P = jvm.org.apache.hadoop.fs.Path
    vec, new = P(f"{root}/vectors"), P(f"{root}/vectors_new")
    if (
        not fs.exists(vec)
        and fs.exists(new)
        and fs.exists(P(f"{root}/vectors_new/_SUCCESS"))
    ):
        fs.rename(new, vec)
    rb = P(f"{root}/__rebuild")
    if fs.exists(rb):
        if fs.exists(P(f"{root}/__rebuild/_COMMIT")):
            for sub in ("vectors", "centroids"):
                rsub = P(f"{root}/__rebuild/{sub}")
                if fs.exists(rsub):
                    fs.delete(P(f"{root}/{sub}"), True)
                    fs.rename(rsub, P(f"{root}/{sub}"))
            fs.delete(P(f"{root}/adds"), True)
        fs.delete(rb, True)


def _ivf_add_epochs(spark: SparkSession, root: str) -> list[int]:
    jvm, fs = _ivf_fs(spark, root)
    p = jvm.org.apache.hadoop.fs.Path(f"{root}/adds")
    if not fs.exists(p):
        return []
    out = []
    for st in fs.listStatus(p):
        name = st.getPath().getName()
        if st.isDirectory() and name.startswith("epoch="):
            out.append(int(name[6:]))
    return sorted(out)


def ivf_index_add(
    spark: SparkSession,
    root: str,
    new_vectors: DataFrame,
    epoch: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> int:
    """Incrementally add vectors to a :func:`build_ivf_index` index —
    O(|batch|) per call, never O(corpus).

    New rows are assigned to the EXISTING stored cells (the centroids never
    move — search stays consistent with every previously indexed vector)
    and land under ``adds/epoch=N/cell=C``: a replayed streaming epoch
    overwrites its own directory (same idempotence pattern as the ingest
    dedup state), and ``cell`` stays a partition column so
    :func:`ivf_topk_indexed`'s probe filter prunes adds exactly like the
    base. Freshness therefore costs one map-only assignment + one
    partitioned write, NOT the full rebuild the overwrite-only builder
    required (VERDICT r04 item #4). Compact with :func:`ivf_index_compact`
    once :func:`ivf_index_report` says the tail or cell skew has grown.

    Returns the epoch the batch was written under."""
    from momyre_spark.functions.vectors import add_normalized

    _ivf_heal(spark, root)
    cents = [
        (int(r["cent_id"]), list(r["centroid"]))
        for r in spark.read.parquet(f"{root}/centroids").collect()
    ]
    if epoch is None:
        prior = _ivf_add_epochs(spark, root)
        epoch = (prior[-1] + 1) if prior else 0
    nemb = add_normalized(new_vectors, vec_col, "__nv")
    assigned = _nearest_cells(nemb, cents, id_col, n_best=1).select(
        F.col(id_col),
        F.col(vec_col),
        F.col("__nv").alias("nvec"),
        F.col("cent_id").alias("cell"),
    )
    # one file per cell per epoch — without the cell-keyed cluster a
    # wide-parallelism streaming epoch writes input_partitions x cells
    # tiny files into the tail, and the tail's file count (not its row
    # count) becomes what forces compactions
    _write_by_cell(
        assigned, f"{root}/adds/epoch={epoch}", len(cents), 1, id_col
    )
    return int(epoch)


def _ivf_corpus(spark: SparkSession, root: str) -> DataFrame:
    """Base + add-tail union of an IVF index, ``cell`` partition-prunable
    on both sides."""
    _ivf_heal(spark, root)
    base = spark.read.parquet(f"{root}/vectors")
    cols = [c for c in base.columns]
    if _ivf_add_epochs(spark, root):
        # explicit schema, not inference: an epoch whose batch deduped away
        # entirely is a directory with only _SUCCESS — inference throws
        # UNABLE_TO_INFER_SCHEMA and would brick every later search, while
        # the base schema reads it as zero rows (epoch stays a pruned-away
        # partition dir either way)
        adds = (
            spark.read.schema(base.schema).parquet(f"{root}/adds")
            .select(*cols)
        )
        base = base.unionByName(adds)
    return base


def ivf_index_report(
    spark: SparkSession, root: str, skew_bound: float = 4.0
) -> dict:
    """Index staleness/health probe: per-cell row counts over base + adds
    (one partition-column-only aggregation — footer metadata, no vector
    IO), the add-tail depth, and a re-cluster recommendation when the
    fullest cell exceeds ``skew_bound`` x the mean (skewed cells erode the
    nprobe/num_cells pruning guarantee: one hot cell makes every probe
    touching it scan far more than N/C rows)."""
    per_cell = {
        int(r["cell"]): int(r["n"])
        for r in _ivf_corpus(spark, root)
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    n_cells = len(per_cell)
    total = sum(per_cell.values())
    mean = total / n_cells if n_cells else 0.0
    skew = (max(per_cell.values()) / mean) if per_cell and mean else 0.0
    epochs = _ivf_add_epochs(spark, root)
    return {
        "cells": n_cells,
        "rows": total,
        "add_epochs": len(epochs),
        "max_cell": max(per_cell.values()) if per_cell else 0,
        "cell_skew": skew,
        "recluster_recommended": bool(skew > skew_bound),
    }


def ivf_index_compact(
    spark: SparkSession,
    root: str,
    recluster: bool = False,
    num_cells: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> int:
    """Fold the add-tail back into one clustered base (and optionally
    re-cluster). O(corpus) by design — run occasionally, not per batch.

    ``recluster=False`` keeps the stored centroids (stored normalized
    projections are reused — no re-normalization pass); ``recluster=True``
    re-trains k-means on the merged corpus and reassigns, for when
    :func:`ivf_index_report` flags skew. Crash-safe like
    ``compact_ingest_state`` (single-writer, like the snapshot store):
    the plain path writes ``vectors_new`` and destroys prior state only
    after its ``_SUCCESS`` marker verifies; the recluster path stages
    under ``__rebuild`` and drops a ``_COMMIT`` marker once complete —
    every crash window (mid-rebuild, mid-swap of either vectors or
    centroids, before the add-tail delete) self-heals on the next read
    (:func:`_ivf_heal`): an uncommitted rebuild is discarded, a committed
    one has its swap finished idempotently. The merge dedupes by
    ``id_col`` so a crash between the base swap and the add-tail delete
    can only cause TRANSIENT duplicate neighbors (until the next
    compaction), never a permanently doubled base. Returns the cell
    count."""
    _ivf_heal(spark, root)
    jvm, fs = _ivf_fs(spark, root)
    P = jvm.org.apache.hadoop.fs.Path
    epochs = _ivf_add_epochs(spark, root)
    # dropDuplicates, not raw union: if a previous compact crashed after
    # swapping in the merged base but before deleting the add-tail, every
    # added row exists in BOTH — folding that union verbatim would bake
    # the duplicates in permanently. Copies are identical rows, so any
    # survivor is correct.
    merged = _ivf_corpus(spark, root).dropDuplicates([id_col])
    if recluster:
        n = build_ivf_index(
            merged.select(id_col, vec_col),
            f"{root}/__rebuild",
            num_cells=num_cells or spark.read.parquet(
                f"{root}/centroids"
            ).count(),
            id_col=id_col,
            vec_col=vec_col,
        )
        if not fs.exists(P(f"{root}/__rebuild/vectors/_SUCCESS")):
            raise RuntimeError(
                f"momyre: rebuild {root}/__rebuild missing _SUCCESS"
            )
        # COMMIT POINT: after this marker the rebuild is authoritative
        # and _ivf_heal finishes the swap from any crash window
        fs.create(P(f"{root}/__rebuild/_COMMIT")).close()
        for sub in ("vectors", "centroids"):
            fs.delete(P(f"{root}/{sub}"), True)
            fs.rename(P(f"{root}/__rebuild/{sub}"), P(f"{root}/{sub}"))
        fs.delete(P(f"{root}/adds"), True)
        fs.delete(P(f"{root}/__rebuild"), True)
    else:
        n_cells = spark.read.parquet(f"{root}/centroids").count()
        _write_by_cell(merged, f"{root}/vectors_new", n_cells, 1, id_col)
        if not fs.exists(P(f"{root}/vectors_new/_SUCCESS")):
            raise RuntimeError(
                f"momyre: compacted base {root}/vectors_new completed "
                "without a _SUCCESS marker; refusing to drop prior state"
            )
        fs.delete(P(f"{root}/vectors"), True)
        fs.rename(P(f"{root}/vectors_new"), P(f"{root}/vectors"))
        n = n_cells
        for e in epochs:
            fs.delete(P(f"{root}/adds/epoch={e}"), True)
        fs.delete(P(f"{root}/adds"), False)
    return int(n)


def semantic_decontaminate(
    corpus: DataFrame,
    eval_set: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-space eval decontamination: drop every corpus row whose
    cosine to ANY eval-set row reaches ``threshold`` — the semantic twin of
    n-gram decontamination (``textops.decontaminate``), catching paraphrased
    or reformatted test leakage that shares no 13-gram with the eval.

    Shape: the eval side is benchmark-sized (thousands), so it BROADCASTS
    and the corpus is scored map-side — the corpus never shuffles; the only
    exchange is the distinct on matched ids (bounded by the contamination
    count). Same broadcast-bounded contract as hard_negatives; for an eval
    set too large to broadcast, pre-bucket both sides with SRP
    (embedding_neardup_pairs) instead."""
    from momyre_spark.functions.vectors import add_normalized, dot

    c = add_normalized(corpus, vec_col, "__nv")
    e = add_normalized(eval_set, vec_col, "__ev").select(
        F.col(id_col).alias("__eid"), F.col("__ev")
    )
    hits = (
        c.crossJoin(F.broadcast(e))
        .filter(dot(F.col("__nv"), F.col("__ev")) >= threshold)
        .select(id_col)
        .distinct()
    )
    return corpus.join(hits, id_col, "left_anti")


def token_slices(
    emb: DataFrame,
    n_tokens: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Split a pooled D-dim vector into ``n_tokens`` contiguous sub-vectors
    — a deterministic multi-vector stand-in for corpora that store one
    pooled embedding per document (real late-interaction corpora supply
    per-token vectors directly and skip this).

    Output: ``(id_col, token_pos, vec)``, one row per sub-vector. Map-only
    (posexplode of a slice transform); D must divide evenly — enforced at
    runtime (mirroring train_pq_codebooks' 'dim not divisible' error): a
    fractional sub-width would int-truncate into misaligned slices that
    silently drop trailing dimensions."""
    d = F.size(F.col(vec_col))
    sub = d / F.lit(n_tokens)
    guard = F.raise_error(
        F.concat(
            F.lit("token_slices: dim "),
            d.cast("string"),
            F.lit(f" not divisible by n_tokens={n_tokens}"),
        )
    )
    slices = F.when(d % n_tokens != 0, guard).otherwise(
        F.transform(
            F.sequence(F.lit(0), F.lit(n_tokens - 1)),
            lambda t: F.slice(
                F.col(vec_col), (t * sub + 1).cast("int"), sub.cast("int")
            ),
        )
    )
    return emb.select(
        id_col, F.posexplode(slices).alias("token_pos", "vec")
    )


def maxsim_topk(
    doc_tokens: DataFrame,
    query_tokens: DataFrame,
    k: int = 10,
    doc_id_col: str = "doc_id",
    query_id_col: str = "query_id",
    pos_col: str = "token_pos",
    vec_col: str = "vec",
    candidates: DataFrame | None = None,
    exclude_self: bool = False,
) -> DataFrame:
    """Late-interaction (ColBERT-style MaxSim) top-k retrieval over
    multi-vector representations: score(q, d) = sum over q's token vectors
    of the max cosine against any of d's token vectors. Captures per-token
    alignment a single pooled vector blurs away — the standard re-ranking
    score for multi-vector corpora.

    Inputs are token frames ``(id, token_pos, vec)`` (one row per token).
    The query side must be bounded (it broadcasts; hard cap
    ``MAX_QUERY_TOKENS`` via a limit-probe, not a count). Two shapes:

    - ``candidates=None``: every doc scores against every query — one
      broadcast pass over the corpus tokens (same contract as
      brute_force_topk). Exact, for bounded corpora or oracle twins.
    - ``candidates=(query_id, doc_id)`` frame: scoring restricted to the
      given pairs — doc tokens hash-join to candidates on doc id, then to
      the broadcast query tokens on query id; every join is an equi-join
      and cost is |candidate pairs| x |tokens|^2, independent of corpus
      size. This is the 100 TB path: candidates come from a cheap
      first-stage retriever (IVF cells / SRP buckets on the pooled
      vector), maxsim re-ranks them.

    The per-(query token, doc) max is taken over cosines rounded to 6
    decimals and summed as DECIMAL(18,6) — rounding is monotone so the max
    is unchanged, and the decimal sum makes the score bit-identical under
    any partitioning and across engines (the oracled-floating-aggregate
    pattern). Output: (query_id, doc_id, rank, score)."""
    from momyre_spark.functions.vectors import add_normalized, dot

    MAX_QUERY_TOKENS = 100_000
    qn = add_normalized(query_tokens, vec_col, "__qv").select(
        F.col(query_id_col).alias("query_id"),
        F.col(pos_col).alias("__qpos"),
        "__qv",
    )
    probe = qn.limit(MAX_QUERY_TOKENS + 1).take(MAX_QUERY_TOKENS + 1)
    if len(probe) > MAX_QUERY_TOKENS:
        raise ValueError(
            f"maxsim_topk: query token set exceeds {MAX_QUERY_TOKENS} rows — "
            "it must be broadcastable; batch the queries"
        )
    dn = add_normalized(doc_tokens, vec_col, "__dv").select(
        F.col(doc_id_col).alias("doc_id"), "__dv"
    )
    if candidates is None:
        pairs = dn.crossJoin(F.broadcast(qn))
    else:
        # contract: candidates carries literal (query_id, doc_id) columns —
        # id-col kwargs describe the token frames, whose ids may share a name
        cand = candidates.select("query_id", "doc_id")
        pairs = dn.join(cand, "doc_id").join(F.broadcast(qn), "query_id")
    if exclude_self:
        pairs = pairs.filter(F.col("doc_id") != F.col("query_id"))
    # per-pair dot via the Arrow fold twin — bit-identical to the
    # expression fold (see _pair_dot_pandas), one vectorized batch pass
    # instead of |pairs| interpreted HOF folds
    per_qtoken = (
        pairs.withColumn(
            "__cos",
            round_half_up(
                _pair_dot_pandas()(F.col("__dv"), F.col("__qv")), 6
            ).cast("decimal(18,6)"),
        )
        .groupBy("query_id", "__qpos", "doc_id")
        .agg(F.max("__cos").alias("__maxcos"))
    )
    scored = per_qtoken.groupBy("query_id", "doc_id").agg(
        F.sum("__maxcos").alias("__score")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("__score").desc(), F.col("doc_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "doc_id",
            "rank",
            round_half_up(F.col("__score").cast("double"), 4).alias("score"),
        )
    )


def maxsim_sliced_topk_numpy(
    emb: DataFrame,
    queries: DataFrame,
    n_tokens: int = 8,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    candidates: DataFrame | None = None,
    exclude_self: bool = False,
    ivf_cells: int | None = None,
    centroids: list[list[float]] | str = "first_c",
) -> DataFrame:
    """Fold-exact Arrow twin of ``token_slices`` + :func:`maxsim_topk`
    over sliced pooled vectors — BIT-IDENTICAL output (parity pytest).

    ``ivf_cells`` replaces an explicit ``candidates`` frame with the IVF
    first-stage rule computed IN the same pass: each side's nearest cell
    over the POOLED normalized vector (``_centroid_rows`` centroids ride
    the closure; fold-exact cosines, ties to the lower cent_id — the
    ``assign_ivf_cells`` contract), candidate iff doc and query share a
    cell. The expression pipeline pays a |corpus| x cells interpreted
    fold pass plus a join for exactly this; here it is one vectorized
    comparison per batch and the scan stays candidate-free.

    Why it exists (guide §4): the expression path explodes every pooled
    vector into ``n_tokens`` rows, fold-normalizes each token with an
    interpreted higher-order lambda, joins three frames, and pays one
    interpreted dot fold per (candidate, doc-token, query-token) row.
    Here the corpus streams through ONE ``mapInPandas`` carrying the
    query token tensor in the task closure: slicing, normalization,
    cosines, the 6dp round, the per-query-token max and the score sum
    are all per-dimension vectorized with the exact scalar op sequence
    of the expression path —

    - token norms accumulate dimension by dimension from 0.0
      (``add_normalized``'s fold), then one sqrt + one division;
    - each cosine accumulates dimension by dimension (``vectors.dot``);
    - the 6dp fix is ``floor(cos * 1e6 + 0.5)`` kept in integer-valued
      doubles (exact — the DECIMAL(18,6) micro-units of the expression
      path), so the max/sum over them and the final ``score`` double
      (one correctly-rounded division by 1e6) match the decimal
      arithmetic bit for bit.

    ``candidates`` rows are de-duplicated first (the groupBy of the
    expression path collapses duplicates; a twin emitting one output row
    per duplicate would rank differently). NaN cosines (a zero-norm
    token) differ from the expression path's NULL-dropping max — callers
    feed finite unit-normalizable vectors (the registered corpora are).
    """
    import numpy as np

    qrows = (
        queries.select(id_col, vec_col).limit(_MAX_NUMPY_QUERIES + 1).collect()
    )
    if len(qrows) > _MAX_NUMPY_QUERIES:
        raise ValueError(
            f"momyre: query set exceeds {_MAX_NUMPY_QUERIES} rows — "
            "it must be broadcastable; batch the queries"
        )
    if not qrows:
        raise ValueError("momyre: maxsim query set is empty")
    dim = len(qrows[0][1])
    if dim % n_tokens:
        raise ValueError(
            f"token_slices: dim {dim} not divisible by n_tokens={n_tokens}"
        )

    def _norm_toks(tok3):
        # (N, T, S): per-token squared norm accumulated dim by dim from
        # 0.0 — add_normalized's exact fold — then sqrt + divide
        acc = np.zeros(tok3.shape[:2])
        for j in range(tok3.shape[2]):
            c = tok3[:, :, j]
            acc = acc + c * c
        return tok3 / np.sqrt(acc)[:, :, None]

    q_ids = np.array([r[0] for r in qrows], dtype=np.int64)
    q_mat = np.array([r[1] for r in qrows], dtype=np.float64)
    qt = _norm_toks(q_mat.reshape(len(q_ids), n_tokens, -1))  # (Q, T, S)
    qpos_of = {int(qid): i for i, qid in enumerate(q_ids)}

    c_ids = c_mat = q_cells = None
    if ivf_cells is not None:
        if candidates is not None:
            raise ValueError(
                "momyre: pass either candidates or ivf_cells, not both"
            )
        cent_rows = _centroid_rows(emb, ivf_cells, id_col, centroids, vec_col)
        if not cent_rows:
            raise ValueError("momyre: no centroids resolved")
        c_ids = np.array([c for c, _ in cent_rows], dtype=np.int64)
        c_mat = np.array([v for _, v in cent_rows], dtype=np.float64)

        def _cell_of(mat):
            # nearest cell by (cosine DESC, cent_id ASC) over the POOLED
            # normalized vector — the assign_ivf_cells rule, fold-exact
            sims = _fold_dot_np(_fold_normalize_np(mat), c_mat)
            order = np.lexsort(
                (np.broadcast_to(c_ids, sims.shape), -sims), axis=1
            )
            return c_ids[order[:, 0]]

        q_cells = _cell_of(q_mat)

    base = emb.select(
        F.col(id_col).alias("doc_id"), F.col(vec_col).alias("__vec")
    )
    if candidates is not None:
        inp = base.join(
            candidates.select("query_id", "doc_id").distinct(), "doc_id"
        )
    else:
        inp = base
    out_schema = "query_id long, doc_id long, score double"
    # plain bool for the task closure — capturing the DataFrame itself
    # would drag the SparkContext into the pickle
    have_cand = candidates is not None

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            dids = pdf["doc_id"].to_numpy(dtype=np.int64)
            mat = np.array(list(pdf["__vec"]), dtype=np.float64)
            d_cells = _cell_of(mat) if q_cells is not None else None
            dt = _norm_toks(mat.reshape(len(dids), n_tokens, -1))

            def _scores(rows_idx, qi):
                # (B, Td, Tq) cosines accumulated dim by dim (dot fold)
                sub = dt[rows_idx]
                acc = np.zeros((sub.shape[0], n_tokens, n_tokens))
                for j in range(sub.shape[2]):
                    acc = acc + sub[:, :, None, j] * qt[qi][None, None, :, j]
                # 6dp fix in integer-valued doubles (exact micro-units),
                # max over doc tokens, sum over query tokens, one
                # correctly-rounded division back to a double score
                micro = np.floor(acc * 1e6 + 0.5)
                return micro.max(axis=1).sum(axis=1) / 1e6

            if not have_cand:
                for qi, qid in enumerate(q_ids):
                    idx = np.arange(len(dids))
                    if d_cells is not None:
                        idx = idx[
                            (d_cells == q_cells[qi]) & (dids != qid)
                        ]
                    elif exclude_self:
                        idx = idx[dids != qid]
                    if not len(idx):
                        continue
                    yield pd.DataFrame(
                        {
                            "query_id": qid,
                            "doc_id": dids[idx],
                            "score": _scores(idx, qi),
                        }
                    )
            else:
                qarr = pdf["query_id"].to_numpy(dtype=np.int64)
                for qid in np.unique(qarr):
                    qi = qpos_of.get(int(qid))
                    if qi is None:
                        continue  # candidate for a query outside the set
                    idx = np.flatnonzero(qarr == qid)
                    if exclude_self:
                        idx = idx[dids[idx] != qid]
                    if not len(idx):
                        continue
                    yield pd.DataFrame(
                        {
                            "query_id": qid,
                            "doc_id": dids[idx],
                            "score": _scores(idx, qi),
                        }
                    )

    scored = inp.mapInPandas(score, schema=out_schema)
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "doc_id",
            "rank",
            round_half_up(F.col("score"), 4).alias("score"),
        )
    )


def mmr_rerank(
    corpus: DataFrame,
    queries: DataFrame,
    k_candidates: int = 10,
    k_select: int = 5,
    lam: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_queries: int = 10_000,
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein,
    SIGIR'98): from each query's top-``k_candidates`` cosine candidates,
    greedily select ``k_select`` maximizing
    ``lam * rel - (1 - lam) * max_{s in selected} cos(c, s)`` — relevant
    results that are NOT near-duplicates of each other, the standard
    retrieval-diversity fix for corpora full of boilerplate variants.
    Output: ``(query_id, step, vec_id, rel, score)``, step 1..k_select
    in selection order (an empty selected set penalizes 0).

    Shape: candidate generation and ALL similarity arithmetic run in
    Spark (brute_force_topk for rel; candidate-pair cosines via one
    broadcast-filtered corpus scan and a per-query pair join bounded by
    ``|q| * k_candidates^2``). Only the greedy LOOP runs on the driver —
    it is k_select steps over a candidate table capped by the
    ``max_queries`` limit-probe (the BPE-merge-loop precedent:
    driver-iterative but bounded by construction, independent of corpus
    size). Batch the query set when it exceeds the cap.

    Determinism: rel is the 4dp-rounded candidate cosine; pair cosines
    fix to DECIMAL(18,6) (the label_margin recipe); the score tree is
    evaluated as ``lam * rel - (1.0 - lam) * pen`` in IEEE doubles
    (an oracle must spell ``1.0 - lam``, never the folded literal);
    ties break by ascending id. Scores round at 6dp for output only —
    selection uses raw doubles.
    """
    import math

    if k_select < 1 or k_candidates < k_select:
        raise ValueError(
            "momyre: need 1 <= k_select <= k_candidates"
        )
    from momyre_spark.functions.vectors import add_normalized, dot

    cands = brute_force_topk(
        corpus, queries, k=k_candidates, id_col=id_col, vec_col=vec_col
    )
    probe = cands.limit(max_queries * k_candidates + 1).take(
        max_queries * k_candidates + 1
    )
    if len(probe) > max_queries * k_candidates:
        raise ValueError(
            f"momyre: mmr_rerank query set exceeds max_queries="
            f"{max_queries} — batch the queries"
        )
    spark = corpus.sparkSession
    cand_rows = [
        (int(r["query_id"]), int(r["neighbor_id"]), float(r["cos"]))
        for r in probe
    ]
    cand_df = spark.createDataFrame(
        cand_rows, "query_id long, id long, rel double"
    )
    nv = add_normalized(corpus, vec_col, "__nv").select(
        F.col(id_col).alias("id"), F.col("__nv").alias("__v")
    )
    cv = nv.join(
        F.broadcast(cand_df.select("query_id", "id")), "id"
    ).select("query_id", "id", "__v")
    a = cv.select(
        "query_id", F.col("id").alias("ia"), F.col("__v").alias("__va")
    )
    b = cv.select(
        "query_id", F.col("id").alias("ib"), F.col("__v").alias("__vb")
    )
    pair_rows = (
        a.join(b, "query_id")
        .filter(F.col("ia") != F.col("ib"))
        .select(
            "query_id",
            "ia",
            "ib",
            round_half_up(dot(F.col("__va"), F.col("__vb")), 6)
            .cast("decimal(18,6)")
            .alias("cosd"),
        )
        .collect()
    )
    pen_map: dict[tuple[int, int, int], float] = {
        (int(r["query_id"]), int(r["ia"]), int(r["ib"])): float(r["cosd"])
        for r in pair_rows
    }
    by_query: dict[int, list[tuple[int, float]]] = {}
    for qid, cid, rel in cand_rows:
        by_query.setdefault(qid, []).append((cid, rel))
    lam_f = float(lam)
    out_rows = []
    for qid, clist in by_query.items():
        remaining = dict(clist)
        selected: list[int] = []
        for step in range(1, k_select + 1):
            if not remaining:
                break
            best = None
            for cid, rel in remaining.items():
                pen = max(
                    (pen_map[(qid, s, cid)] for s in selected),
                    default=0.0,
                )
                score = lam_f * rel - (1.0 - lam_f) * pen
                key = (score, -cid)
                if best is None or key > best[0]:
                    best = (key, cid, rel, score)
            _, cid, rel, score = best
            out_rows.append(
                (
                    qid,
                    step,
                    cid,
                    rel,
                    math.floor(score * 1_000_000 + 0.5) / 1_000_000.0,
                )
            )
            selected.append(cid)
            del remaining[cid]
    return spark.createDataFrame(
        out_rows,
        "query_id long, step int, vec_id long, rel double, score double",
    )


def rbo_weight_units(k: int, p: float) -> list[int]:
    """RBO weight table in 1e-12 fixed-point units: entry m-1 holds
    c(m) = sum_{d=m..k} p^(d-1)/d — a common item first counted at depth
    m contributes c(m) to the truncated RBO sum. Computed ONCE in Python
    and embedded as identical integer literals in both the Spark plan
    and the DuckDB oracle, so neither engine ever sums floats."""
    units = []
    for m in range(1, k + 1):
        c = 0.0
        for d in range(m, k + 1):
            c += p ** (d - 1) / d
        units.append(round(c * 1e12))
    return units


def rank_biased_overlap(
    a: DataFrame,
    b: DataFrame,
    k: int,
    p: float = 0.9,
    query_col: str = "query_id",
    item_col: str = "neighbor_id",
    rank_col: str = "rank",
    digits: int = 6,
) -> DataFrame:
    """Rank-biased overlap (Webber, Moffat & Zobel 2010), truncated at
    depth ``k``, between two per-query rankings — the standard top-
    weighted agreement metric for comparing an approximate ANN index
    against the exact ranking (recall@k says WHETHER the true items
    appear; RBO also scores WHERE). Output per query in ``a``:
    ``(query_id, overlap_k, rbo)`` with ``overlap_k`` = |A_k ∩ B_k| and
    ``rbo`` = (1-p) * sum_{d<=k} p^(d-1) * |A_d ∩ B_d| / d.

    Spark-first shape: never materializes per-depth prefixes — a common
    item with ranks (ra, rb) enters every prefix intersection from depth
    m = max(ra, rb) on, so its total contribution is the CLOSED-FORM
    constant c(m) = sum_{d=m..k} p^(d-1)/d. One equi-join of the two
    rankings on (query, item), a k-entry literal array lookup, one hash
    agg per query. The rankings are each O(queries * k) rows — this
    costs nothing next to producing them.

    Determinism: c(m) is a Python-precomputed 1e-12 fixed-point integer
    (see :func:`rbo_weight_units`); per-query sums are exact BIGINTs;
    the final (1-p) * units / 1e12 is one mirrored float tree, rounded
    at ``digits``.
    """
    if k < 1:
        raise ValueError("momyre: k must be >= 1")
    if not 0.0 < p < 1.0:
        raise ValueError("momyre: p must be in (0, 1)")
    units = rbo_weight_units(k, p)
    wtab = F.array(*[F.lit(u).cast("bigint") for u in units])
    left = a.filter(F.col(rank_col) <= k).select(
        F.col(query_col).alias("__q"),
        F.col(item_col).alias("__i"),
        F.col(rank_col).alias("__ra"),
    )
    right = b.filter(F.col(rank_col) <= k).select(
        F.col(query_col).alias("__q"),
        F.col(item_col).alias("__i"),
        F.col(rank_col).alias("__rb"),
    )
    matches = left.join(right, ["__q", "__i"]).select(
        "__q",
        F.element_at(
            wtab, F.greatest(F.col("__ra"), F.col("__rb")).cast("int")
        ).alias("__w"),
    )
    per_q = matches.groupBy("__q").agg(
        F.count(F.lit(1)).cast("bigint").alias("__ov"),
        F.sum("__w").cast("bigint").alias("__u"),
    )
    queries = left.select("__q").distinct()
    return queries.join(per_q, "__q", "left").select(
        F.col("__q").alias(query_col),
        F.coalesce(F.col("__ov"), F.lit(0)).cast("bigint").alias("overlap_k"),
        round_half_up(
            F.lit(1.0 - p)
            * F.coalesce(F.col("__u"), F.lit(0)).cast("double")
            / F.lit(1e12),
            digits,
        ).alias("rbo"),
    )


def _twonn_estimate(pairs: DataFrame, digits: int) -> DataFrame:
    """Shared TwoNN tail: (anchor, candidate, d2) pairs -> per-anchor top-2
    by (d2, id) -> positive-ratio 1e-6 fixed-point units -> the one-row
    MLE. Both the expression form and the numpy twin feed this, so their
    estimates can only diverge if their d2 values do."""
    w = Window.partitionBy("__a").orderBy("__d2", "__b")
    top2 = (
        pairs.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= 2)
        .groupBy("__a")
        .agg(
            F.min("__d2").alias("__d1"),
            F.max("__d2").alias("__dd2"),
            F.count(F.lit(1)).alias("__k"),
        )
        .filter(F.col("__k") == 2)
    )
    per_point = top2.filter(F.col("__d1") > 0).select(
        F.floor(
            F.log(F.col("__dd2") / F.col("__d1")) * F.lit(1_000_000)
            + F.lit(0.5)
        ).cast("bigint").alias("__lnu")
    )
    zeros = top2.filter(F.col("__d1") <= 0).agg(
        F.count(F.lit(1)).cast("bigint").alias("__nz")
    )
    agg = per_point.agg(
        F.count(F.lit(1)).cast("bigint").alias("__n"),
        F.sum("__lnu").alias("__s"),
    )
    return (
        agg.crossJoin(zeros)
        .filter((F.col("__n") > 0) & (F.col("__s") > 0))
        .select(
            F.col("__n").alias("n_points"),
            F.col("__nz").alias("n_zero_excluded"),
            round_half_up(
                F.lit(2.0)
                * F.col("__n").cast("double")
                / (F.col("__s").cast("double") / F.lit(1_000_000.0)),
                digits,
            ).alias("id_est"),
        )
    )


def twonn_intrinsic_dim(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    anchors: DataFrame | None = None,
    digits: int = 4,
) -> DataFrame:
    """TwoNN intrinsic-dimension estimate (Facco et al. 2017) of an
    embedding column: for each point take the squared distances d1 <= d2
    to its two nearest POSITIVE-distance neighbors; mu = r2/r1 follows a
    Pareto(ID) law, and the MLE is ID = n / sum(ln mu) = 2n /
    sum(ln(d2/d1)). One row out: ``(n_points, n_zero_excluded, id_est)``.
    Why in an LLM-data engine: embedding tables routinely claim 768+
    dims while the data sits on a ~10-30-dim manifold — the ID readout
    sizes PQ codebooks, picks SRP bit counts, and flags collapsed
    encoders (ID near 1-2) before a dedup threshold is tuned on them.

    Shape here is the exact brute-force pair scan (the same contract as
    :func:`brute_force_topk`): a self-join with a sequential zip_with/
    aggregate fold per pair — all codegen, no Python — then a per-point
    rank kept to the top 2 (Spark inserts a map-side WindowGroupLimit
    below the rank exchange, so no task ever buffers a full neighbor
    list). Bit-identical points are excluded from the estimator (mu is
    undefined at r1 = 0), counted in ``n_zero_excluded``. At 100 TB the
    estimator needs only a uniform SAMPLE of anchor points (it is an
    MLE over n i.i.d. ratios): pass ``anchors`` — a subset of ``emb``
    with the same columns — as the LEFT side while the full corpus
    stays on the right; candidate generation then bounds through the
    IVF cells exactly like ivf_topk.

    Determinism: each pairwise fold is sequential in index order
    (mirrored by the oracle's list_reduce); per-point ln(d2/d1) is
    fixed-pointed to 1e-6 BIGINT units so the corpus sum is exact; the
    final 2n/sum is one mirrored float tree rounded at ``digits``.
    """
    from momyre_spark.functions.vectors import to_double

    def proj(df: DataFrame) -> DataFrame:
        return df.select(
            F.col(id_col).alias("__id"),
            to_double(F.col(vec_col)).alias("__v"),
        )

    l = proj(anchors if anchors is not None else emb).alias("l")
    r = proj(emb).alias("r")
    diff = F.zip_with(
        F.col("l.__v"), F.col("r.__v"), lambda x, y: (x - y) * (x - y)
    )
    d2 = F.aggregate(diff, F.lit(0.0), lambda acc, x: acc + x)
    pairs = (
        l.join(r, F.col("l.__id") != F.col("r.__id"))
        .select(
            F.col("l.__id").alias("__a"),
            F.col("r.__id").alias("__b"),
            d2.alias("__d2"),
        )
    )
    return _twonn_estimate(pairs, digits)


def twonn_intrinsic_dim_numpy(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    anchors: DataFrame | None = None,
    digits: int = 4,
) -> DataFrame:
    """Arrow-batched numpy twin of :func:`twonn_intrinsic_dim` — the
    brute_force_topk_numpy pattern: the anchor matrix rides to executors
    in the task closure (anchor-count-bounded), each corpus Arrow batch
    computes its distance block in vectorized numpy and emits only its
    local top-2 per anchor, so the global rank sees
    |partitions| * |anchors| * 2 rows, never the pair matrix.

    BIT-IDENTICAL to the expression form by construction, not by luck:
    d2 accumulates COLUMN-WISE (``d2 += (mat[:, j] - a[j])**2`` for j in
    dimension order), forcing the exact left-to-right IEEE addition order
    of the zip_with/aggregate fold. A plain ``.sum(axis=1)`` would NOT be
    identical: numpy's reduction is sequential only below 8 elements and
    uses an 8-accumulator unrolled tree for 8–128, which can differ from
    the fold by 1 ULP — enough to flip a 1e-6 fixed-point ln-ratio at a
    rounding boundary (pinned by the parity pytest). Everything
    downstream (top-2-positive rule, 1e-6 fixed-point ln-ratio units,
    the final mirrored division) is shared.
    """
    import numpy as np

    MAX_ANCHORS = 100_000
    arows = (
        (anchors if anchors is not None else emb)
        .select(id_col, vec_col)
        .limit(MAX_ANCHORS + 1)
        .collect()
    )
    if len(arows) > MAX_ANCHORS:
        raise ValueError(
            f"twonn_intrinsic_dim_numpy: anchor set exceeds {MAX_ANCHORS} "
            "rows — it must fit the task closure; subsample the anchors"
        )
    a_ids = np.array([r[0] for r in arows], dtype=np.int64)
    a_mat = np.array([r[1] for r in arows], dtype=np.float64)

    out_schema = "__a long, __b long, __d2 double"

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as _np

        for pdf in batches:
            if pdf.empty:
                continue
            ids = pdf[id_col].to_numpy(dtype=_np.int64)
            mat = _np.array(list(pdf[vec_col]), dtype=_np.float64)
            dim = mat.shape[1]
            # column-wise accumulation = the fold's exact left-to-right
            # IEEE order (sum(axis=1) is NOT: numpy tree-reduces
            # 8..128-element axes with 8 accumulators, off by 1 ULP)
            d2_all = _np.zeros((len(a_ids), len(mat)))
            for j in range(dim):
                d2_all += (mat[None, :, j] - a_mat[:, j][:, None]) ** 2
            for ai, aid in enumerate(a_ids):
                d2 = d2_all[ai]
                mask = ids != aid
                cids, cd = ids[mask], d2[mask]
                if len(cids) > 2:
                    keep = _np.lexsort((cids, cd))[:2]
                    cids, cd = cids[keep], cd[keep]
                yield pd.DataFrame({"__a": aid, "__b": cids, "__d2": cd})

    pairs = emb.select(id_col, vec_col).mapInPandas(score, schema=out_schema)
    return _twonn_estimate(pairs, digits)


def source_centroid_sim(
    emb: DataFrame,
    docs: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    doc_id_col: str = "doc_id",
    source_col: str = "source",
    digits: int = 6,
) -> DataFrame:
    """Pairwise cosine similarity between per-source embedding centroids
    — the corpus-composition readout over the embedding space ("which
    sources cover the same content region?") that drives mixture
    de-duplication decisions at the SOURCE level before any per-document
    work. Output one row per unordered source pair: ``(source_a,
    source_b, n_a, n_b, cos_sim)`` with source_a < source_b.

    Shape at 100 TB: one co-keyed join (embeddings x doc metadata), one
    posexplode to (source, dim) integer component sums — map-side
    combinable, |sources| * dims rows out — then everything downstream
    (centroid assembly, the S^2/2 pair join) operates on a frame of
    |sources| rows. The corpus is touched once; no pair of DOCUMENTS is
    ever formed.

    Determinism (the fixed-point discipline): vector components enter
    the sum as 1e-6 fixed-point BIGINTs (exact, order-free); each
    centroid component is ONE mirrored division tree of exact integers;
    the pair cosine folds the dim-ordered centroid arrays sequentially
    (zip_with/aggregate — same left-to-right IEEE order as the oracle's
    list_reduce), and only the final cosine rounds, at ``digits``.
    """
    joined = emb.select(
        F.col(id_col).alias("__id"),
        F.transform(
            F.col(vec_col).cast("array<double>"),
            lambda x: F.floor(x * F.lit(1e6) + F.lit(0.5)).cast("bigint"),
        ).alias("__u"),
    ).join(
        docs.select(
            F.col(doc_id_col).alias("__id"),
            F.col(source_col).alias("__src"),
        ),
        "__id",
    )
    comp = (
        joined.select("__src", F.posexplode("__u").alias("__pos", "__c"))
        .groupBy("__src", "__pos")
        .agg(F.sum("__c").cast("bigint").alias("__s"))
    )
    n_per = joined.groupBy("__src").agg(
        F.count(F.lit(1)).cast("bigint").alias("__n")
    )
    cent = (
        comp.groupBy("__src")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("__pos", "__s"))
            ).alias("__ps")
        )
        .join(n_per, "__src")
        .select(
            "__src",
            "__n",
            F.transform(
                "__ps",
                lambda ps: (ps["__s"].cast("double") / F.lit(1e6))
                / F.col("__n").cast("double"),
            ).alias("__cent"),
        )
    )
    a = cent.select(
        F.col("__src").alias("source_a"),
        F.col("__n").alias("n_a"),
        F.col("__cent").alias("__ca"),
    )
    b = cent.select(
        F.col("__src").alias("source_b"),
        F.col("__n").alias("n_b"),
        F.col("__cent").alias("__cb"),
    )
    dot = F.aggregate(
        F.zip_with(F.col("__ca"), F.col("__cb"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    na = F.sqrt(
        F.aggregate(
            F.zip_with(F.col("__ca"), F.col("__ca"), lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    nb = F.sqrt(
        F.aggregate(
            F.zip_with(F.col("__cb"), F.col("__cb"), lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    return (
        a.join(F.broadcast(b), F.col("source_a") < F.col("source_b"))
        .select(
            "source_a",
            "source_b",
            "n_a",
            "n_b",
            round_half_up(dot / (na * nb), digits).alias("cos_sim"),
        )
    )


def embedding_norm_profile(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k_mad: float = 3.5,
    digits: int = 6,
) -> DataFrame:
    """Embedding L2-norm health check: per vector, its norm, the robust
    z-score ``|norm - median| / MAD``, and an outlier verdict at
    ``k_mad`` MADs — the encoder-sanity readout that catches collapsed
    vectors (norm ~ 0), exploded activations, and un-normalized batches
    mixed into a normalized corpus. Every row is emitted with its
    verdict (the frequency_cap contract); downstream filters on
    ``is_outlier``. The distributed sibling of
    :func:`momyre_spark.operators.profile.mad_outliers`: that one sorts
    each group in one Arrow batch (group-size-bounded); this one needs
    the GLOBAL median/MAD of a corpus-sized population, so both come
    from weighted order statistics on the fixed-point distinct-value
    frame instead.

    Shape at 100 TB: the norm is a map-only sequential fold; the
    median and the MAD each come from ONE distinct-value hash agg + an
    NDV-bounded cumulative window (norms are fixed-pointed to 1e-6, so
    NDV is bounded by the value grid, the group_auc argument) — never a
    corpus sort; both scalars broadcast back. Three passes over the
    norm projection, all map-side combinable.

    Determinism: norms enter as 1e-6 fixed-point BIGINTs; median and
    MAD are exact type-1 weighted order statistics on those integers
    (rank ``ceil(N/2)`` — the qq_table convention); deviations are
    exact integer subtractions; the outlier compare is
    ``dev * 10 > k10 * mad`` in EXACT integer arithmetic (``k_mad``
    quantized to tenths), and the single emitted float per row rounds
    at ``digits``.
    """
    from momyre_spark.functions.vectors import norm as _vnorm

    k10 = int(round(k_mad * 10))
    u = F.floor(
        _vnorm(F.col(vec_col)) * F.lit(1e6) + F.lit(0.5)
    ).cast("bigint")
    base = emb.select(F.col(id_col), u.alias("__u"))

    def _weighted_median(df: DataFrame, col: str) -> DataFrame:
        per = df.groupBy(col).agg(
            F.count(F.lit(1)).cast("bigint").alias("__c")
        )
        w = Window.orderBy(col).rowsBetween(Window.unboundedPreceding, 0)
        wall = Window.rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
        cum = per.withColumn("__cum", F.sum("__c").over(w)).withColumn(
            "__N", F.sum("__c").over(wall)
        )
        # type-1 median: smallest value whose cumulative count reaches
        # ceil(N/2) = (N + 1) div 2 (exact integer arithmetic)
        return cum.filter(
            F.col("__cum") >= F.expr("(__N + 1) div 2")
        ).agg(F.min(col).cast("bigint").alias("__m"))

    med = _weighted_median(base, "__u")
    dev = base.crossJoin(F.broadcast(med)).withColumn(
        "__d", F.abs(F.col("__u") - F.col("__m"))
    )
    mad = _weighted_median(dev.select(F.col("__d").alias("__u")), "__u").select(
        F.col("__m").alias("__mad")
    )
    out = dev.crossJoin(F.broadcast(mad))
    z = F.when(
        F.col("__mad") > 0,
        round_half_up(
            F.col("__d").cast("double") / F.col("__mad").cast("double"),
            digits,
        ),
    )
    return out.select(
        F.col(id_col),
        round_half_up(F.col("__u").cast("double") / F.lit(1e6), digits).alias(
            "norm"
        ),
        z.alias("robust_z"),
        (
            (F.col("__mad") > 0)
            & (F.col("__d") * F.lit(10) > F.lit(k10) * F.col("__mad"))
        ).alias("is_outlier"),
    )
