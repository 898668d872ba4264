"""Similarity operator unit tests: planted neighbors, expr/numpy parity,
IVF recall within cells."""

from __future__ import annotations

import pytest

import math
import random

from pyspark.sql import Row
from pyspark.sql import functions as F

from momyre_spark.operators.similarity import (
    assign_ivf_cells,
    brute_force_topk,
    brute_force_topk_numpy,
    ivf_topk,
)


def _embs(spark, n=60, dim=16, seed=3):
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        v = [rng.gauss(0, 1) for _ in range(dim)]
        rows.append(Row(vec_id=i, embedding=[float(x) for x in v]))
    if n > 50:
        # plant: vec 50 = vec 0 slightly perturbed -> nearest neighbor of 0
        base = rows[0].embedding
        rows[50] = Row(vec_id=50, embedding=[x + 0.01 for x in base])
    return spark.createDataFrame(rows)


def _cos(a, b):
    d = sum(x * y for x, y in zip(a, b))
    return d / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b)))


def test_brute_force_finds_planted_neighbor(spark):
    emb = _embs(spark)
    queries = emb.filter("vec_id = 0")
    top = brute_force_topk(emb, queries, k=3).collect()
    assert top[0]["neighbor_id"] == 50 and top[0]["rank"] == 1
    assert top[0]["cos"] > 0.999


def test_numpy_path_matches_expression_path(spark):
    emb = _embs(spark)
    queries = emb.filter("vec_id < 5")
    a = [(r["query_id"], r["neighbor_id"], r["rank"], r["cos"])
         for r in brute_force_topk(emb, queries, k=5).orderBy("query_id", "rank").collect()]
    b = [(r["query_id"], r["neighbor_id"], r["rank"], r["cos"])
         for r in brute_force_topk_numpy(emb, queries, k=5).orderBy("query_id", "rank").collect()]
    assert a == b


def test_brute_force_matches_python_reference(spark):
    emb = _embs(spark, n=30)
    vecs = {r["vec_id"]: r["embedding"] for r in emb.collect()}
    queries = emb.filter("vec_id = 7")
    got = [(r["neighbor_id"]) for r in
           brute_force_topk(emb, queries, k=5).orderBy("rank").collect()]
    want = sorted(
        (i for i in vecs if i != 7),
        key=lambda i: (-_cos(vecs[7], vecs[i]), i),
    )[:5]
    assert got == want


def test_ivf_cells_cover_all_vectors(spark):
    emb = _embs(spark)
    cells = assign_ivf_cells(emb, num_cells=4)
    assert cells.count() == 60
    assert cells.select("cell").distinct().count() <= 4


def test_assign_ivf_cells_kmeans_respects_vec_col(spark):
    """r02 ADVICE regression: assign_ivf_cells with centroids='kmeans' and a
    non-default vector column must train on THAT column (it used to fall
    back to 'embedding' and blow up / train on the wrong data)."""
    emb = _embs(spark, n=40).withColumnRenamed("embedding", "vec")
    out = assign_ivf_cells(
        emb, num_cells=3, vec_col="vec", centroids="kmeans"
    )
    assert out.count() == 40
    assert set(out.columns) == {"vec_id", "vec", "cell"}
    assert out.select("cell").distinct().count() <= 3


def test_ivf_topk_is_exact_within_cell(spark):
    emb = _embs(spark)
    queries = emb.filter("vec_id = 0")
    cells = {r["vec_id"]: r["cell"] for r in assign_ivf_cells(emb, num_cells=4).collect()}
    vecs = {r["vec_id"]: r["embedding"] for r in emb.collect()}
    got = [r["neighbor_id"] for r in
           ivf_topk(emb, queries, k=5, num_cells=4).orderBy("rank").collect()]
    same_cell = [i for i in vecs if i != 0 and cells[i] == cells[0]]
    want = sorted(same_cell, key=lambda i: (-_cos(vecs[0], vecs[i]), i))[:5]
    assert got == want
    assert 50 in got  # the planted near-neighbor lands in the same cell


def test_srp_lsh_recall_vs_bruteforce(spark):
    """Honest approximate-op testing: recall@10 of SRP-LSH against the exact
    baseline on real embeddings must clear a floor, while candidate counts
    stay well below the full corpus."""
    from momyre_spark.operators.similarity import srp_lsh_topk
    from momyre_spark.sources.parquet import load_table
    from tests.conftest import SF_CORRECT

    emb = load_table(spark, SF_CORRECT, "embeddings")
    queries = emb.filter("vec_id < 6")
    exact = brute_force_topk(emb, queries, k=10).collect()
    # this corpus's true neighbors sit at cosine ~0.45 (theta ~63°, collision
    # p~0.65/plane) — few planes, many tables is the right operating point;
    # the 12-plane default targets the near-duplicate (cosine>0.9) regime
    approx = srp_lsh_topk(emb, queries, k=10, num_planes=4, num_tables=8).collect()

    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    approx_sets = {}
    for r in approx:
        approx_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])

    recalls = [
        len(exact_sets[q] & approx_sets.get(q, set())) / len(exact_sets[q])
        for q in exact_sets
    ]
    assert sum(recalls) / len(recalls) >= 0.5, recalls


def test_srp_lsh_plan_is_hash_join_not_bnlj(spark):
    """Candidate generation must be an equi-join on (table, bucket) — an
    OR-of-bucket-equalities condition degrades to BroadcastNestedLoopJoin,
    which scans every corpus row against every query."""
    from momyre_spark.operators.similarity import srp_lsh_topk

    emb = _embs(spark)
    queries = emb.filter("vec_id < 3")
    plan = (
        srp_lsh_topk(emb, queries, k=5, num_planes=4, num_tables=4, dim=16)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_embedding_neardup_lsh_matches_exact_and_plan_shape(spark):
    """LSH-bucketed near-dup pairs: same pairs as the exact method on the
    fixture, and an all-equi-join plan (no cartesian anywhere)."""
    from momyre_spark.operators.dedup import embedding_neardup_pairs
    from momyre_spark.sources.parquet import load_table
    from tests.conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    exact = {(r["a_id"], r["b_id"], r["cos"]) for r in
             embedding_neardup_pairs(emb, 0.4, method="exact").collect()}
    lsh_df = embedding_neardup_pairs(emb, 0.4, target_recall=1 - 1e-6)
    lsh = {(r["a_id"], r["b_id"], r["cos"]) for r in lsh_df.collect()}
    assert lsh == exact and len(exact) > 0
    plan = lsh_df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_ivf_kmeans_centroids_beat_first_c_on_clustered_data(spark):
    """On clustered data the first-C 'centroid' stub samples only some
    clusters (recall collapses for queries near uncovered regions); k-means
    centroids adapt to the distribution and recover the true neighbors."""
    import random

    from momyre_spark.operators.similarity import (
        ivf_topk,
        train_kmeans_centroids,
    )

    rng = random.Random(17)
    dim, per = 16, 40
    # 6 well-separated cluster centers; the first `per` ids ALL belong to
    # cluster 0, so first-C centroids are 8 near-identical cluster-0 vectors
    centers = []
    for c in range(6):
        v = [rng.gauss(0, 1) for _ in range(dim)]
        n = sum(x * x for x in v) ** 0.5
        centers.append([8.0 * x / n for x in v])
    rows = []
    for c in range(6):
        for j in range(per):
            vec = [centers[c][d] + rng.gauss(0, 1.0) for d in range(dim)]
            rows.append(Row(vec_id=c * per + j, embedding=[float(x) for x in vec]))
    emb = spark.createDataFrame(rows)
    # one query per cluster
    queries = emb.filter(F.col("vec_id") % per == 3)

    exact = brute_force_topk(emb, queries, k=10).collect()
    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])

    def recall(result):
        sets = {}
        for r in result:
            sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        vals = [len(exact_sets[q] & sets.get(q, set())) / len(exact_sets[q])
                for q in exact_sets]
        return sum(vals) / len(vals)

    r_first = recall(ivf_topk(emb, queries, k=10, num_cells=6,
                              centroids="first_c").collect())
    cents = train_kmeans_centroids(emb, num_cells=6)
    r_kmeans = recall(ivf_topk(emb, queries, k=10, num_cells=6,
                               centroids=cents).collect())
    # first-C centroids all sit in cluster 0: queries from other clusters
    # land in a near-arbitrary cell -> recall collapses; k-means covers all 6
    assert r_kmeans >= 0.95, r_kmeans
    assert r_first <= 0.85, r_first
    assert r_kmeans > r_first


def test_ivf_multiprobe_recovers_boundary_recall(spark):
    """Over-partitioned index (more cells than natural clusters): a query's
    true neighbors straddle adjacent cells, so nprobe=1 misses the ones in
    the sibling cell; probing more cells recovers them. Monotone recall in
    nprobe, reaching ~exact once the probed cells cover the cluster."""
    import random

    from momyre_spark.operators.similarity import (
        ivf_topk,
        train_kmeans_centroids,
    )

    rng = random.Random(29)
    dim, per = 16, 60
    centers = []
    for c in range(4):
        v = [rng.gauss(0, 1) for _ in range(dim)]
        n = sum(x * x for x in v) ** 0.5
        centers.append([8.0 * x / n for x in v])
    rows = []
    for c in range(4):
        for j in range(per):
            vec = [centers[c][d] + rng.gauss(0, 1.0) for d in range(dim)]
            rows.append(Row(vec_id=c * per + j, embedding=[float(x) for x in vec]))
    emb = spark.createDataFrame(rows)
    queries = emb.filter(F.col("vec_id") % per == 7)

    exact_sets = {}
    for r in brute_force_topk(emb, queries, k=10).collect():
        exact_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])

    def recall(result):
        sets = {}
        for r in result:
            sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        vals = [len(exact_sets[q] & sets.get(q, set())) / len(exact_sets[q])
                for q in exact_sets]
        return sum(vals) / len(vals)

    # 12 cells over 4 clusters -> every cluster is split ~3 ways.
    # How unevenly kmeans splits them is a LOCAL OPTIMUM that varies by
    # host (MLlib's seed fixes the init, but the float arithmetic depends
    # on which netlib BLAS loads) — so assert only what multiprobe
    # guarantees: recall is monotone in nprobe, single-probe on an
    # over-partitioned index actually misses boundary neighbors, and
    # probing every cell IS the exhaustive search (recall 1.0).
    cents = train_kmeans_centroids(emb, num_cells=12)
    r1 = recall(ivf_topk(emb, queries, k=10, num_cells=12,
                         centroids=cents, nprobe=1).collect())
    r3 = recall(ivf_topk(emb, queries, k=10, num_cells=12,
                         centroids=cents, nprobe=3).collect())
    r12 = recall(ivf_topk(emb, queries, k=10, num_cells=12,
                          centroids=cents, nprobe=12).collect())
    assert r1 <= r3 <= r12, (r1, r3, r12)
    assert r12 == 1.0, r12  # all cells probed == brute force
    assert r1 < 0.9, r1  # the over-partitioned single-probe must actually miss


# ------------------------------------------------ product quantization ---
def test_pq_encode_compresses_and_search_recalls(spark):
    """PQ pipeline: codes are m small ints (64x smaller than the vector);
    ADC top-10 must recall most of the exact euclidean top-10. Also pins
    determinism: training twice gives identical codebooks."""
    import numpy as np

    from momyre_spark.operators.pq import (
        pq_encode, pq_topk, train_pq_codebooks,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    books = train_pq_codebooks(emb, m=8, codes=256, sample=2000)
    again = train_pq_codebooks(emb, m=8, codes=256, sample=2000)
    assert np.array_equal(books, again)
    assert books.shape == (8, 256, 8)

    enc = pq_encode(emb, books)
    row = enc.first()
    assert len(row["pq_code"]) == 8
    assert all(0 <= c < 256 for c in row["pq_code"])

    queries = emb.orderBy("vec_id").limit(5)
    got = pq_topk(enc, queries, books, k=10, refine=4, corpus=emb)
    approx = {
        qid: {r["neighbor_id"] for r in rows}
        for qid, rows in __import__("itertools").groupby(
            sorted(got.collect(), key=lambda r: r["query_id"]),
            key=lambda r: r["query_id"],
        )
    }

    # exact euclidean top-10 per query, driver-side
    all_rows = emb.collect()
    ids = np.array([r["vec_id"] for r in all_rows])
    mat = np.array([r["embedding"] for r in all_rows], dtype=np.float64)
    recalls = []
    for q in queries.collect():
        qv = np.array(q["embedding"], dtype=np.float64)
        d2 = ((mat - qv) ** 2).sum(axis=1)
        mask = ids != q["vec_id"]
        top = ids[mask][np.argsort(d2[mask], kind="stable")[:10]]
        recalls.append(len(set(top) & approx[q["vec_id"]]) / 10)
    # byte codes + 4x shortlist re-rank: high recall at 32x compression
    assert sum(recalls) / len(recalls) >= 0.8, recalls


def test_cell_assignment_is_map_only(spark):
    """Nearest-cell assignment must never shuffle the corpus: the old
    crossJoin + Window formulation moved N*C rows through an exchange."""
    from momyre_spark.operators.similarity import assign_ivf_cells

    emb = _embs(spark)
    plan = (
        assign_ivf_cells(emb, num_cells=8)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan
    assert "Window" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_nearest_cells_numpy_path_matches_expression_path(spark):
    """Above _EXPR_CELL_LIMIT the Arrow/numpy matmul strategy kicks in; it
    must pick the same cells as the codegen-fold strategy."""
    import momyre_spark.operators.similarity as sim

    emb = _embs(spark)
    a = {
        r["vec_id"]: r["cell"]
        for r in sim.assign_ivf_cells(emb, num_cells=8).collect()
    }
    old = sim._EXPR_CELL_LIMIT
    sim._EXPR_CELL_LIMIT = 0  # force the numpy strategy
    try:
        b = {
            r["vec_id"]: r["cell"]
            for r in sim.assign_ivf_cells(emb, num_cells=8).collect()
        }
    finally:
        sim._EXPR_CELL_LIMIT = old
    assert a == b


def test_hard_negatives_excludes_same_label(spark):
    """Every mined negative must carry a label different from its query's,
    and the nearest different-label item must rank first."""
    import numpy as np
    from pyspark.sql import Row

    from momyre_spark.operators.similarity import hard_negatives

    rng = np.random.default_rng(11)
    rows = []
    base = rng.normal(size=8)
    for i in range(40):
        # two label clusters around +base / -base with noise
        lab = i % 2
        v = (base if lab == 0 else -base) + rng.normal(scale=0.3, size=8)
        rows.append(Row(vec_id=i, embedding=[float(x) for x in v], label=lab))
    # a planted near-miss: almost identical to query 0 but labeled 1
    q0 = np.array(rows[0].embedding)
    rows.append(Row(vec_id=100,
                    embedding=[float(x) for x in q0 + 0.01], label=1))
    emb = spark.createDataFrame(rows)
    queries = emb.filter("vec_id = 0")
    got = hard_negatives(emb, queries, k=5).collect()
    labels = {r["vec_id"]: r["label"] for r in emb.collect()}
    assert all(labels[r["neighbor_id"]] != labels[0] for r in got)
    assert got[0]["neighbor_id"] == 100  # the near-miss ranks first


def test_ivf_numpy_path_clamps_nprobe_to_cell_count(spark):
    """nprobe above the centroid count must degrade to 'probe all cells'
    on the numpy path (>64 cells) exactly like the expression path does."""
    import numpy as np
    from pyspark.sql import Row

    from momyre_spark.operators.similarity import ivf_topk

    rng = np.random.default_rng(3)
    emb = spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(x) for x in rng.normal(size=8)])
         for i in range(100)]
    )
    queries = emb.filter("vec_id < 2")
    got = ivf_topk(emb, queries, k=5, num_cells=70, nprobe=100,
                   centroids="first_c")
    rows = got.collect()
    assert len(rows) == 10  # 2 queries x top-5, no length-mismatch crash


def test_label_margin_guard_samples_above_threshold(spark):
    """label_margin_report is O(N^2) exact below max_exact_rows; above it the
    per-label deterministic sample must kick in (pair counts bounded by the
    sample size, not the corpus) and stay deterministic across calls."""
    from momyre_spark.operators.similarity import label_margin_report

    random.seed(7)
    rows = [
        Row(vec_id=i, label=("a" if i % 2 == 0 else "b"),
            embedding=[random.random() for _ in range(4)])
        for i in range(300)
    ]
    df = spark.createDataFrame(rows)

    # under the guard: exact — n_intra per label is C(150,2)
    exact = {r["label"]: r for r in
             label_margin_report(df, max_exact_rows=1000).collect()}
    assert exact["a"]["n_intra"] == 150 * 149 // 2

    # over the guard: per-label sample of 20 -> n_intra is C(20,2),
    # whatever the corpus size
    sampled = {r["label"]: r for r in
               label_margin_report(
                   df, max_exact_rows=100, sample_per_label=20
               ).collect()}
    assert sampled["a"]["n_intra"] == 20 * 19 // 2
    assert sampled["a"]["n_inter"] == 20 * 20  # cross-label pairs of samples
    # deterministic: same sample, same margins, every run
    again = {r["label"]: r for r in
             label_margin_report(
                 df, max_exact_rows=100, sample_per_label=20
             ).collect()}
    assert sampled == again
    # the sampled margin is an estimate of the exact one (same sign/ballpark
    # on a label-structured corpus; here labels are random so both are ~0)
    assert abs(sampled["a"]["margin"] - exact["a"]["margin"]) < 0.2


def test_ivf_index_build_search_and_partition_pruning(spark, tmp_path):
    """build_ivf_index + ivf_topk_indexed: (a) results EQUAL the in-memory
    ivf_topk with the same centroids, (b) the probe-cell filter reaches the
    scan as a PARTITION filter (the index opens only probed cells — the
    at-scale point of persisting it)."""
    from momyre_spark.operators.similarity import (
        build_ivf_index,
        ivf_topk,
        ivf_topk_indexed,
    )

    random.seed(11)
    rows = [
        Row(vec_id=i, embedding=[random.gauss(0, 1) for _ in range(8)])
        for i in range(400)
    ]
    emb = spark.createDataFrame(rows)
    queries = emb.filter(F.col("vec_id") < 5)
    root = str(tmp_path / "ivf")

    n_cells = build_ivf_index(
        emb, root, num_cells=8, centroids="first_c"
    )
    assert n_cells == 8

    got = ivf_topk_indexed(spark, root, queries, k=5)
    want = ivf_topk(emb, queries, k=5, num_cells=8, centroids="first_c")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))

    # partition pruning: the corpus scan carries the probe cells as
    # PartitionFilters, not a post-scan Filter
    plan = got._jdf.queryExecution().executedPlan().toString()
    seg = plan.split("PartitionFilters", 1)
    assert len(seg) == 2 and "cell" in seg[1][:160], plan

    # and with nprobe=1 + few queries, the pruned scan reads a strict
    # subset of the cell directories
    import os

    all_cells = {
        d for d in os.listdir(f"{root}/vectors") if d.startswith("cell=")
    }
    probed = got  # force execution happened above via collect
    del probed
    assert len(all_cells) == 8


def test_ivf_indexed_nprobe_expands_recall(spark, tmp_path):
    """Raising nprobe searches more cells: results converge toward the
    exact top-k (same multi-probe contract as ivf_topk)."""
    from momyre_spark.operators.similarity import (
        brute_force_topk,
        build_ivf_index,
        ivf_topk_indexed,
    )

    random.seed(3)
    rows = [
        Row(vec_id=i, embedding=[random.gauss(0, 1) for _ in range(8)])
        for i in range(300)
    ]
    emb = spark.createDataFrame(rows)
    queries = emb.filter(F.col("vec_id") < 8)
    root = str(tmp_path / "ivf")
    build_ivf_index(emb, root, num_cells=8, centroids="first_c")

    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(emb, queries, k=5).collect()
    }

    def recall(nprobe):
        got = {
            (r["query_id"], r["neighbor_id"])
            for r in ivf_topk_indexed(
                spark, root, queries, k=5, nprobe=nprobe
            ).collect()
        }
        return len(got & exact) / len(exact)

    r1, r4, r8 = recall(1), recall(4), recall(8)
    assert r1 <= r4 <= r8
    assert r8 == 1.0  # probing every cell IS exact


def test_ivf_index_add_search_matches_rebuild(spark, tmp_path):
    """Incremental adds (VERDICT r04 item #4): vectors appended after the
    build participate in search exactly as a fresh rebuild's would — and
    the add path never rewrites the base (O(batch) per epoch, not
    O(corpus))."""
    import os

    from momyre_spark.operators.similarity import (
        brute_force_topk,
        build_ivf_index,
        ivf_index_add,
        ivf_index_report,
        ivf_topk_indexed,
    )

    random.seed(7)

    def mk(lo, hi):
        return [
            Row(vec_id=i, embedding=[random.gauss(0, 1) for _ in range(8)])
            for i in range(lo, hi)
        ]

    base_rows = mk(0, 300)
    emb = spark.createDataFrame(base_rows)
    root = str(tmp_path / "ivf")
    build_ivf_index(emb, root, num_cells=8, centroids="first_c")
    base_files = sorted(
        os.path.join(d, f)
        for d, _, fs_ in os.walk(f"{root}/vectors")
        for f in fs_
    )

    # three add epochs, O(batch) each
    adds = [mk(300, 330), mk(330, 360), mk(360, 390)]
    for i, batch in enumerate(adds):
        e = ivf_index_add(spark, root, spark.createDataFrame(batch))
        assert e == i
    # the base was not rewritten by any add
    assert base_files == sorted(
        os.path.join(d, f)
        for d, _, fs_ in os.walk(f"{root}/vectors")
        for f in fs_
    )

    all_rows = base_rows + [r for b in adds for r in b]
    full = spark.createDataFrame(all_rows)
    queries = full.filter(F.col("vec_id").isin(2, 150, 310, 385))
    exact = sorted(
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(full, queries, k=5).collect()
    )
    # probing every cell IS exact — over base AND adds
    got = sorted(
        (r["query_id"], r["neighbor_id"])
        for r in ivf_topk_indexed(
            spark, root, queries, k=5, nprobe=8
        ).collect()
    )
    assert got == exact

    rep = ivf_index_report(spark, root)
    assert rep["rows"] == 390 and rep["add_epochs"] == 3
    assert rep["cells"] == 8

    # replaying an epoch (same epoch number) is idempotent, not additive
    ivf_index_add(spark, root, spark.createDataFrame(adds[1]), epoch=1)
    assert ivf_index_report(spark, root)["rows"] == 390


@pytest.mark.slow
def test_ivf_index_compact_folds_adds_and_survives_crash(spark, tmp_path):
    """ivf_index_compact folds the add-tail into the base (search results
    unchanged, adds gone); the delete->rename crash window self-heals on
    the next read; recluster=True rebalances skewed cells."""
    import os
    import shutil

    from momyre_spark.operators.similarity import (
        build_ivf_index,
        ivf_index_add,
        ivf_index_compact,
        ivf_index_report,
        ivf_topk_indexed,
    )

    random.seed(19)
    rows = [
        Row(vec_id=i, embedding=[random.gauss(0, 1) for _ in range(8)])
        for i in range(200)
    ]
    emb = spark.createDataFrame(rows)
    root = str(tmp_path / "ivf")
    build_ivf_index(emb, root, num_cells=4, centroids="first_c")
    extra = [
        Row(vec_id=i, embedding=[random.gauss(0, 1) for _ in range(8)])
        for i in range(200, 260)
    ]
    ivf_index_add(spark, root, spark.createDataFrame(extra))
    queries = emb.filter(F.col("vec_id") < 4)
    before = sorted(
        map(tuple, ivf_topk_indexed(spark, root, queries, k=5,
                                    nprobe=4).collect())
    )

    n = ivf_index_compact(spark, root)
    assert n == 4
    assert not os.path.exists(f"{root}/adds")
    assert os.path.exists(f"{root}/vectors/_SUCCESS")
    after = sorted(
        map(tuple, ivf_topk_indexed(spark, root, queries, k=5,
                                    nprobe=4).collect())
    )
    assert after == before
    assert ivf_index_report(spark, root)["rows"] == 260

    # crash window: vectors deleted, committed vectors_new not yet renamed
    shutil.move(f"{root}/vectors", f"{root}/vectors_new")
    healed = sorted(
        map(tuple, ivf_topk_indexed(spark, root, queries, k=5,
                                    nprobe=4).collect())
    )
    assert healed == before
    assert os.path.exists(f"{root}/vectors")

    # recluster path: still searchable, still complete
    ivf_index_add(
        spark,
        root,
        spark.createDataFrame(
            [Row(vec_id=999, embedding=[float(j == 0) for j in range(8)])]
        ),
    )
    ivf_index_compact(spark, root, recluster=True)
    assert ivf_index_report(spark, root)["rows"] == 261
    from momyre_spark.operators.similarity import brute_force_topk

    full261 = spark.createDataFrame(
        rows + extra
        + [Row(vec_id=999, embedding=[float(j == 0) for j in range(8)])]
    )
    exact261 = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(full261, queries, k=5).collect()
    }
    rc = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf_topk_indexed(spark, root, queries, k=5,
                                  nprobe=4).collect()
    }
    assert rc == exact261  # probing every cell is exact post-recluster


def test_ivf_recluster_crash_windows_self_heal(spark, tmp_path):
    """The recluster swap is only authoritative once __rebuild/_COMMIT
    exists: an uncommitted rebuild is discarded (primaries intact), and a
    committed one has its partial swap finished on the next read —
    including the centroids sub and the add-tail drop (code-review r05:
    the old delete->rename windows bricked the index)."""
    import os
    import shutil

    from momyre_spark.operators.similarity import (
        build_ivf_index,
        ivf_index_add,
        ivf_index_report,
        ivf_topk_indexed,
    )

    random.seed(29)
    rows = [
        Row(vec_id=i, embedding=[random.gauss(0, 1) for _ in range(8)])
        for i in range(120)
    ]
    emb = spark.createDataFrame(rows)
    root = str(tmp_path / "ivf")
    build_ivf_index(emb, root, num_cells=4, centroids="first_c")
    ivf_index_add(spark, root, spark.createDataFrame(
        [Row(vec_id=200 + i, embedding=[random.gauss(0, 1) for _ in range(8)])
         for i in range(20)]
    ))
    queries = emb.filter(F.col("vec_id") < 3)
    want = sorted(map(tuple, ivf_topk_indexed(
        spark, root, queries, k=4, nprobe=4).collect()))

    # (a) UNCOMMITTED rebuild left by a crash mid-build: discarded, index
    # unchanged
    os.makedirs(f"{root}/__rebuild/vectors", exist_ok=True)
    got = sorted(map(tuple, ivf_topk_indexed(
        spark, root, queries, k=4, nprobe=4).collect()))
    assert got == want and not os.path.exists(f"{root}/__rebuild")

    # (b) COMMITTED rebuild, crash mid-swap: stage a fake rebuild that is
    # a copy of the current index, mark _COMMIT, delete one primary — the
    # next read must finish the swap, drop the add-tail, and search fine
    shutil.copytree(f"{root}/vectors", f"{root}/__rebuild/vectors")
    shutil.copytree(f"{root}/centroids", f"{root}/__rebuild/centroids")
    open(f"{root}/__rebuild/_COMMIT", "w").close()
    shutil.rmtree(f"{root}/vectors")
    healed = sorted(map(tuple, ivf_topk_indexed(
        spark, root, queries, k=4, nprobe=4).collect()))
    assert not os.path.exists(f"{root}/__rebuild")
    assert not os.path.exists(f"{root}/adds")  # tail folded by the commit
    assert os.path.exists(f"{root}/vectors")
    # the staged rebuild held base-only vectors (120 rows): report agrees
    # and no dropped add-tail row (vec_id >= 200) can surface as a neighbor
    assert ivf_index_report(spark, root)["rows"] == 120
    assert all(n < 200 for _, n, *_ in healed)


def test_ivf_compact_dedupes_partial_tail_crash(spark, tmp_path):
    """A crash AFTER the base swap but BEFORE the add-tail delete leaves
    added rows duplicated in base+tail; the next compact must fold to one
    copy per id, not bake the duplicates in (code-review r05)."""
    import os

    from momyre_spark.operators.similarity import (
        build_ivf_index,
        ivf_index_add,
        ivf_index_compact,
        ivf_index_report,
    )

    random.seed(31)
    rows = [
        Row(vec_id=i, embedding=[random.gauss(0, 1) for _ in range(8)])
        for i in range(80)
    ]
    emb = spark.createDataFrame(rows)
    root = str(tmp_path / "ivf")
    build_ivf_index(emb, root, num_cells=4, centroids="first_c")
    extra = [Row(vec_id=100 + i,
                 embedding=[random.gauss(0, 1) for _ in range(8)])
             for i in range(10)]
    ivf_index_add(spark, root, spark.createDataFrame(extra))
    ivf_index_compact(spark, root)  # base now includes the adds
    # simulate the crash window: re-create the already-folded add epoch
    ivf_index_add(spark, root, spark.createDataFrame(extra), epoch=0)
    assert ivf_index_report(spark, root)["rows"] == 100  # transient dups
    ivf_index_compact(spark, root)
    assert ivf_index_report(spark, root)["rows"] == 90  # deduped, not baked
    assert not os.path.exists(f"{root}/adds")


def test_semantic_decontaminate_drops_near_eval_rows(spark):
    """A corpus row embedding-near an eval row is dropped even with a
    different id; unrelated rows survive; eval side broadcast (plan)."""
    from momyre_spark.operators.similarity import semantic_decontaminate

    random.seed(5)
    ev = [random.gauss(0, 1) for _ in range(8)]
    rows_eval = [Row(vec_id=1, embedding=ev)]
    rows_corpus = [
        Row(vec_id=100, embedding=[x + random.gauss(0, 0.01) for x in ev]),
        Row(vec_id=101, embedding=[random.gauss(0, 1) for _ in range(8)]),
        Row(vec_id=102, embedding=[random.gauss(0, 1) for _ in range(8)]),
    ]
    corpus = spark.createDataFrame(rows_corpus)
    out = semantic_decontaminate(
        corpus, spark.createDataFrame(rows_eval), threshold=0.95
    )
    assert sorted(r["vec_id"] for r in out.collect()) == [101, 102]
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_ann_recall_report_self_is_one_and_misses_penalized(spark):
    from momyre_spark.operators.similarity import ann_recall_report

    emb = _embs(spark)
    queries = emb.filter("vec_id < 4")
    exact = brute_force_topk(emb, queries, k=5)
    # identical lists -> recall 1.0 for every query
    perfect = {r["query_id"]: r for r in
               ann_recall_report(exact, exact, k=5).collect()}
    assert set(perfect) == {0, 1, 2, 3}
    assert all(r["recall"] == 1.0 and r["n_hit"] == r["n_exact"] == 5
               for r in perfect.values())

    # drop query 0's rank-1 neighbor from the approx list: recall 4/5 for
    # query 0 only — a SHORT approx list is penalized, not excused
    approx = exact.filter("NOT (query_id = 0 AND rank = 1)")
    rep = {r["query_id"]: r for r in
           ann_recall_report(exact, approx, k=5).collect()}
    assert rep[0]["n_hit"] == 4 and rep[0]["recall"] == 0.8
    assert all(rep[q]["recall"] == 1.0 for q in (1, 2, 3))


def test_ann_recall_report_ivf_vs_exact_bounds(spark):
    from momyre_spark.operators.similarity import ann_recall_report

    emb = _embs(spark)
    queries = emb.filter("vec_id < 6")
    exact = brute_force_topk(emb, queries, k=5)
    approx = ivf_topk(emb, queries, k=5, num_cells=4)
    rows = ann_recall_report(exact, approx, k=5).collect()
    assert len(rows) == 6
    for r in rows:
        assert r["n_exact"] == 5
        assert 0 <= r["n_hit"] <= r["n_exact"]
        assert 0.0 <= r["recall"] <= 1.0
    # multi-probe dominates single-probe recall query-by-query
    probe2 = ivf_topk(emb, queries, k=5, num_cells=4, nprobe=2)
    r1 = {r["query_id"]: r["recall"] for r in rows}
    r2 = {r["query_id"]: r["recall"] for r in
          ann_recall_report(exact, probe2, k=5).collect()}
    assert all(r2[q] >= r1[q] for q in r1)


def test_ivf_writes_bounded_file_count(spark, tmp_path):
    """The cell-keyed pre-write cluster bounds index files to
    ~files_per_cell per cell regardless of input parallelism — writing
    straight from a 32-partition scan would emit up to 32 files per cell."""
    import glob

    from momyre_spark.operators.similarity import build_ivf_index, ivf_index_add

    emb = _embs(spark, n=200).repartition(32)
    root = str(tmp_path / "idx")
    build_ivf_index(emb, root, num_cells=4, centroids="first_c")
    for cell_dir in glob.glob(f"{root}/vectors/cell=*"):
        files = glob.glob(f"{cell_dir}/*.parquet")
        assert len(files) <= 1, cell_dir
    ivf_index_add(spark, root, _embs(spark, n=50, seed=9).repartition(16))
    for cell_dir in glob.glob(f"{root}/adds/epoch=0/cell=*"):
        files = glob.glob(f"{cell_dir}/*.parquet")
        assert len(files) <= 1, cell_dir


def _maxsim_ref(doc_toks, q_toks):
    """Pure-python maxsim: doc_toks/q_toks = {id: [vec, ...]}."""
    scores = {}
    for qid, qvs in q_toks.items():
        for did, dvs in doc_toks.items():
            s = 0.0
            for qv in qvs:
                s += round(max(_cos(qv, dv) for dv in dvs), 6)
            scores[(qid, did)] = round(s, 4)
    return scores


def test_maxsim_matches_reference_and_self_is_max(spark):
    from momyre_spark.operators.similarity import maxsim_topk, token_slices

    emb = _embs(spark, n=20, dim=16)
    toks = token_slices(emb, n_tokens=4)  # 4 tokens x 4 dims
    q = toks.filter("vec_id < 3")
    out = maxsim_topk(
        toks, q, k=20, doc_id_col="vec_id", query_id_col="vec_id"
    ).collect()
    rows = emb.collect()
    vecs = {r["vec_id"]: r["embedding"] for r in rows}
    split = {
        i: [v[t * 4:(t + 1) * 4] for t in range(4)] for i, v in vecs.items()
    }
    ref = _maxsim_ref(split, {i: split[i] for i in range(3)})
    got = {(r["query_id"], r["doc_id"]): r["score"] for r in out}
    for key, score in got.items():
        assert abs(ref[key] - score) < 1e-9, key
    # a query against itself aligns every token perfectly: score = n_tokens,
    # and nothing can beat it -> rank 1
    top = {r["query_id"]: r for r in out if r["rank"] == 1}
    for qid in range(3):
        assert top[qid]["doc_id"] == qid and top[qid]["score"] == 4.0


def test_maxsim_candidates_restrict_and_match_full(spark):
    from momyre_spark.operators.similarity import maxsim_topk, token_slices

    emb = _embs(spark, n=30, dim=16)
    toks = token_slices(emb, n_tokens=4)
    q = toks.filter("vec_id < 2")
    full = maxsim_topk(
        toks, q, k=5, doc_id_col="vec_id", query_id_col="vec_id",
        exclude_self=True,
    )
    # the full candidate set reproduces the unrestricted result exactly
    all_cand = (
        emb.select(F.col("vec_id").alias("doc_id"))
        .crossJoin(spark.range(2).select(F.col("id").alias("query_id")))
        .filter("doc_id <> query_id")
    )
    bounded = maxsim_topk(
        toks, q, k=5, doc_id_col="vec_id", query_id_col="vec_id",
        candidates=all_cand,
    )
    assert sorted(map(tuple, full.collect())) == sorted(
        map(tuple, bounded.collect())
    )
    # a restricted candidate list only ever scores the listed pairs, and
    # (unlike the crossJoin-built full list above, which is test scaffolding)
    # an equi-join-produced candidate frame keeps the whole plan equi-join
    only = spark.createDataFrame(
        [(q_, d) for q_ in (0, 1) for d in (5, 6, 7)],
        "query_id long, doc_id long",
    )
    few_df = maxsim_topk(
        toks, q, k=5, doc_id_col="vec_id", query_id_col="vec_id",
        candidates=only,
    )
    few = few_df.collect()
    assert {r["doc_id"] for r in few} == {5, 6, 7}
    plan = few_df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_maxsim_query_token_cap_guard(spark):
    import pytest

    import momyre_spark.operators.similarity as sim

    emb = _embs(spark, n=10, dim=16)
    toks = sim.token_slices(emb, n_tokens=4)
    # 40 tokens x 3000 = 120k query tokens busts the 100k broadcast cap;
    # the guard is a limit-probe (take, not count) so it stays cheap
    big = toks.crossJoin(
        spark.range(3000).select(F.lit(1).alias("__x"))
    ).drop("__x")
    with pytest.raises(ValueError, match="query token set exceeds"):
        sim.maxsim_topk(toks, big, doc_id_col="vec_id", query_id_col="vec_id")


def test_ivfpq_full_probe_refine_equals_exact(spark, tmp_path):
    from momyre_spark.operators.pq import build_ivfpq_index, ivfpq_topk_indexed

    emb = _embs(spark, n=120, dim=16)
    root = str(tmp_path / "ivfpq")
    n_cells = build_ivfpq_index(
        emb, root, num_cells=4, m=4, codes=8, centroids="first_c"
    )
    assert n_cells == 4
    q = emb.filter("vec_id < 5")
    # probing every cell with a corpus-wide refine shortlist removes both
    # approximations -> the result IS the exact brute-force list
    full = ivfpq_topk_indexed(spark, root, q, k=8, nprobe=4, refine=100)
    exact = brute_force_topk(emb, q, k=8)
    assert sorted(map(tuple, full.collect())) == sorted(
        map(tuple, exact.collect())
    )


@pytest.mark.slow
def test_ivfpq_recall_monotone_and_partition_pruned(spark, tmp_path):
    from momyre_spark.operators.pq import build_ivfpq_index, ivfpq_topk_indexed
    from momyre_spark.operators.similarity import ann_recall_report

    emb = _embs(spark, n=200, dim=16)
    root = str(tmp_path / "ivfpq")
    build_ivfpq_index(emb, root, num_cells=8, m=4, codes=8, centroids="first_c")
    q = emb.filter("vec_id < 6")
    exact = brute_force_topk(emb, q, k=5)

    def mean_recall(df):
        rows = ann_recall_report(exact, df, k=5).collect()
        return sum(r["recall"] for r in rows) / len(rows)

    # monotone in nprobe ONLY when the refine shortlist covers the probed
    # candidates (exact re-rank dominates): at a FIXED small shortlist,
    # widening the probe adds ADC-ranked competitors that can crowd true
    # neighbors out — the classic IVFPQ trade, so refine scales with nprobe
    r1 = mean_recall(ivfpq_topk_indexed(spark, root, q, k=5, nprobe=1, refine=100))
    r4 = mean_recall(ivfpq_topk_indexed(spark, root, q, k=5, nprobe=4, refine=100))
    r8 = mean_recall(ivfpq_topk_indexed(spark, root, q, k=5, nprobe=8, refine=100))
    assert r1 <= r4 + 1e-9 <= r8 + 2e-9
    assert r8 >= 0.95  # all cells + covering refine recovers everything

    # the scan is partition-pruned to the probe cells
    df = ivfpq_topk_indexed(spark, root, q, k=5, nprobe=1, refine=2)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan
    assert "BatchEvalPython" not in plan  # ADC is pure expressions


def test_ivfpq_per_query_cell_restriction(spark, tmp_path):
    """Candidates attach by equi-join on the query's OWN probe cells — a
    query never scores rows from another query's cells."""
    from momyre_spark.operators.pq import build_ivfpq_index, ivfpq_topk_indexed
    from momyre_spark.operators.similarity import assign_ivf_cells

    emb = _embs(spark, n=150, dim=16)
    root = str(tmp_path / "ivfpq")
    build_ivfpq_index(emb, root, num_cells=6, m=4, codes=8, centroids="first_c")
    q = emb.filter("vec_id < 4")
    out = ivfpq_topk_indexed(spark, root, q, k=50, nprobe=1, refine=1)
    cells = {
        r["vec_id"]: r["cell"]
        for r in assign_ivf_cells(emb, num_cells=6, centroids="first_c").collect()
    }
    for r in out.collect():
        assert cells[r["neighbor_id"]] == cells[r["query_id"]], r


@pytest.mark.slow
def test_ivfpq_add_tail_searched_and_compact_invariant(spark, tmp_path):
    from momyre_spark.operators.pq import (
        build_ivfpq_index,
        ivfpq_index_add,
        ivfpq_topk_indexed,
    )
    from momyre_spark.operators.similarity import ivf_index_compact

    base = _embs(spark, n=100, dim=16)
    tail = _embs(spark, n=140, dim=16).filter("vec_id >= 100")
    both = base.unionByName(tail)
    root = str(tmp_path / "ivfpq")
    build_ivfpq_index(base, root, num_cells=4, m=4, codes=8, centroids="first_c")
    q = base.filter("vec_id < 4")

    # full probe + covering refine is exact over whatever is indexed, so
    # base+adds must equal the brute-force list over the UNION corpus
    ivfpq_index_add(spark, root, tail)
    got = ivfpq_topk_indexed(spark, root, q, k=6, nprobe=4, refine=100)
    exact = brute_force_topk(both, q, k=6)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, exact.collect()))

    # replaying the same epoch overwrites, never doubles
    ivfpq_index_add(spark, root, tail, epoch=0)
    again = ivfpq_topk_indexed(spark, root, q, k=6, nprobe=4, refine=100)
    assert sorted(map(tuple, again.collect())) == sorted(map(tuple, exact.collect()))

    # folding the tail (generic compact, recluster=False) keeps pq_code
    # and leaves search results identical
    ivf_index_compact(spark, root)
    folded = spark.read.parquet(f"{root}/vectors")
    assert "pq_code" in folded.columns
    import glob
    assert not glob.glob(f"{root}/adds/epoch=*")
    after = ivfpq_topk_indexed(spark, root, q, k=6, nprobe=4, refine=100)
    assert sorted(map(tuple, after.collect())) == sorted(map(tuple, exact.collect()))


@pytest.mark.slow
def test_ivf_empty_add_epoch_does_not_brick_search(spark, tmp_path):
    """An ingest epoch whose batch dedupes away entirely writes an adds
    epoch with zero data files; reads must see zero rows, not an
    UNABLE_TO_INFER_SCHEMA crash on every later search."""
    from momyre_spark.operators.similarity import (
        build_ivf_index,
        ivf_index_add,
        ivf_index_compact,
        ivf_topk_indexed,
    )

    emb = _embs(spark, n=80, dim=16)
    root = str(tmp_path / "ivf")
    build_ivf_index(emb, root, num_cells=4, centroids="first_c")
    ivf_index_add(spark, root, emb.filter("vec_id < 0"))  # empty batch
    q = emb.filter("vec_id < 3")
    got = ivf_topk_indexed(spark, root, q, k=5, nprobe=4)
    exact = brute_force_topk(emb, q, k=5)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, exact.collect()))
    # compaction over the empty tail also survives and stays invariant
    ivf_index_compact(spark, root)
    after = ivf_topk_indexed(spark, root, q, k=5, nprobe=4)
    assert sorted(map(tuple, after.collect())) == sorted(map(tuple, exact.collect()))


@pytest.mark.slow
def test_maxsim_token_cell_candidates_cover_and_converge(spark):
    """Token-cell candidate generation: with ONE cell every doc is a
    candidate, so the pruned result equals the unrestricted maxsim; with
    many cells, every returned pair provably shares a token cell."""
    from momyre_spark.operators.similarity import (
        assign_ivf_cells,
        maxsim_topk,
        token_slices,
    )

    emb = _embs(spark, n=40, dim=16)
    toks = token_slices(emb, n_tokens=4)
    q = toks.filter("vec_id < 3")

    def cand_from_cells(n_cells):
        tok_ids = toks.select(
            (F.col("vec_id") * 4 + F.col("token_pos")).alias("token_id"),
            "vec_id", "vec",
        )
        cells = assign_ivf_cells(
            tok_ids, num_cells=n_cells, id_col="token_id", vec_col="vec",
            centroids="first_c",
        ).select((F.col("token_id") / 4).cast("bigint").alias("vec_id"), "cell")
        qc = cells.filter("vec_id < 3").select(
            F.col("vec_id").alias("query_id"), "cell"
        )
        return (
            cells.select(F.col("vec_id").alias("doc_id"), "cell")
            .join(qc, "cell")
            .filter("doc_id <> query_id")
            .select("query_id", "doc_id")
            .distinct()
        ), cells

    cand1, _ = cand_from_cells(1)
    pruned1 = maxsim_topk(toks, q, k=6, doc_id_col="vec_id",
                          query_id_col="vec_id", candidates=cand1)
    full = maxsim_topk(toks, q, k=6, doc_id_col="vec_id",
                       query_id_col="vec_id", exclude_self=True)
    assert sorted(map(tuple, pruned1.collect())) == sorted(
        map(tuple, full.collect())
    )

    cand8, cells = cand_from_cells(8)
    out = maxsim_topk(toks, q, k=6, doc_id_col="vec_id",
                      query_id_col="vec_id", candidates=cand8).collect()
    cellmap = {}
    for r in cells.collect():
        cellmap.setdefault(r["vec_id"], set()).add(r["cell"])
    for r in out:
        assert cellmap[r["query_id"]] & cellmap[r["doc_id"]], r


@pytest.mark.slow
def test_ivfpq_rebuild_drops_stale_add_tail(spark, tmp_path):
    """A rebuild retrains codebooks and indexes the full corpus — an
    add-tail from the previous index generation must not survive it (its
    rows would duplicate the base with codes from the OLD codebooks)."""
    import glob

    from momyre_spark.operators.pq import (
        build_ivfpq_index,
        ivfpq_index_add,
        ivfpq_topk_indexed,
    )

    emb = _embs(spark, n=120, dim=16)
    root = str(tmp_path / "ivfpq")
    build_ivfpq_index(emb.filter("vec_id < 80"), root, num_cells=4, m=4,
                      codes=8, centroids="first_c")
    ivfpq_index_add(spark, root, emb.filter("vec_id >= 80"))
    assert glob.glob(f"{root}/adds/epoch=*")
    # rebuild over a DIFFERENT corpus slice: the old tail is stale
    build_ivfpq_index(emb.filter("vec_id < 100"), root, num_cells=4, m=4,
                      codes=8, centroids="first_c")
    assert not glob.glob(f"{root}/adds/epoch=*")
    got = ivfpq_topk_indexed(spark, root, emb.filter("vec_id < 3"),
                             k=5, nprobe=4, refine=100)
    exact = brute_force_topk(emb.filter("vec_id < 100"),
                             emb.filter("vec_id < 3"), k=5)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, exact.collect()))


def test_token_slices_rejects_indivisible_dim(spark):
    """ADVICE r05: 'D must divide evenly' is enforced, not just
    documented — a fractional sub-width would int-truncate into
    misaligned slices that silently drop trailing dimensions."""
    import pytest
    from momyre_spark.operators import similarity as sim

    emb = _embs(spark, n=4, dim=10)  # 10 % 4 != 0
    with pytest.raises(Exception, match="not divisible"):
        sim.token_slices(emb, n_tokens=4).collect()
    # divisible dims still slice cleanly and cover every dimension
    ok = sim.token_slices(_embs(spark, n=2, dim=12), n_tokens=4).collect()
    assert len(ok) == 2 * 4
    assert all(len(r["vec"]) == 3 for r in ok)


def test_ann_recall_report_dedups_duplicate_pairs(spark):
    """ADVICE r05: duplicate (query_id, neighbor_id) rows (same vec_id in
    IVF base + add-tail after a re-ingest) must not fan out the join —
    n_exact stays |exact top-k| and recall stays <= 1."""
    from momyre_spark.operators.similarity import ann_recall_report

    emb = _embs(spark)
    queries = emb.filter("vec_id < 3")
    exact = brute_force_topk(emb, queries, k=5)
    doubled = exact.union(exact)  # duplicates on BOTH sides
    rep = {r["query_id"]: r for r in
           ann_recall_report(doubled, doubled, k=5).collect()}
    assert all(r["n_exact"] == 5 and r["n_hit"] == 5 and r["recall"] == 1.0
               for r in rep.values())


@pytest.mark.slow
def test_ivfpq_topk_indexed_string_ids(spark, tmp_path):
    """ADVICE r05: ivfpq_topk_indexed carries the id through with its
    native type (string/UUID ids work like the sibling ivf_topk_indexed),
    instead of hardcoding a 'query_id long' broadcast schema."""
    from momyre_spark.operators.pq import build_ivfpq_index, ivfpq_topk_indexed

    emb = _embs(spark, n=80, dim=16).select(
        F.concat(F.lit("doc-"), F.lpad(F.col("vec_id").cast("string"), 3, "0")
                 ).alias("vec_id"),
        "embedding",
    )
    root = str(tmp_path / "ivfpq_str")
    build_ivfpq_index(emb, root, num_cells=4, m=4, codes=8,
                      centroids="first_c")
    q = emb.filter("vec_id IN ('doc-000', 'doc-001')")
    got = ivfpq_topk_indexed(spark, root, q, k=5, nprobe=4, refine=100)
    exact = brute_force_topk(emb, q, k=5, id_col="vec_id")
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, exact.collect())
    )


def test_ivfpq_null_pq_code_tail_never_floods_shortlist(spark, tmp_path):
    """ADVICE r05: rows added with plain ivf_index_add into a PQ index
    read NULL pq_code; a NULL ADC distance under default NULLS FIRST
    would flood every shortlist. They are excluded from ADC ranking
    (and the shortlist orders nulls last as defense in depth)."""
    from momyre_spark.operators.pq import build_ivfpq_index, ivfpq_topk_indexed
    from momyre_spark.operators.similarity import ivf_index_add

    emb = _embs(spark, n=100, dim=16)
    root = str(tmp_path / "ivfpq_mixed")
    build_ivfpq_index(emb.filter("vec_id < 90"), root, num_cells=4, m=4,
                      codes=8, centroids="first_c")
    # the WRONG ingest kind: un-encoded tail rows
    ivf_index_add(spark, root, emb.filter("vec_id >= 90"))
    q = emb.filter("vec_id < 3")
    got = ivfpq_topk_indexed(spark, root, q, k=5, nprobe=4, refine=100)
    exact = brute_force_topk(emb.filter("vec_id < 90"), q, k=5)
    # encoded base is still ranked exactly; NULL-code tail rows are
    # excluded rather than displacing every true neighbor
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, exact.collect())
    )


def test_mmr_rerank_diversifies(spark):
    import pytest as _pytest

    from momyre_spark.operators.similarity import mmr_rerank

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),     # query
        (1, [0.99, 0.1, 0.0, 0.0]),    # most relevant
        (2, [0.98, 0.12, 0.0, 0.0]),   # near-dup of 1
        (3, [0.6, 0.0, 0.8, 0.0]),     # less relevant, diverse
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = emb.filter("vec_id = 0")
    # pure top-k order is 1, 2, 3; MMR at lam=0.5 demotes the near-dup
    out = mmr_rerank(
        emb, queries, k_candidates=3, k_select=3, lam=0.5
    ).orderBy("step").collect()
    assert [r["vec_id"] for r in out] == [1, 3, 2]
    assert [r["step"] for r in out] == [1, 2, 3]
    assert out[0]["rel"] > 0.99
    # step-1 score = lam * rel (empty selected set penalizes 0)
    assert out[0]["score"] == _pytest.approx(
        0.5 * out[0]["rel"], abs=1e-6
    )
    # fewer candidates than k_select: stops early, no fabricated rows
    short = mmr_rerank(
        emb, queries, k_candidates=3, k_select=3, lam=0.5,
    ).count()
    assert short == 3
    two = mmr_rerank(
        emb.filter("vec_id <= 2"), queries, k_candidates=3, k_select=3,
        lam=0.5,
    ).count()
    assert two == 2
    with _pytest.raises(ValueError):
        mmr_rerank(emb, queries, k_candidates=2, k_select=3)


def test_rank_biased_overlap_known_values(spark):
    """RBO hand-checks: identical rankings score (1-p)*sum(p^(d-1)) (every
    prefix fully overlaps), disjoint rankings score 0, and a displaced
    item contributes exactly from depth max(ra, rb) on."""
    import math

    import pytest as _pytest

    from momyre_spark.operators.similarity import (
        rank_biased_overlap,
        rbo_weight_units,
    )

    k, p = 3, 0.9

    def mk(rows):
        return spark.createDataFrame(
            rows, "query_id long, neighbor_id long, rank long"
        )

    a = mk([(1, 10, 1), (1, 11, 2), (1, 12, 3)])
    # identical
    same = rank_biased_overlap(a, a, k=k, p=p).collect()[0]
    expect_same = (1 - p) * sum(p ** (d - 1) for d in range(1, k + 1))
    units = rbo_weight_units(k, p)
    exact_same = math.floor(
        (1 - p) * sum(units) / 1e12 * 1e6 + 0.5) / 1e6
    assert same["overlap_k"] == 3 and same["rbo"] == exact_same
    assert abs(same["rbo"] - expect_same) < 1e-6
    # disjoint
    b = mk([(1, 20, 1), (1, 21, 2), (1, 22, 3)])
    dis = rank_biased_overlap(a, b, k=k, p=p).collect()[0]
    assert dis["overlap_k"] == 0 and dis["rbo"] == 0.0
    # one common item at ranks (1, 3): contributes c(3) = p^2/3 only
    c = mk([(1, 30, 1), (1, 31, 2), (1, 10, 3)])
    one = rank_biased_overlap(a, c, k=k, p=p).collect()[0]
    exact_one = math.floor((1 - p) * units[2] / 1e12 * 1e6 + 0.5) / 1e6
    assert one["overlap_k"] == 1 and one["rbo"] == exact_one
    assert abs(one["rbo"] - (1 - p) * p ** 2 / 3) < 1e-6

    with _pytest.raises(ValueError):
        rank_biased_overlap(a, b, k=0)
    with _pytest.raises(ValueError):
        rank_biased_overlap(a, b, k=3, p=1.0)


def test_twonn_intrinsic_dim_planted_manifold_and_reference(spark):
    """TwoNN on points scattered over a 2-D plane embedded in 8 dims must
    (a) equal a from-scratch numpy replication exactly and (b) estimate an
    ID near 2, far below the ambient dimension. Also pins the identical-
    point exclusion and the anchors subsample path."""
    import math

    import numpy as np

    from momyre_spark.operators.similarity import twonn_intrinsic_dim

    rng = []
    n = 120
    for i in range(n):
        # deterministic pseudo-random 2-D coordinates, lifted to 8 dims
        u = ((i * 2654435761) % 10_000) / 10_000.0
        v = ((i * 40503 + 7) % 10_000) / 10_000.0
        vec = [u, v, u + v, u - v, 2 * u, 2 * v, u + 2 * v, 2 * u + v]
        rng.append((i, [float(x) for x in vec]))
    # two identical twins: ids n and n+1 copy id 0's vector
    rng.append((n, rng[0][1]))
    rng.append((n + 1, rng[0][1]))
    df = spark.createDataFrame(rng, "vec_id long, embedding array<double>")
    got = twonn_intrinsic_dim(df).collect()[0]

    # numpy reference (same top-2-positive rule, same fixed-point sum)
    X = np.array([v for _, v in rng])
    ids = np.array([i for i, _ in rng])
    s_units, n_used, n_zero = 0, 0, 0
    for a in range(len(X)):
        d2 = ((X - X[a]) ** 2).sum(axis=1)
        order = sorted((d2[b], ids[b]) for b in range(len(X)) if b != a)
        d1, dd2 = order[0][0], order[1][0]
        if d1 <= 0:
            n_zero += 1
            continue
        n_used += 1
        s_units += math.floor(math.log(dd2 / d1) * 1e6 + 0.5)
    expect = math.floor(2.0 * n_used / (s_units / 1e6) * 1e4 + 0.5) / 1e4
    assert got["n_points"] == n_used
    assert got["n_zero_excluded"] == n_zero == 3  # id 0 and both twins
    assert got["id_est"] == expect
    # well below the 8-dim ambient (the LCG lattice structure violates
    # TwoNN's Poisson-sampling assumption, so the estimate sits above the
    # true manifold dimension 2 — the exact-reference equality above is
    # the real pin; this bound only guards the direction)
    assert 1.0 < got["id_est"] < 6.0

    # anchors path: restricting anchors must match the reference over them
    anchors = df.filter("vec_id < 40")
    got_a = twonn_intrinsic_dim(df, anchors=anchors).collect()[0]
    s_units, n_used = 0, 0
    for a in range(len(X)):
        if ids[a] >= 40:
            continue
        d2 = ((X - X[a]) ** 2).sum(axis=1)
        order = sorted((d2[b], ids[b]) for b in range(len(X)) if b != a)
        d1, dd2 = order[0][0], order[1][0]
        if d1 <= 0:
            continue
        n_used += 1
        s_units += math.floor(math.log(dd2 / d1) * 1e6 + 0.5)
    assert got_a["n_points"] == n_used
    assert got_a["id_est"] == math.floor(
        2.0 * n_used / (s_units / 1e6) * 1e4 + 0.5) / 1e4


def test_twonn_numpy_twin_matches_expression_form_exactly(spark):
    """The Arrow-batched numpy twin must be BIT-identical to the zip_with
    fold form: numpy's reduction over a <128-element axis is the same
    sequential IEEE order, and everything downstream is shared code."""
    from momyre_spark.operators.similarity import (
        twonn_intrinsic_dim,
        twonn_intrinsic_dim_numpy,
    )

    rows = []
    for i in range(90):
        u = ((i * 2654435761) % 10_000) / 10_000.0
        v = ((i * 40503 + 7) % 10_000) / 10_000.0
        rows.append((i, [u, v, u + v, u - v, 2 * u, 2 * v, u * v, u + 2 * v]))
    rows.append((90, rows[0][1]))  # one identical twin
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    anchors = df.filter("vec_id < 30")
    for kw in ({}, {"anchors": anchors}):
        a = twonn_intrinsic_dim(df.repartition(7), **kw).collect()[0]
        b = twonn_intrinsic_dim_numpy(df.repartition(5), **kw).collect()[0]
        assert (a["n_points"], a["n_zero_excluded"], a["id_est"]) == (
            b["n_points"], b["n_zero_excluded"], b["id_est"]), kw


def test_topk_numpy_twins_match_expression_forms_exactly(spark):
    """The fold-exact Arrow twins must be BIT-identical to the expression
    operators on the real fixture — every column including the unrounded
    rank order (a rank flip would change neighbor_id sets): the twins
    reproduce add_normalized/dot's sequential folds by column-wise
    accumulation and prune per batch in the window's own
    (cos DESC, id ASC) order."""
    from momyre_spark.operators.similarity import (
        brute_force_topk,
        brute_force_topk_numpy,
        ivf_topk,
        ivf_topk_numpy,
    )
    from tests.conftest import SF_CORRECT

    emb = spark.read.parquet(f"{SF_CORRECT}/embeddings.parquet")
    qs = emb.filter("vec_id < 8")
    for expr_fn, np_fn, kw in (
        (brute_force_topk, brute_force_topk_numpy, {}),
        (ivf_topk, ivf_topk_numpy, {"num_cells": 16}),
        (ivf_topk, ivf_topk_numpy, {"num_cells": 16, "nprobe": 3}),
    ):
        a = sorted(
            tuple(r) for r in expr_fn(emb, qs, k=10, **kw).collect()
        )
        b = sorted(
            tuple(r)
            for r in np_fn(emb.repartition(5), qs, k=10, **kw).collect()
        )
        assert a == b, kw


def test_maxsim_numpy_twin_matches_expression_form_exactly(spark):
    """maxsim_sliced_topk_numpy must be BIT-identical to
    token_slices + maxsim_topk on the real fixture, in all three shapes
    the registered queries use: all-pairs with exclude_self, an explicit
    candidates frame, and the fused ivf_cells first stage (whose
    candidate set must equal the assign_ivf_cells + cell-equality join
    it replaces)."""
    from pyspark.sql import functions as F

    from momyre_spark.operators.similarity import (
        assign_ivf_cells,
        maxsim_sliced_topk_numpy,
        maxsim_topk,
        token_slices,
    )
    from tests.conftest import SF_CORRECT

    emb = spark.read.parquet(f"{SF_CORRECT}/embeddings.parquet")
    toks = token_slices(emb, 8)
    qtoks = toks.filter("vec_id < 8")
    qemb = emb.filter("vec_id < 8")

    a = sorted(
        tuple(r)
        for r in maxsim_topk(
            toks, qtoks, k=10, doc_id_col="vec_id", query_id_col="vec_id",
            exclude_self=True,
        ).collect()
    )
    b = sorted(
        tuple(r)
        for r in maxsim_sliced_topk_numpy(
            emb.repartition(5), qemb, n_tokens=8, k=10, exclude_self=True
        ).collect()
    )
    assert a == b

    cells = assign_ivf_cells(emb, num_cells=16, centroids="first_c")
    qc = cells.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "cell"
    )
    cand = (
        cells.select(F.col("vec_id").alias("doc_id"), "cell")
        .join(qc, "cell")
        .filter(F.col("doc_id") != F.col("query_id"))
        .select("query_id", "doc_id")
    )
    a = sorted(
        tuple(r)
        for r in maxsim_topk(
            toks, qtoks, k=10, doc_id_col="vec_id", query_id_col="vec_id",
            candidates=cand,
        ).collect()
    )
    b = sorted(
        tuple(r)
        for r in maxsim_sliced_topk_numpy(
            emb.repartition(5), qemb, n_tokens=8, k=10, candidates=cand
        ).collect()
    )
    c = sorted(
        tuple(r)
        for r in maxsim_sliced_topk_numpy(
            emb.repartition(5), qemb, n_tokens=8, k=10,
            ivf_cells=16, centroids="first_c",
        ).collect()
    )
    assert a == b
    assert a == c


def test_source_centroid_sim_known_values(spark):
    """Fixed-point centroid cosine by hand: s1 centroid (.5,.5), s2
    centroid (1.5,.5) -> cos = 1/sqrt(1.25) ~= 0.894427; pair emitted
    once with source_a < source_b."""
    from momyre_spark.operators.similarity import source_centroid_sim

    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [1.0, 1.0]),
         (4, [2.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    docs = spark.createDataFrame(
        [(1, "s1"), (2, "s1"), (3, "s2"), (4, "s2")],
        "doc_id long, source string",
    )
    rows = source_centroid_sim(emb, docs).collect()
    assert len(rows) == 1
    [r] = rows
    assert (r["source_a"], r["source_b"], r["n_a"], r["n_b"]) == (
        "s1", "s2", 2, 2)
    assert r["cos_sim"] == 0.894427


def test_embedding_norm_profile_known_values(spark):
    """Median/MAD outlier flags by hand: nine unit vectors + one 100x
    vector -> median 1, MAD 0 is avoided by jittered norms; the planted
    outlier (and only it) trips at 3.5 MADs; robust_z is NULL when MAD
    is zero rather than dividing."""
    from momyre_spark.operators.similarity import embedding_norm_profile

    rows = [(i, [1.0 + 0.01 * i, 0.0]) for i in range(9)]
    rows.append((9, [100.0, 0.0]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {r["vec_id"]: r for r in embedding_norm_profile(emb).collect()}
    assert len(got) == 10  # every row emitted with a verdict
    assert [got[i]["is_outlier"] for i in range(9)] == [False] * 9
    assert got[9]["is_outlier"]
    assert got[9]["norm"] == 100.0
    # norms 1.00..1.08: median = 1.04 (type-1 rank (10+1) div 2 = 5);
    # sorted devs 0,.01,.01,.02,.02,.03,.03,.04,.04,98.96 -> MAD = 0.02
    assert got[4]["norm"] == 1.04
    assert got[0]["robust_z"] == 2.0  # 0.04 / 0.02
    # degenerate all-equal norms: MAD 0 -> no outliers, NULL z
    same = spark.createDataFrame(
        [(i, [3.0, 4.0]) for i in range(4)],
        "vec_id long, embedding array<double>",
    )
    for r in embedding_norm_profile(same).collect():
        assert r["norm"] == 5.0 and not r["is_outlier"]
        assert r["robust_z"] is None

def test_srp_banded_rows_matches_array_twin_exactly(spark):
    """The fused mapInPandas banding (one Python boundary) must emit
    EXACTLY the rows of with_srp_buckets + posexplode, above and below
    the expression plane limit, including NULL/wrong-length vectors."""
    from pyspark.sql import functions as F

    from momyre_spark.operators.similarity import (
        _EXPR_PLANE_LIMIT,
        srp_banded_rows,
        srp_planes,
        with_srp_buckets,
    )

    rows = [(i, [((i * 7 + j * 13) % 17 - 8) / 8.0 for j in range(16)])
            for i in range(200)]
    rows += [(200, None), (201, [0.5, -0.5])]  # NULL + wrong-length
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    for tables, planes_per in ((24, 12), (4, 8)):  # above / below limit
        planes = srp_planes(tables, planes_per, 16, seed=0xBEEF)
        assert (tables * planes_per > _EXPR_PLANE_LIMIT) == (
            tables == 24
        )
        ref = sorted(
            map(
                tuple,
                with_srp_buckets(df, planes, "embedding")
                .select(
                    "vec_id",
                    F.posexplode("__buckets").alias("table", "bucket"),
                )
                .collect(),
            )
        )
        got = sorted(
            map(
                tuple,
                srp_banded_rows(df, planes, "vec_id", "embedding").collect(),
            )
        )
        assert got == ref, f"tables={tables}"


def test_srp_ragged_planes_rejected_both_paths(spark):
    """A planes list whose tables differ in plane count or dimension is
    refused with a clear ValueError by both bucket entry points, below
    and above the expression plane limit."""
    import pytest

    from momyre_spark.operators.similarity import (
        _EXPR_PLANE_LIMIT,
        srp_banded_rows,
        srp_planes,
        with_srp_buckets,
    )

    df = spark.createDataFrame(
        [(0, [1.0] * 16)], "vec_id long, embedding array<double>"
    )
    for tables, planes_per in ((4, 8), (24, 12)):  # below / above limit
        short_table = srp_planes(tables, planes_per, 16)
        short_table[1] = short_table[1][:-1]
        short_plane = srp_planes(tables, planes_per, 16)
        short_plane[-1][0] = short_plane[-1][0][:-1]
        assert (tables * (planes_per - 1) > _EXPR_PLANE_LIMIT) == (
            tables == 24
        )
        for planes, msg in ((short_table, "plane count"),
                            (short_plane, "dimension")):
            with pytest.raises(ValueError, match=msg):
                with_srp_buckets(df, planes, "embedding")
            with pytest.raises(ValueError, match=msg):
                srp_banded_rows(df, planes, "vec_id", "embedding")
