"""IVF-Flat ANN: full-probe equivalence to the brute-force baseline,
partial-probe recall on separated clusters, deterministic training."""

import numpy as np
import pytest

from sketchlib.similarity.ivf import ivf_assign, ivf_topk, train_centroids
from sketchlib.similarity.search import cosine_topk

N_CLUSTERS = 8
DIM = 16


@pytest.fixture(scope="module")
def vec_df(spark):
    rng = np.random.default_rng(11)
    centers = rng.standard_normal((N_CLUSTERS, DIM)) * 4
    rows = []
    for i in range(4000):
        c = i % N_CLUSTERS
        v = centers[c] + rng.standard_normal(DIM) * 0.3
        rows.append((i, [float(x) for x in v]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


@pytest.fixture(scope="module")
def trained(vec_df):
    cents = train_centroids(vec_df, n_clusters=N_CLUSTERS, sample_rows=2000,
                            seed=7)
    assigned = ivf_assign(vec_df, cents).cache()
    assigned.count()
    return cents, assigned


def _queries(vec_df, n=5):
    rows = vec_df.orderBy("vec_id").limit(n).collect()
    return [(r["vec_id"] + 100_000, list(r["embedding"])) for r in rows]


def test_training_deterministic(vec_df):
    a = train_centroids(vec_df, n_clusters=N_CLUSTERS, sample_rows=2000, seed=7)
    b = train_centroids(vec_df, n_clusters=N_CLUSTERS, sample_rows=2000, seed=7)
    assert np.array_equal(a, b)
    assert a.shape == (N_CLUSTERS, DIM)
    assert np.allclose(np.linalg.norm(a, axis=1), 1.0)


def test_assignment_covers_clusters(trained):
    _, assigned = trained
    sizes = {r["cluster_id"]: r["n"]
             for r in assigned.groupBy("cluster_id").count()
             .withColumnRenamed("count", "n").collect()}
    assert len(sizes) == N_CLUSTERS
    # generated data is balanced; no cluster should collapse
    assert min(sizes.values()) > 4000 // N_CLUSTERS // 4


def test_full_probe_equals_brute_force(vec_df, trained):
    cents, assigned = trained
    qs = _queries(vec_df)
    want = {(r["query_id"], r["rnk"]): r["vec_id"]
            for r in cosine_topk(vec_df, qs, k=10).collect()}
    got = {(r["query_id"], r["rnk"]): r["vec_id"]
           for r in ivf_topk(assigned, qs, cents, k=10,
                             nprobe=N_CLUSTERS).collect()}
    assert got == want


def test_partial_probe_recall(vec_df, trained):
    cents, assigned = trained
    qs = _queries(vec_df, n=8)
    truth: dict[int, set] = {}
    for r in cosine_topk(vec_df, qs, k=10).collect():
        truth.setdefault(r["query_id"], set()).add(r["vec_id"])
    got: dict[int, set] = {}
    for r in ivf_topk(assigned, qs, cents, k=10, nprobe=2).collect():
        got.setdefault(r["query_id"], set()).add(r["vec_id"])
    recalls = [len(got.get(q, set()) & t) / len(t) for q, t in truth.items()]
    # queries sit inside well-separated clusters: nprobe=2 must find nearly
    # everything
    assert np.mean(recalls) >= 0.9, recalls


def test_inscan_assignment_matches_materialized(vec_df, trained):
    """ivf_topk over a table WITHOUT cluster_id (in-scan assignment) returns
    exactly what the materialized-assignment path returns, and its plan runs
    a single Python stage (no duplicated assignment UDF eval)."""
    cents, assigned = trained
    qs = _queries(vec_df, n=6)
    want = {(r["query_id"], r["rnk"]): r["vec_id"]
            for r in ivf_topk(assigned, qs, cents, k=10, nprobe=3).collect()}
    res = ivf_topk(vec_df, qs, cents, k=10, nprobe=3)
    got = {(r["query_id"], r["rnk"]): r["vec_id"] for r in res.collect()}
    assert got == want
    plan = res._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]  # AQE echoes both plans
    assert "ArrowEvalPython" not in final  # no per-row assignment UDF at all
    assert final.count("MapInArrow") == 1


def test_train_raises_when_sample_too_small(spark):
    df = spark.createDataFrame([(0, [1.0, 0.0]), (1, [0.0, 1.0])],
                               "vec_id long, embedding array<double>")
    with pytest.raises(ValueError):
        train_centroids(df, n_clusters=8, sample_rows=2000)


@pytest.mark.parametrize("k", [1, 3])
def test_ties_at_the_cut_match_brute_force(spark, k):
    """Ten rows tied with the query, arriving in unsorted id order in one
    partition, with every cluster probed: the per-batch cut must keep all
    tied rows so the global (cosine desc, id asc) window picks the
    smallest ids, exactly as the brute-force scan does."""
    ids = [7, 3, 9, 0, 5, 1, 8, 2, 6, 4]
    df = spark.createDataFrame([(i, [1.0, 0.0, 0.0, 0.0]) for i in ids],
                               "vec_id long, embedding array<double>"
                               ).coalesce(1)
    cents = np.eye(4)[:2]
    q = [(0, [1.0, 0.0, 0.0, 0.0])]

    def top(frame):
        return [r["vec_id"] for r in frame.orderBy("rnk").collect()]

    want = top(cosine_topk(df, q, k=k))
    assert want == list(range(k))
    assert top(ivf_topk(df, q, cents, k=k, nprobe=2)) == want
