"""Similarity-search operators: brute-force exactness, LSH recall."""

import math
import random

import pytest

from kbase_cdm_ontologies_spark.operators import similarity

DIM = 16
N = 300


@pytest.fixture(scope="module")
def emb_df(spark):
    rng = random.Random(11)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(DIM)]) for i in range(N)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>").cache(), rows


def _py_topk(rows, q, k):
    def cos(a, b):
        num = sum(x * y for x, y in zip(a, b))
        return num / (
            math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b))
        )

    return [
        i for i, _ in sorted(
            ((i, cos(v, q)) for i, v in rows), key=lambda t: (-t[1], t[0])
        )[:k]
    ]


def test_brute_force_exact(spark, emb_df):
    df, rows = emb_df
    q = rows[0][1]
    got = [r["vec_id"] for r in similarity.brute_force_topk(df, q, k=10).collect()]
    assert got == _py_topk(rows, q, 10)


def test_lsh_recall(spark, emb_df):
    """LSH bucket restricted to ~1/2^planes of vectors must still find
    most of the true top-k (same-bucket vectors are the similar ones)."""
    df, rows = emb_df
    q = rows[0][1]
    true10 = set(_py_topk(rows, q, 10))
    got = {r["vec_id"] for r in similarity.lsh_topk(df, q, k=10, n_planes=3).collect()}
    assert 0 in got  # the query vector itself shares its own bucket
    assert len(got & true10) >= 2  # recall floor for 3 planes on random data


@pytest.fixture(scope="module")
def clustered_df(spark):
    """10 well-separated clusters — the realistic embedding geometry
    where LSH earns its keep (uniform-random vectors have no
    neighborhood structure to exploit)."""
    rng = random.Random(23)
    centers = [[rng.uniform(-1, 1) for _ in range(DIM)] for _ in range(10)]
    rows = []
    for i in range(400):
        c = centers[i % 10]
        rows.append((i, [x + rng.gauss(0, 0.05) for x in c]))
    return (
        spark.createDataFrame(rows, "vec_id long, embedding array<double>").cache(),
        rows,
    )


def test_multiprobe_lsh_recall_at_10(spark, clustered_df):
    """recall@10 >= 0.9 for multi-probe on clustered embeddings; the
    single-probe run must never beat it (probes only add candidates)."""
    df, rows = clustered_df
    recalls_multi, recalls_single = [], []
    for qi in (0, 7, 13):
        q = rows[qi][1]
        true10 = set(_py_topk(rows, q, 10))
        multi = {
            r["vec_id"]
            for r in similarity.lsh_topk(df, q, k=10, n_planes=8, n_probes=24).collect()
        }
        single = {
            r["vec_id"]
            for r in similarity.lsh_topk(df, q, k=10, n_planes=8, n_probes=1).collect()
        }
        recalls_multi.append(len(multi & true10) / 10)
        recalls_single.append(len(single & true10) / 10)
    assert sum(recalls_multi) / len(recalls_multi) >= 0.9, recalls_multi
    for m, s in zip(recalls_multi, recalls_single):
        assert m >= s


def test_probe_sequence_properties():
    planes = similarity._seeded_hyperplanes(8, 6, seed=3)
    q = [0.3, -0.2, 0.9, 0.1, -0.7, 0.4, 0.0, 0.2]
    probes = similarity._probe_sequence(q, planes, 10)
    assert len(probes) == 10 and len(set(probes)) == 10
    qbits = probes[0]
    # probe 1 flips exactly one bit: the plane nearest the boundary
    assert sum(a != b for a, b in zip(qbits, probes[1])) == 1

