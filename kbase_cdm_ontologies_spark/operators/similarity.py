"""Similarity search over embedding columns (array<float>).

- brute_force_topk: exact cosine top-k — the correctness baseline.
  Dot products stay JVM-side via F.zip_with + F.aggregate (no Python).
- lsh_topk: random-hyperplane LSH — the scale path. Hyperplane signs
  bucket vectors; only same-bucket (± multi-probe) candidates are
  scored. Hyperplanes are derived deterministically from a seed via
  md5, so results are reproducible run-to-run.
"""

from __future__ import annotations

import hashlib
import struct

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v)
    )


def cosine_expr(a, b):
    return _dot(a, b) / (_norm(a) * _norm(b))


def brute_force_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k against a literal query vector. One scan, one
    partial top-k per partition (takeOrdered semantics via orderBy+limit
    under AQE), no shuffle of the vectors themselves."""
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    return (
        embeddings.select(
            F.col(id_col).alias("vec_id"),
            cosine_expr(F.col(vec_col).cast("array<double>"), q).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(k)
    )


def _seeded_hyperplanes(dim: int, n_planes: int, seed: int) -> list[list[float]]:
    """Deterministic pseudo-gaussian hyperplanes from md5 bytes."""
    planes = []
    for p in range(n_planes):
        vals: list[float] = []
        ctr = 0
        while len(vals) < dim:
            h = hashlib.md5(f"{seed}:{p}:{ctr}".encode()).digest()
            for i in range(0, 16, 4):
                (u,) = struct.unpack(">I", h[i : i + 4])
                vals.append((u / 2**31) - 1.0)  # uniform [-1, 1)
            ctr += 1
        planes.append(vals[:dim])
    return planes


def lsh_bucket(vec_col, planes: list[list[float]]):
    """Bit-string bucket id from hyperplane signs (column expression)."""
    bits = [
        F.when(_dot(vec_col, F.array(*[F.lit(float(x)) for x in pl])) >= 0, "1").otherwise("0")
        for pl in planes
    ]
    return F.concat(*bits)


def _probe_sequence(
    query_vec: list[float], planes: list[list[float]], n_probes: int
) -> list[str]:
    """Query-directed multi-probe sequence (Lv et al., VLDB'07 —
    public algorithm): the query's own bucket first, then buckets
    reached by flipping the planes whose decision boundary the query
    sits closest to (single flips, then pairs), ordered by the total
    boundary distance of the flipped planes."""
    dots = [sum(a * b for a, b in zip(query_vec, pl)) for pl in planes]
    qbits = ["1" if d >= 0 else "0" for d in dots]
    flips: list[tuple[float, tuple[int, ...]]] = []
    n = len(planes)
    for i in range(n):
        flips.append((abs(dots[i]), (i,)))
    for i in range(n):
        for j in range(i + 1, n):
            flips.append((abs(dots[i]) + abs(dots[j]), (i, j)))
    flips.sort()
    probes = ["".join(qbits)]
    for _, idxs in flips:
        if len(probes) >= n_probes:
            break
        bits = qbits[:]
        for i in idxs:
            bits[i] = "0" if bits[i] == "1" else "1"
        probes.append("".join(bits))
    return probes


def lsh_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_planes: int = 8,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_probes: int = 1,
    round_dp: int | None = None,
) -> DataFrame:
    """Approximate top-k: score only vectors in the query's LSH bucket
    plus the n_probes-1 nearest perturbation buckets (multi-probe —
    recovers the recall a single probe loses at scale without adding
    hash tables). The bucket predicate is a literal IN-list, so at
    scale a bucket-partitioned layout prunes scan partitions.

    round_dp: round the cosine (and order by the rounded value) so the
    top-k cut is reproducible across engines with different float
    summation orders — the oracle-parity mode."""
    dim = len(query_vec)
    planes = _seeded_hyperplanes(dim, n_planes, seed)
    emb = embeddings.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    ).withColumn("bucket", lsh_bucket(F.col("v"), planes))
    probes = _probe_sequence(query_vec, planes, n_probes)
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    cos = cosine_expr(F.col("v"), q)
    if round_dp is not None:
        cos = F.round(cos, round_dp)
    return (
        emb.where(F.col("bucket").isin(probes))
        .select("vec_id", cos.alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(k)
    )

