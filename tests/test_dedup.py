"""Dedup operator family vs pure-Python oracles."""

import hashlib
import re

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from kbase_cdm_ontologies_spark.operators import dedup

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
    (3, "the quick brown fox leaps over the lazy dog"),  # near dup
    (4, "completely different text about spark clusters"),
    (5, "spark clusters completely different text about"),  # same token set as 4
    (6, "unrelated content entirely"),
]


def _df(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text"])


def test_exact_duplicates(spark):
    got = {
        (r["rep_id"], r["dup_id"])
        for r in dedup.exact_duplicates(_df(spark), "doc_id", "text").collect()
    }
    assert got == {(1, 2)}


def _py_minhash(text, k=8):
    toks = set(text.split())
    return [
        min(hashlib.md5(f"{s}:{t}".encode()).hexdigest() for t in toks)
        for s in range(k)
    ]


def test_minhash_signatures_match_python(spark):
    sigs = dedup.minhash_signatures(_df(spark), "doc_id", "text", k=8)
    got = {}
    for r in sigs.collect():
        got.setdefault(r["id"], {})[r["seed"]] = r["sig"]
    for doc_id, text in DOCS:
        want = _py_minhash(text)
        assert [got[doc_id][s] for s in range(8)] == want


def test_minhash_pairs_find_near_dups(spark):
    pairs = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_candidate_pairs(_df(spark), "doc_id", "text").collect()
    }
    assert (1, 2) in pairs  # identical
    assert (4, 5) in pairs  # same token set
    assert (1, 3) in pairs or (2, 3) in pairs  # near dup shares most minhashes
    assert not any(6 in p for p in pairs)


def test_banded_lsh_subset_of_rows1(spark):
    """(b=4, r=2) bands are strictly coarser than per-hash matching."""
    banded = {
        (r["id_a"], r["id_b"])
        for r in dedup.banded_lsh_pairs(_df(spark), "doc_id", "text", 4, 2).collect()
    }
    loose = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_candidate_pairs(_df(spark), "doc_id", "text", k=8).collect()
    }
    assert banded <= loose
    assert (1, 2) in banded and (4, 5) in banded


def test_jaccard_exact_values(spark):
    """Exact set-Jaccard through the verify that queries run. With one
    row per band, any shared min-hash is a candidate, so docs 1/3 meet;
    disjoint docs share no token, hence no min-hash and no bucket."""
    toks = dedup.token_arrays(_df(spark), "doc_id", "text")
    got = {
        (r["id_a"], r["id_b"]): round(r["jaccard"], 4)
        for r in dedup.banded_lsh_jaccard(toks, 16, 1, threshold=0.0).collect()
    }
    assert got[(1, 2)] == 1.0
    # docs 1/3: tokens differ by jumps vs leaps: |inter|=7, |union|=9
    assert got[(1, 3)] == round(7 / 9, 4)
    # zero-intersection pairs never become candidates -> absent, not 0.0
    assert (4, 6) not in got


def _py_simhash(text):
    toks = set(text.split())
    votes = [0] * 64
    for t in toks:
        hx = hashlib.md5(t.encode()).hexdigest()
        h60 = int(hx[0:15], 16)
        h60b = int(hx[15:30], 16)
        for bit in range(64):
            b = (h60 >> bit) & 1 if bit < 32 else (h60b >> (bit - 32)) & 1
            votes[bit] += 1 if b else -1
    v = sum((1 << bit) for bit in range(64) if votes[bit] > 0)
    return v - (1 << 64) if v >= (1 << 63) else v  # signed 64-bit (JVM long)


def test_simhash_matches_python(spark):
    got = {
        r["id"]: r["simhash"]
        for r in dedup.simhash64(_df(spark), "doc_id", "text").collect()
    }
    for doc_id, text in DOCS:
        assert got[doc_id] == _py_simhash(text), doc_id


@pytest.mark.parametrize("block", [1024, 1])
def test_simhash_near_pairs(spark, monkeypatch, block):
    """block=1 streams every left id in its own block (boundary case)."""
    monkeypatch.setattr(dedup, "_PAIR_BLOCK", block)
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in dedup.simhash_near_pairs(_df(spark), "doc_id", "text", 10).collect()
    }
    assert pairs[(1, 2)] == 0
    assert pairs[(4, 5)] == 0  # token-set based: same set, same simhash
    if (1, 3) in pairs:
        assert pairs[(1, 3)] <= 10


def test_chunk_documents_window_shapes(spark):
    from kbase_cdm_ontologies_spark.operators.textstats import chunk_documents

    df = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(10))), (2, ""), (3, "   "), (4, "a b")],
        ["doc_id", "text"],
    )
    rows = {
        (r["id"], r["chunk_idx"]): (r["chunk_text"], r["n_tokens"])
        for r in chunk_documents(df, "doc_id", "text", chunk_tokens=4, overlap=1).collect()
    }
    assert rows[(1, 0)] == ("w0 w1 w2 w3", 4)
    assert rows[(1, 1)] == ("w3 w4 w5 w6", 4)   # overlap of 1 token
    assert rows[(1, 3)] == ("w9", 1)            # final partial window kept
    assert rows[(4, 0)] == ("a b", 2)
    assert not any(i == 2 or i == 3 for i, _ in rows)  # empty docs yield nothing
    import pytest as _pytest
    with _pytest.raises(ValueError):
        chunk_documents(df, "doc_id", "text", chunk_tokens=4, overlap=4)


def test_normalize_urls_rules(spark):
    from kbase_cdm_ontologies_spark.operators.textstats import normalize_urls

    df = spark.createDataFrame(
        [
            ("HTTP://Example.COM/a/b/?utm_source=x&q=1#frag",),
            ("https://foo.org",),
            ("http://bar.net/path/?fbclid=zz",),
            ("https://x.io/a?keep=1&utm_a=1&utm_b=2&also=2",),
        ],
        ["url"],
    )
    got = {r["url"]: (r["host"], r["url_norm"]) for r in normalize_urls(df).collect()}
    assert got["HTTP://Example.COM/a/b/?utm_source=x&q=1#frag"] == (
        "example.com", "http://example.com/a/b?q=1"
    )
    assert got["https://foo.org"] == ("foo.org", "https://foo.org/")
    assert got["http://bar.net/path/?fbclid=zz"] == ("bar.net", "http://bar.net/path")
    assert got["https://x.io/a?keep=1&utm_a=1&utm_b=2&also=2"] == (
        "x.io", "https://x.io/a?keep=1&also=2"
    )


# --- r6 optimization equivalence: array-form internals vs references ---

def test_token_arrays_equals_tokens(spark):
    """token_arrays carries exactly each doc's distinct whitespace-token
    set and drops token-less docs. The character class is Java's \\s,
    the regex Spark's split runs."""
    rows = DOCS + [(7, ""), (8, "   "), (9, "x  x\t x\nx\x0b\x0cy\rz")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    want = {
        (i, t) for i, text in rows for t in re.split(r"[ \t\n\x0b\f\r]+", text) if t
    }
    got = dedup.token_arrays(df, "doc_id", "text").collect()
    assert {(r["id"], t) for r in got for t in r["toks"]} == want
    # per-row arrays are duplicate-free
    assert all(len(r["toks"]) == len(set(r["toks"])) for r in got)


@pytest.mark.parametrize("block", [1024, 2, 1])
def test_group_pairs_equals_self_join(spark, monkeypatch, block):
    """_group_pairs (collect_list + in-task expansion) must emit the
    same distinct ordered pairs as the equi-self-join it replaced,
    including the max_bucket drop; blocks of 2 and 1 cross the
    expansion's block boundaries inside each group."""
    monkeypatch.setattr(dedup, "_PAIR_BLOCK", block)
    rows = (
        [(i, 0, "hot") for i in range(12)]          # viral bucket: dropped at cap 10
        + [(i, 1, "warm") for i in (3, 1, 7)]       # C(3,2) pairs
        + [(i, 1, "solo") for i in (9,)]            # singleton: no pairs
        + [(5, 0, "warm"), (6, 0, "warm")]          # same bucket name, other band
    )
    keyed = spark.createDataFrame(rows, ["id", "band", "bucket"])
    got = {
        (r["id_a"], r["id_b"])
        for r in dedup._group_pairs(keyed, "band", "bucket", max_bucket=10).collect()
    }
    a = keyed.select(F.col("id").alias("id_a"), "band", "bucket")
    b = keyed.select(F.col("id").alias("id_b"), "band", "bucket")
    sizes = keyed.groupBy("band", "bucket").agg(F.count(F.lit(1)).alias("n"))
    ok = sizes.where(F.col("n") <= 10).select("band", "bucket")
    want = {
        (r["id_a"], r["id_b"])
        for r in a.join(ok, ["band", "bucket"])
        .join(b, ["band", "bucket"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
        .collect()
    }
    assert got == want and (1, 3) in got and all(x[0] < x[1] for x in got)


def test_embedding_bucketed_gram_equals_join_backend(spark):
    """The vectorized pandas gram backend must be BIT-identical to the
    all-JVM join backend (same rounded cosines, same pair set) — the
    equivalence the exact left-fold accumulation guarantees."""
    import random

    rng = random.Random(5)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(300)
    ] + [(900, [0.0] * 16)]  # zero vector: filtered in both backends
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    kw = dict(dim=16, n_planes=2, seed=9, threshold=0.1)
    gram = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in dedup.embedding_near_dup_bucketed(emb, backend="gram", **kw).collect()
    }
    join = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in dedup.embedding_near_dup_bucketed(emb, backend="join", **kw).collect()
    }
    assert gram == join
    assert len(gram) > 0


def test_banded_lsh_jaccard_equals_staged(spark):
    """Fused bucket-local verify == the staged pipeline (band buckets,
    then set-Jaccard of every same-bucket pair) in pure Python: pair
    set AND raw jaccard values identical."""
    import random

    rng = random.Random(11)
    vocab = [f"w{i}" for i in range(60)]
    rows = []
    for i in range(120):
        base = rng.sample(vocab, rng.randint(5, 20))
        rows.append((i, " ".join(base)))
        if i % 3 == 0:  # near-dup with a small edit
            mut = base[:-1] + [rng.choice(vocab)]
            rows.append((1000 + i, " ".join(mut)))
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    toks = dedup.token_arrays(df, "doc_id", "text")
    fused = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.banded_lsh_jaccard(
            toks, 4, 2, max_bucket=50, threshold=0.4
        ).collect()
    }
    merged = {}
    for i, text in rows:
        merged.setdefault(i, set()).update(text.split())
    assert fused == _py_banded_jaccard(merged, cap=50, thr=0.4)
    assert len(fused) > 0


# --- the bucket-local Jaccard kernel vs a plain frozenset oracle ---

def _frozenset_jaccard(ids, sets, thr):
    out = {}
    for x, a in enumerate(ids):
        for y, b in enumerate(ids):
            if a < b:
                inter = len(sets[x] & sets[y])
                j = inter / (len(sets[x]) + len(sets[y]) - inter)
                if j >= thr:
                    out[(a, b)] = j
    return out


def _kernel(ids, sets, thr):
    a, b, j = dedup._bucket_jaccard(
        np.array(ids, dtype=np.int64), [sorted(t) for t in sets], thr
    )
    return dict(zip(zip(a.tolist(), b.tolist()), j.tolist()))


@given(
    st.lists(
        st.frozensets(st.sampled_from([f"t{i}" for i in range(12)]), min_size=1),
        max_size=40,
    ),
    st.sampled_from([0.0, 0.25, 1 / 3, 0.5, 0.8, 1.0]),
    st.sampled_from([1 << 22, 7, 1]),  # forces 1..many token chunks
    st.randoms(use_true_random=False),
)
@settings(max_examples=200, deadline=None)
def test_bucket_jaccard_kernel_equals_frozenset_oracle(sets, thr, cells, rnd):
    """Random buckets: same pairs and bit-identical raw doubles."""
    ids = rnd.sample(range(1000), len(sets))  # unique, unsorted
    saved, dedup._KERNEL_CELLS = dedup._KERNEL_CELLS, cells
    try:
        got = _kernel(ids, sets, thr)
    finally:
        dedup._KERNEL_CELLS = saved
    assert got == _frozenset_jaccard(ids, sets, thr)


def test_bucket_jaccard_kernel_edges():
    s = frozenset
    assert _kernel([7], [s("ab")], 0.0) == {}  # n = 1: no pair
    # a pair at exactly the threshold is kept, one just under is not
    got = _kernel([1, 2, 3], [s("ab"), s("abcd"), s("aef")], 0.5)
    assert got == {(1, 2): 0.5}
    # identical sets -> 1.0; disjoint sets -> 0.0, kept only at 0.0
    assert _kernel([5, 4], [s("xyz"), s("zyx")], 1.0) == {(4, 5): 1.0}
    assert _kernel([1, 2], [s("ab"), s("cd")], 0.0) == {(1, 2): 0.0}
    assert _kernel([1, 2], [s("ab"), s("cd")], 1e-9) == {}
    # docs 1/3 differ by jumps vs leaps: |inter| = 7, |union| = 9
    assert _kernel(
        [1, 3], [s(DOCS[0][1].split()), s(DOCS[2][1].split())], 0.0
    ) == {(1, 3): 7 / 9}


@pytest.mark.parametrize("n, kept", [(5, True), (6, False)])
def test_banded_lsh_jaccard_bucket_cap(spark, n, kept):
    """n identical docs share one bucket in every band: kept at
    n = max_bucket, dropped in the JVM at max_bucket + 1; the other
    bucket's pair is verified either way."""
    rows = [(i, "a b c") for i in range(n)] + [(100, "x y z"), (101, "x y z w")]
    toks = dedup.token_arrays(spark.createDataFrame(rows, ["doc_id", "text"]), "doc_id", "text")
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.banded_lsh_jaccard(toks, 4, 2, max_bucket=5, threshold=0.5).collect()
    }
    want = _frozenset_jaccard(
        [i for i, _ in rows], [frozenset(t.split()) for _, t in rows], 0.5
    )
    if not kept:
        want = {p: j for p, j in want.items() if p[0] >= 100}
    assert got == want and (100, 101) in got


# --- duplicate-id inputs (the injected-twin id space collides with
# real doc ids once the corpus crosses the +10000 offset, ~sf0.2 up):
# every per-id consumer must merge to the union token set, exactly the
# oracle pipeline's DISTINCT (doc_id, token) semantics ---

DUP_DOCS = [
    (1, "a b c"),
    (1, "c d e"),          # same id, different text: union = {a..e}
    (2, "a b c c d e"),    # equals doc 1's MERGED set
    (3, "x y z"),
    (3, "x y z"),          # same id, identical text
    (4, "q r"),
]


def _dup_df(spark):
    return spark.createDataFrame(DUP_DOCS, ["doc_id", "text"])


def _merged_sets():
    merged = {}
    for i, t in DUP_DOCS:
        merged.setdefault(i, set()).update(t.split())
    return merged


def test_minhash_signatures_merge_duplicate_ids(spark):
    sigs = dedup.minhash_signatures(_dup_df(spark), "doc_id", "text", k=8)
    got = {}
    for r in sigs.collect():
        got.setdefault(r["id"], {})[r["seed"]] = r["sig"]
    for doc_id, toks in _merged_sets().items():
        want = _py_minhash(" ".join(toks))
        assert [got[doc_id][s] for s in range(8)] == want, doc_id
    # exactly one signature row per (id, seed) — no duplicate-id leak
    assert sigs.count() == len(_merged_sets()) * 8


def test_simhash_merges_duplicate_ids(spark):
    got = {
        r["id"]: r["simhash"]
        for r in dedup.simhash64(_dup_df(spark), "doc_id", "text").collect()
    }
    for doc_id, toks in _merged_sets().items():
        assert got[doc_id] == _py_simhash(" ".join(toks)), doc_id


def _py_banded_jaccard(merged, bands=4, rows_per_band=2, cap=1000, thr=0.5):
    """The oracle SQL pipeline over merged (id -> token set)."""
    k = bands * rows_per_band
    sig = {
        i: [
            min(hashlib.md5(f"{s}:{t}".encode()).hexdigest() for t in toks)
            for s in range(k)
        ]
        for i, toks in merged.items()
        if toks
    }
    buckets = {}
    for i, sg in sig.items():
        for b in range(bands):
            key = hashlib.md5(
                "|".join(sorted(sg[b * rows_per_band: (b + 1) * rows_per_band])).encode()
            ).hexdigest()
            buckets.setdefault((b, key), []).append(i)
    out = {}
    for ids in buckets.values():
        if len(ids) > cap:
            continue
        ids = sorted(ids)
        for x in range(len(ids) - 1):
            for y in range(x + 1, len(ids)):
                a, b = ids[x], ids[y]
                inter = len(merged[a] & merged[b])
                union = len(merged[a] | merged[b])
                j = inter / union
                if j >= thr:
                    out[(a, b)] = j
    return out


def test_banded_lsh_jaccard_duplicate_ids_match_oracle(spark):
    """Fused verify on a duplicate-id frame == the oracle pipeline over
    per-id MERGED sets. Docs 1 and 2 share a merged set (jaccard 1.0)
    even though no single ROW of doc 1 equals doc 2."""
    toks = dedup.token_arrays(_dup_df(spark), "doc_id", "text")
    fused = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.banded_lsh_jaccard(
            toks, 4, 2, max_bucket=1000, threshold=0.5
        ).collect()
    }
    want = _py_banded_jaccard(_merged_sets())
    assert fused == want
    assert fused[(1, 2)] == 1.0


def test_banded_lsh_pairs_duplicate_ids_match_oracle(spark):
    got = {
        (r["id_a"], r["id_b"])
        for r in dedup.banded_lsh_pairs(
            _dup_df(spark), "doc_id", "text", 4, 2, max_bucket=1000
        ).collect()
    }
    want = set(_py_banded_jaccard(_merged_sets(), thr=0.0))
    assert got == want
    assert (1, 2) in got
