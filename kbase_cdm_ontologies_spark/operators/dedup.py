"""Deduplication operators for large-scale training-data pipelines.

All hot paths are built-in Spark SQL functions (JVM, codegen); the
hashing primitive is md5 over strings so every result is reproducible
in any engine (the DuckDB oracles in __spark_entry__ recompute them
bit-for-bit).

Scale notes (100 TB corpus):
- exact dedup: one hash-shuffle on a 32-char digest — balanced keys by
  construction; group sizes are the duplicate clusters.
- MinHash: no explode. Each row's distinct token array
  (array_distinct over the split) yields its k signatures per row
  (array_min over seeded md5s); duplicate ids min-merge in one small
  groupBy. Candidates come from ONE groupBy collect_list per key and
  streamed in-task pair expansion (_group_pairs) — there is no
  candidate join. A hot signature (boilerplate text) is the skew risk:
  the expansion cuts each group into _PAIR_BLOCK blocks spread across
  tasks, and the banded path caps bucket size.
- banded LSH: probability tuning via (bands, rows-per-band); pairs
  within a bucket are generated bucket-locally, with an explicit cap
  on bucket size so one viral boilerplate string can't emit O(n^2)
  pairs. Buckets over the cap are dropped, and nothing counts or
  logs them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, GroupedData, Window
from pyspark.sql import functions as F

TOKEN_SPLIT_RE = r"\s+"


def token_arrays(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, toks): per-document DISTINCT whitespace-token set as one
    array, i.e. the oracles' DISTINCT (doc_id, token) rows of
    string_split_regex(text, '\\s+') without an explode or a shuffle:
    array_distinct over the split dedups inside the scan task. Every
    consumer (min-hash, set Jaccard, simhash votes) is order- and
    multiplicity-insensitive. Documents with no tokens are dropped
    (they have zero (doc_id, token) rows)."""
    arr = F.array_distinct(
        F.filter(
            F.split(F.col(text_col), TOKEN_SPLIT_RE), lambda t: t != ""
        )
    )
    return (
        df.select(F.col(id_col).alias("id"), arr.alias("toks"))
        .where(F.size("toks") > 0)
    )


def merge_token_arrays(toks_arr: DataFrame) -> DataFrame:
    """One (id, toks) row per id: toks = the distinct union of the
    duplicate rows' token sets — exactly the long form's
    DISTINCT (id, token) semantics. The per-row array path assumes
    unique ids; an input whose id space can collide (the bench's
    injected-twin frame once real doc_ids cross the +10000 offset —
    true from ~sf0.2 up) MUST merge before any per-id consumer, or the
    colliding doc gets two signature/verification rows where the
    oracle's DISTINCT-merged pipeline has one. A no-op on unique-id
    input (flatten of a one-element list), but it does cost one
    exchange of the token arrays — so signature-only consumers prefer
    the cheaper per-id min-merge inside minhash_signatures_wide.

    The explicit repartition(id) is load-bearing: the groupBy reuses it
    (hashpartitioning(id) satisfies the aggregate's distribution, so no
    extra exchange), and a user-specified partition count is exempt
    from AQE coalescing — consumers run EXPENSIVE per-row work (the
    k·|toks| md5 signature lambdas, the simhash explode) on the merge
    OUTPUT, and AQE sizing the exchange by its small input bytes would
    serialize that work onto one task."""
    n = toks_arr.sparkSession.sparkContext.defaultParallelism
    return (
        toks_arr.repartition(n, "id")
        .groupBy("id")
        .agg(F.array_distinct(F.flatten(F.collect_list("toks"))).alias("toks"))
    )


def _minhash_cols(k: int) -> list:
    """_s0.._s{k-1} of a frame with a toks array column: per row,
    sig_i = array_min(md5(i || ':' || tok)) over its token set."""
    def _seed_hash(s: int):
        # closure factory: a 2-parameter lambda would be read by
        # PySpark as the (element, index) form of transform
        return lambda t: F.md5(F.concat(F.lit(f"{s}:"), t))

    return [
        F.array_min(F.transform(F.col("toks"), _seed_hash(s))).alias(f"_s{s}")
        for s in range(k)
    ]


def _unpivot(df: DataFrame, keep: list, prefix: str, n: int, key: str, val: str) -> DataFrame:
    """(*keep, key int, val) rows from the n columns {prefix}0..{prefix}{n-1}."""
    stack = ", ".join(f"{i}, {prefix}{i}" for i in range(n))
    return df.select(
        *keep, F.expr(f"stack({n}, {stack}) AS ({key}, {val})")
    ).select(*keep, F.col(key).cast("int").alias(key), val)


def _band_keys(wide: DataFrame, bands: int, rows_per_band: int, *carry: str) -> DataFrame:
    """(id, *carry, band, bucket) from a frame with the min-hash columns:
    bucket = md5 of the band's SORTED sigs, exactly the oracle's
    collect_list+sort_array key (no groupBy: the sigs are columns)."""
    def _key(b: int):
        sigs = [F.col(f"_s{b * rows_per_band + i}") for i in range(rows_per_band)]
        return F.md5(F.concat_ws("|", F.sort_array(F.array(*sigs)))).alias(f"_b{b}")

    keyed = wide.select("id", *carry, *[_key(b) for b in range(bands)])
    return _unpivot(keyed, ["id", *carry], "_b", bands, "band", "bucket")


def minhash_signatures_wide(toks_arr: DataFrame, k: int = 8) -> DataFrame:
    """(id, _s0.._s{k-1}) from a (id, toks) array frame: per-row
    min-hashes (identical to the groupBy-min over exploded tokens),
    then a per-id min-merge so duplicate-id rows collapse to the
    signature of their UNION set (min-hash distributes over union:
    sig(A ∪ B) = min(sig(A), sig(B))). The merge shuffles only k 32-char digests per row,
    map-side combined — on unique-id input it is a cheap identity
    exchange, and it is what keeps the array path bit-identical to the
    oracle's DISTINCT (doc_id, token) pipeline when the injected-twin
    id space collides with real ids (real from ~sf0.2 up)."""
    per_row = toks_arr.select("id", *_minhash_cols(k))
    return per_row.groupBy("id").agg(
        *[F.min(f"_s{s}").alias(f"_s{s}") for s in range(k)]
    )


_PAIR_BLOCK = 1024  # ids per expansion block: bounds per-eval memory
# and splits one viral key group across tasks


def _expand_pairs(sets: DataFrame, arr: str, left: str, right: str) -> DataFrame:
    """(left, right) = (arr[i], arr[j]) for every i < j of each row's
    SORTED array column arr — the block-streaming pair expansion shared
    by _group_pairs and simhash_near_pairs. Callers dedup identical sets
    first (the pair set of a group depends only on its set) and the
    emitted pairs after.

    1. Each set is cut into _PAIR_BLOCK-sized blocks of left-elements
       (explode of a stepped sequence) and the BLOCK rows are
       round-robin repartitioned: a user-specified repartition is
       AQE-coalescing-exempt (AQE sizes partitions by input bytes and
       cannot see the C(n,2) fan-out — a 2.2M-row frame once coalesced
       onto ONE task emitting ~10^8 pairs, a 30+ min straggler at
       sf1.0), and blocking also splits one viral group across tasks
       instead of pinning its whole C(n,2) on one task.
    2. Per block row, pairs stream through posexplode (left elements) +
       explode of the remaining suffix — peak per-eval memory is
       O(|set|), where a single-eval
       ``flatten(transform(transform(...)))`` materializes ALL C(n,2)
       pair structs of a group at once (an uncapped hot group of ~46k
       ids = ~10^9 structs in one allocation: OOM on any heap)."""
    n_out = sets.sparkSession.sparkContext.defaultParallelism * 4
    blocks = sets.select(
        arr,
        F.explode(
            F.sequence(F.lit(0), F.size(arr) - 2, F.lit(_PAIR_BLOCK))
        ).alias("_b0"),
    ).repartition(n_out)
    lefts = blocks.select(
        arr,
        "_b0",
        F.posexplode(F.slice(arr, F.col("_b0") + 1, _PAIR_BLOCK)).alias(
            "_p", left
        ),
    )
    return lefts.select(
        left,
        F.explode(
            F.slice(arr, F.col("_b0") + F.col("_p") + 2, F.size(arr))
        ).alias(right),
    )


def _group_pairs(keyed: DataFrame, *group_cols: str, max_bucket: int | None = None) -> DataFrame:
    """Distinct (id_a, id_b), id_a < id_b, for ids sharing a key group:
    ONE shuffle (groupBy collect_list) + in-task pair expansion
    (_expand_pairs) + distinct, replacing the self-join formulation
    whose two join inputs each recompute the whole upstream.

    Identical SORTED id sets collapse before expansion (``.distinct()``
    on the array): near-dup clusters agree on many seeds/bands, so the
    same id set recurs once per agreeing key, and expanding each
    recurrence would only feed the pair distinct.

    max_bucket: drop key groups larger than this (viral-bucket guard)
    — applied on the grouped sizes, identical to the former
    count-filter-join."""
    grouped = keyed.groupBy(*group_cols).agg(F.collect_list("id").alias("_ids"))
    if max_bucket is not None:
        grouped = grouped.where(F.size("_ids") <= max_bucket)
    sets = (
        grouped.where(F.size("_ids") >= 2)
        .select(F.sort_array("_ids").alias("_ids"))
        .distinct()
    )
    return _expand_pairs(sets, "_ids", "id_a", "id_b").distinct()


def exact_duplicates(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Clusters of byte-identical documents:
    (rep_id, dup_id) for every duplicate, rep = min id of the cluster."""
    h = df.select(F.col(id_col).alias("id"), F.md5(F.col(text_col)).alias("h"))
    reps = h.groupBy("h").agg(
        F.min("id").alias("rep_id"), F.count(F.lit(1)).alias("cluster_size")
    )
    return (
        h.join(reps, "h")
        .where((F.col("cluster_size") > 1) & (F.col("id") != F.col("rep_id")))
        .select("rep_id", F.col("id").alias("dup_id"))
    )


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, k: int = 8
) -> DataFrame:
    """(id, seed, sig): k md5-based min-hashes over the token set.
    hash_i(tok) = md5(i || ':' || tok) — engine-portable determinism.
    Computed per row from the doc's distinct-token array (no explode,
    no shuffle), unpivoted to the long form."""
    wide = minhash_signatures_wide(token_arrays(df, id_col, text_col), k)
    return _unpivot(wide, ["id"], "_s", k, "seed", "sig")


def minhash_candidate_pairs(
    df: DataFrame, id_col: str, text_col: str, k: int = 8
) -> DataFrame:
    """Near-dup candidates: pairs sharing the min-hash of ANY seed
    (banded LSH with 1 row per band). Returns distinct (id_a, id_b),
    id_a < id_b."""
    sig = minhash_signatures(df, id_col, text_col, k)
    return _group_pairs(sig, "seed", "sig")


def banded_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bands: int = 4,
    rows_per_band: int = 2,
    max_bucket: int = 1000,
) -> DataFrame:
    """Classic (b, r) MinHash-LSH: signature of b*r hashes, one bucket
    key per band = md5 of the band's r concatenated min-hashes.
    Buckets larger than max_bucket are dropped (boilerplate guard);
    nothing counts or logs the dropped buckets."""
    wide = minhash_signatures_wide(
        token_arrays(df, id_col, text_col), bands * rows_per_band
    )
    band_key = _band_keys(wide, bands, rows_per_band)
    return _group_pairs(band_key, "band", "bucket", max_bucket=max_bucket)


_KERNEL_CELLS = 1 << 22  # bucket rows x token columns per dense chunk


def _bucket_jaccard(ids, toks, threshold: float):
    """All-pairs set Jaccard of ONE bucket as numpy (id_a, id_b,
    jaccard), id_a < id_b, jaccard >= threshold. ids are unique; toks[i]
    is the DISTINCT token set of ids[i]. Tokens are interned to ints,
    those held by one member are dropped (they never intersect), and
    all C(n,2) intersection sizes come from 0/1 products M·Mᵀ chunked
    over the token axis: each dense chunk has at most _KERNEL_CELLS
    cells, so its float32 sums (< 2^24) are exact. The n×n matrices are
    bounded by the bucket cap (8 MB at max_bucket 1000). Jaccard is one
    IEEE double division of the same integers the JVM form divides, so
    every value is bit-identical to it and to the DuckDB oracle."""
    import numpy as np
    import pandas as pd

    ids = np.asarray(ids)
    n = len(ids)
    if n < 2:
        return ids[:0], ids[:0], np.empty(0)
    order = np.argsort(ids, kind="stable")
    ids, toks = ids[order], [toks[i] for i in order]
    sizes = np.fromiter((len(t) for t in toks), np.int64, n)
    codes = pd.factorize(np.concatenate(toks))[0]
    shared = np.bincount(codes)[codes] >= 2
    rows = np.repeat(np.arange(n), sizes)[shared]
    uniq, cols = np.unique(codes[shared], return_inverse=True)
    width = max(1, _KERNEL_CELLS // n)
    inter = np.zeros((n, n), np.int64)
    for t0 in range(0, len(uniq), width):
        sel = (cols >= t0) & (cols < t0 + width)
        m = np.zeros((n, min(width, len(uniq) - t0)), np.float32)
        m[rows[sel], cols[sel] - t0] = 1.0
        inter += (m @ m.T).astype(np.int64)
    jac = inter / (sizes[:, None] + sizes[None, :] - inter)
    a, b = np.nonzero(np.triu(jac >= threshold, 1))
    return ids[a], ids[b], jac[a, b]


def _capped_buckets(keyed: DataFrame, max_bucket: int) -> GroupedData:
    """(band, bucket) groups for a bucket-local Python verify stage.
    Buckets over max_bucket (and singletons) are dropped in the JVM by
    a window count over the clustering the grouped stage needs anyway,
    so they never reach Python and no exchange is added.

    The stage's task count follows its input: a plain hash exchange
    that AQE coalesces by bytes (the embedding gram stage of
    embedding_near_dup_bucketed is sized the same way). A bucket never
    splits across tasks and its work is vectorized, so a fixed fan-out
    only spread whole, capped buckets. And each Python task pays ~0.2 s of worker set-up before its first
    row (170-310 ms on a 4-vCPU host: pyspark.worker_util.
    setup_spark_files calls importlib.invalidate_caches(), which under
    Python 3.11 re-reads every cached zip importer — ~10.6 ms per
    pyspark.zip entry, ~45 ms per spark-core jar), so the former fixed
    4 x defaultParallelism fan-out spent 16 set-ups on a few MB of
    input. The set-up cost itself is not fixed here."""
    size = F.count(F.lit(1)).over(Window.partitionBy("band", "bucket"))
    keyed = keyed.withColumn("_n", size).where(F.col("_n").between(2, max_bucket))
    return keyed.drop("_n").groupBy("band", "bucket")


def banded_lsh_jaccard(
    toks_arr: DataFrame,
    bands: int = 4,
    rows_per_band: int = 2,
    max_bucket: int = 1000,
    threshold: float = 0.5,
) -> DataFrame:
    """Fused banded-LSH candidates + exact set-Jaccard verify, bucket
    locally: the (id, token-set) rows travel ONCE into their band
    buckets and every same-bucket pair is verified by one numpy kernel
    per bucket (_bucket_jaccard) — the candidate pairs themselves are
    never shuffled or joined (the staged form shuffles the pair set
    three times: distinct + two attach-joins). Buckets over max_bucket
    are dropped in the JVM, as in banded_lsh_pairs. A pair sharing
    several buckets is verified once per bucket with an identical
    result and deduped at the end.

    Returns distinct (id_a, id_b, jaccard RAW double) with
    jaccard >= threshold; callers round for presentation."""
    import pandas as pd

    # duplicate-id rows must collapse to their union token set BEFORE
    # banding (the oracle tokenizes through DISTINCT (doc_id, token)):
    # the verify stage needs the merged SET itself, not just merged
    # signatures, and the two rows of a colliding id may band into
    # different buckets — so the sig-level min-merge is not enough here
    toks_arr = merge_token_arrays(toks_arr)
    # carry toks through the signature projection (no join)
    wide = toks_arr.select("id", "toks", *_minhash_cols(bands * rows_per_band))
    keyed = _band_keys(wide, bands, rows_per_band, "toks")
    id_type = toks_arr.schema["id"].dataType.simpleString()

    def _verify(pdf: pd.DataFrame) -> pd.DataFrame:
        a, b, j = _bucket_jaccard(
            pdf["id"].to_numpy(), pdf["toks"].to_numpy(), threshold
        )
        return pd.DataFrame({"id_a": a, "id_b": b, "jaccard": j})

    return (
        _capped_buckets(keyed, max_bucket)
        .applyInPandas(_verify, f"id_a {id_type}, id_b {id_type}, jaccard double")
        .dropDuplicates(["id_a", "id_b"])
    )


def embedding_near_dup(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.8,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id_a, id_b, cosine) with
    cosine >= threshold, id_a < id_b.

    Exact all-pairs variant (the correctness baseline the LSH path in
    operators/similarity.py is measured against): norms are
    precomputed once, the self-join is a range-predicate nested-loop —
    viable to ~10^5 vectors per group. The scale path buckets with
    similarity.lsh_bucket first and runs this within buckets."""
    from .similarity import _dot, _norm  # shared JVM-side expressions

    v = (
        embeddings.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).cast("array<double>").alias("v"),
        )
        .withColumn("nrm", _norm(F.col("v")))
        .where(F.col("nrm") > 0)
    )
    a = v.select(F.col("id").alias("id_a"), F.col("v").alias("va"), F.col("nrm").alias("na"))
    b = v.select(F.col("id").alias("id_b"), F.col("v").alias("vb"), F.col("nrm").alias("nb"))
    cos = _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.round(cos, 5).alias("cosine"))
        .where(F.col("cosine") >= threshold)
    )


def embedding_near_dup_bucketed(
    embeddings: DataFrame,
    dim: int,
    n_planes: int = 4,
    seed: int = 9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.8,
    backend: str = "gram",
) -> DataFrame:
    """The SCALE path for embedding near-dup: LSH-bucket first (seeded
    hyperplane signs), exact cosine only within buckets. Recall is
    governed by n_planes (each plane halves the candidate space and can
    split a true pair); composition is deterministic (md5-seeded
    planes), so it sits under the DuckDB oracle gate in queries.py.

    backend="gram" (default): each bucket's vectors are shipped to a
    vectorized pandas stage ONCE (n·dim doubles) and all C(n,2)
    cosines are computed there — vectorized ACROSS pairs, sequential
    ACROSS dimensions, i.e. the exact ((0+p0)+p1)+… left fold of the
    JVM expression, so every cosine is bit-identical to the join
    backend (and to the DuckDB oracle). The former equi-self-join paid
    an interpreted higher-order-function fold per pair (~2·dim lambda
    calls × C(n,2) pairs — the measured wall at sf1.0) and recomputed
    the scan+bucket subtree for both join sides. Python-side
    pre-filtering uses a sound margin (threshold - 1e-5 on the RAW
    cosine); the authoritative round+threshold gate stays in Spark.
    backend="join": the all-JVM equi-join formulation — the reference
    that test_embedding_bucketed_gram_equals_join_backend compares the
    gram backend against (no query runs it)."""
    from .similarity import _dot, _norm, _seeded_hyperplanes, lsh_bucket

    planes = _seeded_hyperplanes(dim, n_planes, seed)
    v = (
        embeddings.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).cast("array<double>").alias("v"),
        )
        .withColumn("nrm", _norm(F.col("v")))
        .where(F.col("nrm") > 0)
        .withColumn("bucket", lsh_bucket(F.col("v"), planes))
    )
    if backend == "gram":
        import numpy as np
        import pandas as pd

        id_type = dict(
            (f.name, f.dataType.simpleString()) for f in embeddings.schema.fields
        )[id_col]
        margin = threshold - 1e-5  # sound: wider than the 5-dp half-ulp

        def _bucket_gram(pdf: pd.DataFrame) -> pd.DataFrame:
            n = len(pdf)
            empty = pd.DataFrame({"id_a": [], "id_b": [], "cosine": []})
            if n < 2:
                return empty
            pdf = pdf.sort_values("id")  # id_a < id_b via sorted order
            V = np.vstack(pdf["v"].to_numpy())
            nrm = pdf["nrm"].to_numpy()
            ids = pdf["id"].to_numpy()
            d = V.shape[1]
            # dim-major layout: the inner accumulation reads CONTIGUOUS
            # suffix slices (SIMD) instead of fancy-index gathers;
            # per a-row working set is O(n), so no pair-block chunking
            VT = np.ascontiguousarray(V.T)
            out_a, out_b, out_c = [], [], []
            for i in range(n - 1):
                acc = np.zeros(n - 1 - i)
                for k in range(d):  # exact JVM left fold, per dim
                    acc += VT[k, i] * VT[k, i + 1 :]
                cos = acc / (nrm[i] * nrm[i + 1 :])
                keep = cos >= margin
                if keep.any():
                    out_a.append(np.full(int(keep.sum()), ids[i]))
                    out_b.append(ids[i + 1 :][keep])
                    out_c.append(cos[keep])
            if not out_a:
                return empty
            return pd.DataFrame(
                {
                    "id_a": np.concatenate(out_a),
                    "id_b": np.concatenate(out_b),
                    "cosine": np.concatenate(out_c),
                }
            )

        # no fixed fan-out: AQE sizes the stage by input (see _capped_buckets)
        pairs = v.groupBy("bucket").applyInPandas(
            _bucket_gram, f"id_a {id_type}, id_b {id_type}, cosine double"
        )
        return pairs.select(
            "id_a", "id_b", F.round("cosine", 5).alias("cosine")
        ).where(F.col("cosine") >= threshold)
    a = v.select(F.col("id").alias("id_a"), F.col("v").alias("va"), F.col("nrm").alias("na"), "bucket")
    b = v.select(F.col("id").alias("id_b"), F.col("v").alias("vb"), F.col("nrm").alias("nb"), "bucket")
    cos = _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    return (
        a.join(b, "bucket")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.round(cos, 5).alias("cosine"))
        .where(F.col("cosine") >= threshold)
    )


def simhash64(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """64-bit SimHash over the token set, built from the first 16 hex
    chars of md5(token). Bitwise majority vote expressed with built-in
    functions, ONE aggregation: per distinct (id, token) row, 64
    conditional-sum aggregates (one per bit, statically-shifted — all
    map-side combined), then the word reassembled from the 64 vote
    columns in a projection. The former shape exploded 64 bit rows per
    token (a 64x row blow-up through two shuffles); this shape shuffles
    64 longs per document. Bit values are identical: votes are
    order-independent integer sums, and the reassembly adds the same
    distinct powers of two (bit 63 as min-long, matching
    shiftleft(1,63) two's-complement).

    Returns (id, simhash long)."""
    # explode of the per-doc distinct token ARRAY: distinct (id, token)
    # rows without the long-form explode+distinct shuffle. Duplicate-id
    # rows merge to their union set first — votes are multiplicity-
    # sensitive, so a token present in both rows of a colliding id must
    # vote ONCE (the oracle's DISTINCT (doc_id, token) semantics)
    toks = merge_token_arrays(token_arrays(df, id_col, text_col)).select(
        "id", F.explode("toks").alias("token")
    )
    hashed = toks.select(
        "id",
        F.conv(F.substring(F.md5("token"), 1, 15), 16, 10).cast("long").alias("h60"),
        F.conv(F.substring(F.md5("token"), 16, 15), 16, 10).cast("long").alias("h60b"),
    )
    aggs = []
    for b in range(64):
        src, sh = ("h60", b) if b < 32 else ("h60b", b - 32)
        bit = F.expr(f"CAST(shiftright({src}, {sh}) % 2 AS INT)")
        aggs.append(
            F.sum(F.when(bit == 1, 1).otherwise(-1)).alias(f"_v{b}")
        )
    votes = hashed.groupBy("id").agg(*aggs)
    total = F.lit(0).cast("long")
    for b in range(64):
        power = -(1 << 63) if b == 63 else (1 << b)
        total = total + F.when(
            F.col(f"_v{b}") > 0, F.lit(power).cast("long")
        ).otherwise(F.lit(0).cast("long"))
    return votes.select("id", total.alias("simhash"))


def simhash_near_pairs(
    df: DataFrame, id_col: str, text_col: str, max_hamming: int = 3
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance, blocked on 16-bit
    chunks (pigeonhole: distance <= 3 => at least one of 4 chunks
    equal), so the join is equi- not cross-."""
    sh = simhash64(df, id_col, text_col)
    chunks = sh.select(
        "id",
        "simhash",
        F.explode(F.sequence(F.lit(0), F.lit(3))).alias("chunk"),
    ).withColumn(
        "ckey",
        F.expr("shiftright(simhash, CAST(chunk * 16 AS INT)) & 65535"),
    )
    # group-local pair expansion (_expand_pairs, the simhash carried in
    # the struct payload), not a self-join whose both sides recompute
    # the simhash aggregation. SimHash CONCENTRATES near-dup corpora
    # into shared chunk buckets by design: identical member sets recur
    # across the 4 chunks (deduped before expansion), and a viral bucket
    # is exactly the hot group the block streaming is for.
    grouped = chunks.groupBy("chunk", "ckey").agg(
        F.sort_array(F.collect_list(F.struct("id", "simhash"))).alias("_m")
    )
    sets = grouped.where(F.size("_m") >= 2).select("_m").distinct()
    cand = (
        _expand_pairs(sets, "_m", "_a", "_b")
        .select(
            F.col("_a.id").alias("id_a"),
            F.col("_b.id").alias("id_b"),
            F.col("_a.simhash").alias("sh_a"),
            F.col("_b.simhash").alias("sh_b"),
        )
        .distinct()
    )
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return cand.select("id_a", "id_b", ham.alias("hamming")).where(
        F.col("hamming") <= max_hamming
    )
