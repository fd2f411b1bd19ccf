"""M6 — canonicalization: connected components over equivalence edges
via the large-star / small-star algorithm (Kiveris et al., "Connected
Components in MapReduce and Beyond", SoCC'14 — public algorithm).

Reference semantics being reproduced: relation-graph's
``--equivalence-as-subclass true`` + merged-graph identity collapse
(SURVEY.md §2.8): every ``owl:equivalentClass`` component maps to one
canonical id = lexicographic min member (matching the plain-Python
union-find oracle in sources/corpus.py).

Per round (all built-in ops; converges in O(log n) rounds):

  large-star: for each u over the symmetrized edge set,
              m = min(N(u) ∪ {u}); emit (v, m) for v ∈ N(u), v > u
  small-star: orient edges u > v; m = min(N(u));
              emit (u, m) and (v, m) for v ∈ N(u), v ≠ m

Scale properties:
- the min-per-node aggregations partial-aggregate map-side (hash
  aggregate), so a hub node (skew fixture: 10k-edge hub; production
  analog NCBITaxon-scale terms) never funnels raw edges to one task.
- every round ends in dropDuplicates + localCheckpoint() to truncate
  lineage — without it, round k replays rounds 1..k-1.
- convergence check is an exceptAll on the oriented star sets (cheap:
  both sides hash-partitioned by the same keys).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans import route
from ..plans.stats_cut import cut as _statscut


def _round(e: DataFrame) -> DataFrame:
    """One large-star + small-star round over an ORIENTED (u > v),
    duplicate-free edge set; returns the same invariant.

    Orientation invariants save shuffles: the symmetrized view needs no
    dedup (an oriented set can't contain both directions), large-star's
    output rows already satisfy u > v (v_old > u_old >= m), so
    small-star skips its re-orientation pass. One dedup at the end of
    the round restores the invariant."""
    sym = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = (
        sym.groupBy("u")
        .agg(F.min("v").alias("mv"))
        .select("u", F.least("mv", "u").alias("m"))
    )
    ls = (
        sym.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )  # oriented u > v by construction; may carry dupes (cleaned below)
    o = ls.where(F.col("u") != F.col("v"))
    mins2 = o.groupBy("u").agg(F.min("v").alias("m"))
    nbr = (
        o.join(mins2, "u")
        .where(F.col("v") != F.col("m"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    selfe = mins2.select("u", F.col("m").alias("v"))
    return nbr.unionByName(selfe).dropDuplicates()


def _local_union_find(rows) -> list[tuple]:
    """Union-find with union-by-min over collected (u, v) edges:
    the root of every set is its minimum member, so find(x) IS the
    canonical id. Returns (node, canonical) for every non-root node."""
    parent: dict = {}

    def find(x):
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for u, v in rows:
        ru, rv = find(u), find(v)
        if ru == rv:
            continue
        lo, hi = (ru, rv) if ru < rv else (rv, ru)
        parent[hi] = lo
    return [(x, find(x)) for x in parent]


# large/small-star rounds before connected_components declares divergence
_CC_ROUNDS = 30


def connected_components(
    pairs: DataFrame, local_threshold: int | None = None
) -> DataFrame:
    """pairs(src, dst) undirected -> (id, canonical) for every node
    appearing in pairs; canonical = min id of the component.

    Hybrid execution: the large/small-star rounds run distributed while
    the edge set exceeds `local_threshold`; once it contracts below it
    (each round is connectivity-preserving, so any intermediate edge set
    yields the same components), the remainder is solved with one
    driver-side union-find — iterative Spark rounds on a graph that fits
    one task are pure scheduler latency. At 100 TB the first rounds do
    the heavy lifting distributed; the contracted tail (≤ ~16 MB of id
    pairs at the default threshold) finishes in milliseconds locally.
    local_threshold=None reads its plans/route.py key; 0 forces the
    fully distributed loop.

    30 rounds bound the loop (log2 of any practical component count);
    a non-converged exit raises — the divergence alarm the
    build plan calls for (SURVEY.md §7.4)."""
    local_threshold = route.threshold(
        pairs, route.CONNECTED_COMPONENTS, local_threshold
    )
    # no stats-cut: nodes feeds exactly ONE join at the end, so the
    # BigInteger stats blow-up the cut guards against cannot occur, and
    # dropping it saves one checkpoint job per call
    nodes = (
        pairs.select(F.col("src").alias("u"))
        .unionByName(pairs.select(F.col("dst").alias("u")))
        .distinct()
    )
    e = _statscut(
        pairs.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .where(F.col("u") != F.col("v"))
        .dropDuplicates()
    )

    def _sig(df: DataFrame) -> tuple[int, int]:
        """ONE job per round: (row count, order-independent content
        hash). Running it over a lazy localCheckpoint also materializes
        the checkpoint, so each round costs a single Spark action —
        the loop is iteration-latency bound at small scale, so job
        count per round is the wall-clock driver."""
        row = df.groupBy().agg(
            F.count(F.lit(1)).alias("n"),
            # bit_xor: order-independent, overflow-free under ANSI mode;
            # the frame is duplicate-free so xor-cancellation can't hide
            # paired rows
            F.coalesce(F.expr("bit_xor(xxhash64(u, v))"), F.lit(0)).alias("h"),
        ).collect()[0]
        return int(row["n"]), int(row["h"])

    converged = False
    # one capped collect is both the size probe and, for a graph already
    # under the threshold (the common dimension-scale call), its fetch
    got = route.capped_collect([e], local_threshold)
    if got is None:
        sig_prev = _sig(e)
        for _ in range(_CC_ROUNDS):
            if local_threshold and sig_prev[0] <= local_threshold:
                # the contracted tail fits: fetch it for the driver finish
                got = route.capped_collect([e], local_threshold)
                break
            e2 = _statscut(_round(e))
            sig_new = _sig(e2)
            # (count, hash) equality is the cheap per-round test; only
            # a matching signature pays for the definitive set-equality
            # check (one anti-join suffices at equal counts), i.e. only
            # the terminal round costs extra jobs
            if sig_new == sig_prev and e2.exceptAll(e).limit(1).count() == 0:
                e = e2
                converged = True
                break
            e, sig_prev = e2, sig_new
    if got is not None:
        stars = route.upload(
            e.sparkSession,
            _local_union_find(got[0]),
            e.select("u", F.col("v").alias("canonical")).schema,
        )
    elif not converged:
        raise RuntimeError(f"connected_components: no convergence in {_CC_ROUNDS} rounds")
    else:
        stars = e.groupBy("u").agg(F.min("v").alias("canonical"))
    roots = nodes.join(stars, "u", "left_anti").select(
        "u", F.col("u").alias("canonical")
    )
    return stars.unionByName(roots).withColumnRenamed("u", "id")


def canonical_map(statements: DataFrame) -> DataFrame:
    """owl:equivalentClass statements -> (id, canonical), merged ids only."""
    eq = statements.where(
        (F.col("predicate") == "owl:equivalentClass") & F.col("object").isNotNull()
    ).select(F.col("subject").alias("src"), F.col("object").alias("dst"))
    return connected_components(eq)


# Upper bound for apply_canonical's broadcast: ~5M short-string rows is
# on the order of a few hundred MB serialized — comfortably inside a
# driver/executor at typical cluster memory, and far below the sizes an
# entity-linking canonical map reaches (1e8+).
BROADCAST_MAX_ROWS = 5_000_000


def apply_canonical(
    df: DataFrame,
    cmap: DataFrame,
    cols: list[str],
    broadcast_max_rows: int = BROADCAST_MAX_ROWS,
) -> DataFrame:
    """Rewrite id columns through the canonical map (identity when a
    node never merged).

    Size-aware join strategy: the map is broadcast only when it is
    provably dimension-sized (ontology equivalence maps — thousands of
    rows). A canonical map produced by web-entity linking can reach
    billions of rows, where an unconditional broadcast OOMs the driver;
    that case takes a plain shuffled left join and AQE picks the
    physical strategy."""
    # one count() decides the strategy for every column rewrite below
    small = cmap.count() <= broadcast_max_rows
    out = df
    for c in cols:
        m = cmap.select(F.col("id").alias(c), F.col("canonical").alias(f"_c_{c}"))
        out = (
            out.join(F.broadcast(m) if small else m, c, "left")
            .withColumn(c, F.coalesce(F.col(f"_c_{c}"), F.col(c)))
            .drop(f"_c_{c}")
        )
    return out
