#!/usr/bin/env python
"""sf1.0 contract check: the DuckDB oracle gate at 10x the bench scale.

The driver's correctness gate runs at sf0.01 and the bench at sf0.1;
nothing had checked oracle equality where the dedup family's candidate
sets get genuinely large. This script:

1. Materializes a deterministic sf1.0 dataset at ``.sf1/`` by
   replicating the driver's sf0.1 tables 10x with
   referential-integrity-preserving key offsets (customer/orders/
   lineitem/part/supplier keys shift together; region/nation are
   dimension-stable; documents/embeddings replicate with id offsets and
   IDENTICAL payloads — so every document gains 9 exact twins and the
   dedup/LSH candidate sets blow up by ~100x, the stress the check is
   for). No external data; same parquet feeds both engines.

2. For the N heaviest contract queries (by BENCH timing): runs the
   Spark query and the DuckDB oracle on the same .sf1 parquet and
   compares row count, sorted column names, and an order-invariant
   content hash. The hash compare is DISTRIBUTED: the DuckDB result is
   shipped into Spark via Arrow and BOTH frames pass the identical
   normalization (columns sorted by name, floating columns formatted
   to 10 significant digits by the same JVM formatter), so multi-
   million-row results never need a driver-side sorted collect.

3. Times each query at sf0.1 and sf1.0 with the bench's noop-sink
   protocol and reports the scale factor (contract: within 2x of
   linear, i.e. sf1_wall <= 20 * sf01_wall).

Writes CORRECTNESS_SF1.json at the repo root (or --out) and prints it.

    python scripts/sf1_contract.py                      # all of QUERY_SET
    python scripts/sf1_contract.py --queries dedup_jaccard,dedup_simhash \
        --out /tmp/sf1_dedup.json                       # a subset
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF01 = "/root/testdata/sf0.1"
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF1 = os.path.join(ROOT, ".sf1")

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

# (table, [(col, offset_key)]) — offset_key names the id space; every
# replica k shifts the column by k * (max(id space)+1)
KEYED = {
    "customer": [("c_custkey", "cust")],
    "orders": [("o_orderkey", "order"), ("o_custkey", "cust")],
    "lineitem": [
        ("l_orderkey", "order"), ("l_partkey", "part"), ("l_suppkey", "supp"),
    ],
    "part": [("p_partkey", "part")],
    "supplier": [("s_suppkey", "supp")],
    "events": [("event_id", "event")],
    "documents": [("doc_id", "doc")],
    "embeddings": [("vec_id", "vec")],
}
STATIC = {"region", "nation"}

# dedup_minhash_pairs is deliberately NOT in the set: capless
# single-hash banding is O(hot-cluster^2) BY ITS ORACLE DEFINITION —
# ~90% of documents share the corpus-min stop-word token, so each of
# the 8 seeds emits a ~C(46k,2) candidate bucket at this density
# (~8.5e9 pairs per execution, in Spark AND in DuckDB). Its semantics
# are oracle-gated at sf0.001-0.1 (test_oracle_contract + bench data),
# its duplicate-id and expansion behavior is unit-tested, and its
# at-scale production form is the max_bucket-capped banded_lsh_pairs
# checked below.
QUERY_SET = [
    "dedup_jaccard",
    "dedup_lsh_banded",
    "dedup_simhash",
    "dedup_embedding_lsh_bucketed",
    "ann_cosine_scores",
    "kg_connected_components",
    "kg_mentions_operator",
    "q3_shipping_priority",
    "top_suppliers_per_nation",
    "q1_pricing_summary",
    "curie_compact",
]


def generate(spark, replicas: int = 10) -> None:
    from pyspark.sql import functions as F

    os.makedirs(SF1, exist_ok=True)
    spaces: dict[str, int] = {}
    src = {t: spark.read.parquet(f"{SF01}/{t}.parquet") for t in TABLES}
    for space, (t, c) in {
        "cust": ("customer", "c_custkey"),
        "order": ("orders", "o_orderkey"),
        "part": ("part", "p_partkey"),
        "supp": ("supplier", "s_suppkey"),
        "event": ("events", "event_id"),
        "doc": ("documents", "doc_id"),
        "vec": ("embeddings", "vec_id"),
    }.items():
        spaces[space] = int(src[t].agg(F.max(c)).collect()[0][0]) + 1
    for t in TABLES:
        out = f"{SF1}/{t}.parquet"
        if os.path.exists(out):
            continue
        df = src[t]
        if t in STATIC:
            df.write.mode("overwrite").parquet(out)
            continue
        parts = []
        for k in range(replicas):
            rep = df
            for col, space in KEYED[t]:
                rep = rep.withColumn(
                    col, (F.col(col) + F.lit(k * spaces[space])).cast("long")
                )
            if t == "lineitem":
                # break replica-exact revenue ties: identical replica
                # payloads give every replica supplier a mathematically
                # EQUAL float revenue, and rank ordering by sum(float)
                # before the suppkey tiebreak then depends on each
                # engine's summation order — a harness artifact, not an
                # engine property. A deterministic +k cents per replica
                # keeps 2-dp prices and makes revenues distinct by
                # >= n_items cents, far above any float ulp.
                rep = rep.withColumn(
                    "l_extendedprice",
                    F.round(F.col("l_extendedprice") + F.lit(k * 0.01), 2),
                )
            parts.append(rep)
        u = parts[0]
        for p in parts[1:]:
            u = u.unionByName(p)
        u.write.mode("overwrite").parquet(out)
        print(f"[gen] {t} -> {out}", file=sys.stderr, flush=True)


def _normalize_for_hash(df):
    """Sorted columns; floating columns formatted to 10 significant
    digits by the JVM formatter — applied IDENTICALLY to the Spark
    result and the Arrow-shipped DuckDB result."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    cols = sorted(df.columns)
    out = []
    for c in cols:
        dt = df.schema[c].dataType
        if isinstance(dt, (T.DoubleType, T.FloatType)):
            out.append(
                F.when(F.isnan(F.col(c)), F.lit("NaN"))
                .otherwise(F.format_string("%.10g", F.col(c) + F.lit(0.0)))
                .alias(c)
            )
        else:
            out.append(F.col(c).cast("string").alias(c))
    return df.select(*out), cols


def _sig(df):
    from pyspark.sql import functions as F

    n, cols = df.count(), df.columns
    h = df.select(
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h")
    ).collect()[0]["h"]
    return n, str(h)


_FLOAT_ABS_TOL = 0.011  # one unit in the last rounded place (2-dp money)
_FLOAT_REL_TOL = 1e-6


def _tolerant_match(sdf, ddf) -> dict:
    """Align both results on their non-float columns (must be 1:1) and
    check float cells within _FLOAT_ABS_TOL / _FLOAT_REL_TOL. Driver-
    side; callers gate on small row counts."""
    from pyspark.sql import types as T

    fcols = [
        f.name
        for f in sdf.schema.fields
        if isinstance(f.dataType, (T.DoubleType, T.FloatType))
    ]
    kcols = [c for c in sorted(sdf.columns) if c not in fcols]

    def _index(df):
        out = {}
        for r in df.collect():
            out.setdefault(tuple(str(r[c]) for c in kcols), []).append(
                [float(r[c]) for c in fcols]
            )
        return out

    s_idx, d_idx = _index(sdf), _index(ddf)
    if set(s_idx) != set(d_idx):
        return {"match": False, "why": "non-float key sets differ"}
    max_abs = 0.0
    for key, s_vals in s_idx.items():
        d_vals = d_idx[key]
        if len(s_vals) != 1 or len(d_vals) != 1:
            return {"match": False, "why": "non-float keys not unique"}
        for a, b in zip(s_vals[0], d_vals[0]):
            diff = abs(a - b)
            max_abs = max(max_abs, diff)
            if diff > max(_FLOAT_ABS_TOL, _FLOAT_REL_TOL * max(abs(a), abs(b))):
                return {"match": False, "why": f"float diff {diff} at {key}"}
    return {
        "match": True,
        "max_abs_float_diff": max_abs,
        "abs_tol": _FLOAT_ABS_TOL,
        "rel_tol": _FLOAT_REL_TOL,
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument(
        "--queries", default=",".join(QUERY_SET),
        help="comma-separated contract queries to check (default: all of QUERY_SET)",
    )
    ap.add_argument(
        "--out", default=os.path.join(ROOT, "CORRECTNESS_SF1.json"),
        help="report path (default: CORRECTNESS_SF1.json at the repo root)",
    )
    args = ap.parse_args(argv)

    import duckdb

    from kbase_cdm_ontologies_spark.queries import oracle_sql, queries
    from kbase_cdm_ontologies_spark.session import get_spark

    qs, oracles = queries(), oracle_sql()
    query_set = [q for q in args.queries.split(",") if q]
    unknown = [q for q in query_set if q not in qs or q not in oracles]
    if not query_set or unknown:
        ap.error(f"unknown or empty --queries: {unknown or args.queries!r}")

    spark = get_spark(app_name="sf1-contract")
    generate(spark)

    con = duckdb.connect()
    # the heaviest oracles (dedup_minhash_pairs) emit ~10^9 rows at
    # sf1: let DuckDB spill instead of dying in-memory
    con.sql("SET temp_directory='/tmp/duck_sf1_tmp'")
    con.sql("SET memory_limit='48GB'")
    for t in TABLES:
        # Spark writes each table as a DIRECTORY of part files
        con.sql(
            f"CREATE OR REPLACE VIEW {t} AS "
            f"SELECT * FROM read_parquet('{SF1}/{t}.parquet/*.parquet')"
        )
    report: dict = {"sf": 1.0, "dir": SF1, "queries": {}}
    for name in query_set:
        entry: dict = {}
        # --- wall at sf0.1 and sf1.0 (noop sink, min of 2, warm) ---
        for label, d in [("sf01_sec", SF01), ("sf1_sec", SF1)]:
            qs[name](spark, d).write.format("noop").mode("overwrite").save()
            best = None
            for _ in range(2):
                t0 = time.time()
                qs[name](spark, d).write.format("noop").mode("overwrite").save()
                best = min(best or 9e9, time.time() - t0)
            entry[label] = round(best, 3)
        entry["scale_factor"] = round(entry["sf1_sec"] / max(entry["sf01_sec"], 1e-9), 1)
        entry["within_2x_linear"] = bool(entry["scale_factor"] <= 20.0)
        # --- correctness vs DuckDB oracle ---
        got_n, gcols = None, None
        sdf, gcols = _normalize_for_hash(qs[name](spark, SF1))
        got_n, got_h = _sig(sdf)
        # hand the DuckDB result to Spark through parquet, not
        # arrow->pandas: the heaviest results (~10^9 pairs) would need
        # ~2x result size resident in the python process AND again in
        # the JVM via createDataFrame; COPY TO streams, and the
        # distributed normalize+hash never collects it
        t0 = time.time()
        # no leading underscore: Hadoop's path filter hides _-prefixed
        # files from the Spark reader
        duck_out = os.path.join(SF1, f"oracle-{name}.parquet")
        con.sql(
            f"COPY ({oracles[name]}) TO '{duck_out}' "
            f"(FORMAT PARQUET, ROW_GROUP_SIZE 1048576)"
        )
        entry["duck_sec"] = round(time.time() - t0, 3)
        ddf_raw = spark.read.parquet(duck_out)
        wcols = sorted(ddf_raw.columns)
        ddf, _ = _normalize_for_hash(ddf_raw)
        want_n, want_h = _sig(ddf)
        entry.update(
            rows=got_n,
            rows_match=bool(got_n == want_n),
            schema_match=bool(gcols == wcols),
            hash_match=bool(got_h == want_h),
        )
        # Bit-exact formatting of SUM(double) across engines is not a
        # sound expectation once sums span ~10^5 addends: with
        # different summation orders the true value can sit within an
        # ulp of a rounding boundary and the engines land on opposite
        # sides (observed at sf1: ONE revenue cell of 75 differing by
        # exactly 0.01 — same supplier, same rank). When the strict
        # hash fails on a small result, align rows on the non-float
        # columns and re-verify float cells within one unit of the
        # last rounded place. hash_match stays recorded as-is.
        if not entry["hash_match"] and entry["rows_match"] and got_n <= 1_000_000:
            entry["float_tolerant_match"] = _tolerant_match(
                qs[name](spark, SF1), ddf_raw
            )
        import shutil as _sh

        _sh.rmtree(duck_out, ignore_errors=True)
        if os.path.isfile(duck_out):
            os.remove(duck_out)
        print(f"[q] {name} {json.dumps(entry)}", file=sys.stderr, flush=True)
        report["queries"][name] = entry
    report["all_match_bit_exact"] = all(
        e["rows_match"] and e["schema_match"] and e["hash_match"]
        for e in report["queries"].values()
    )
    report["all_match"] = all(
        e["rows_match"]
        and e["schema_match"]
        and (
            e["hash_match"]
            or e.get("float_tolerant_match", {}).get("match", False)
        )
        for e in report["queries"].values()
    )
    report["all_within_2x_linear"] = all(
        e["within_2x_linear"] for e in report["queries"].values()
    )
    with open(args.out, "w") as f:
        json.dump(report, f, indent=2, sort_keys=True)
    print(json.dumps(report))
    return 0 if report["all_match"] else 1


if __name__ == "__main__":
    raise SystemExit(main())
