#!/usr/bin/env python
"""Round-6 optimization instrumentation (bench.py is FROZEN for
measurement; everything exploratory lives here).

Modes:
  --explain [--out-suffix before|after] [--queries a,b,c] [--out-dir DIR]
      Write .explain("formatted") for headline queries to
      DIR/<query>_<suffix>.txt (default DIR: plans/r06).
  --time [--queries a,b,c] [--repeats N]
      Per-query noop-sink timing (same methodology as bench.py:
      1 warm pass, then min of N) printed as one JSON line.

Data dir from $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
master local[$SPARK_GRAFT_CPUS] — identical contract to bench.py.
"""

from __future__ import annotations

import argparse
import json
import os
import time

HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_nation_revenue",
    "top_suppliers_per_nation",
    "lineitem_rollup",
    "events_daily",
    "events_sessionization",
    "events_running_total",
    "kg_mention_counts",
    "kg_cooccurrence_edges",
    "kg_connected_components",
    "kg_transitive_closure",
    "kg_property_closure",
    "dedup_lsh_banded",
    "dedup_jaccard",
    "dedup_embedding_lsh_bucketed",
    "ann_cosine_scores",
    "text_quality",
    "text_token_stats",
    "text_fingerprint",
    "text_chunking",
    "web_url_normalize",
    "iri_normalize",
    "curie_compact",
    "top5_customer_sample_per_nation",
    "events_json_props",
    "kg_mentions_operator",
]


def _spark(master):
    from kbase_cdm_ontologies_spark.session import get_spark

    return get_spark(app_name="bench-extra", master=master)


def run_explain(
    sf_dir: str, master: str | None, names: list[str], suffix: str, out_dir: str
) -> None:
    from kbase_cdm_ontologies_spark.queries import queries

    spark = _spark(master)
    qs = queries()
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        df = qs[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path} ({len(plan)} bytes)")


def run_time(sf_dir: str, master: str | None, names: list[str], repeats: int) -> None:
    from kbase_cdm_ontologies_spark.queries import queries

    spark = _spark(master)
    qs = queries()
    timings = {}
    for name in names:
        spark.sparkContext.setJobDescription(f"bench_extra:{name}")
        df = qs[name](spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()  # warm
        best = None
        for _ in range(repeats):
            t0 = time.time()
            qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
        timings[name] = round(best, 3)
        spark.sparkContext.setJobDescription(None)
    print(json.dumps({"queries": timings, "total": round(sum(timings.values()), 3),
                      "sf_dir": sf_dir, "repeats": repeats}))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--explain", action="store_true")
    ap.add_argument("--time", action="store_true")
    ap.add_argument("--queries", default=None, help="comma-separated; default headline")
    ap.add_argument("--out-suffix", default="before")
    ap.add_argument(
        "--out-dir",
        default=os.path.join(os.path.dirname(os.path.abspath(__file__)), "plans", "r06"),
        help="where --explain writes its plans",
    )
    ap.add_argument("--repeats", type=int, default=2)
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    names = args.queries.split(",") if args.queries else HEADLINE
    if args.explain:
        run_explain(sf_dir, args.master, names, args.out_suffix, args.out_dir)
    if args.time:
        run_time(sf_dir, args.master, names, args.repeats)
    return 0


if __name__ == "__main__":
    import sys

    sys.exit(main())
