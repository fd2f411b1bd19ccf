"""CLI — the engine's `run-all` (Spark analog of the reference's
``python -m cdm_ontologies run-all``, cdm_ontologies/cli.py:79-178).

Designed to be launched with ``spark-submit --py-files`` on a real
cluster (north rule); locally it builds its own local[N] session.

    python -m kbase_cdm_ontologies_spark run-all \
        --out /tmp/kg_out --pages 2000 --seed 42 [--resume]

Stages are checkpointed; a rerun with --resume skips stages whose
manifest (code hash + input fingerprint) still matches.
"""

from __future__ import annotations

import argparse
import json
import shutil
import sys
import time


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="kbase_cdm_ontologies_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)
    run = sub.add_parser("run-all", help="run the full KG-construction pipeline")
    run.add_argument("--out", required=True, help="output/checkpoint directory")
    run.add_argument("--pages", type=int, default=2000, help="synthetic corpus size")
    run.add_argument("--seed", type=int, default=42)
    run.add_argument("--master", default=None, help="spark master (default local[$SPARK_GRAFT_CPUS])")
    run.add_argument("--resume", action="store_true",
                     help="keep existing checkpoints (default: start clean)")
    run.add_argument(
        "--owl-dir", default=None,
        help="ingest .owl/.ofn/.obo files from this directory instead of "
             "the synthetic ontology fixture (reference drop-in path; "
             "P/R vs the fixture oracle is skipped)",
    )
    met = sub.add_parser(
        "metrics",
        help="print per-partition lineage metrics of a run (partition_id = "
             "the write task that wrote the stage's part-NNNNN files)",
    )
    met.add_argument("--out", required=True, help="checkpoint directory of a prior run")
    met.add_argument("--master", default=None)
    args = ap.parse_args(argv)

    if args.cmd == "metrics":
        from .plans.checkpoint import CheckpointManager
        from .session import get_spark

        spark = get_spark(app_name="kg-metrics", master=args.master)
        ck = CheckpointManager(spark, args.out)
        rows = ck.metrics_df().orderBy("stage", "partition_id").collect()
        for r in rows:
            print(json.dumps({
                "stage": r["stage"], "partition_id": r["partition_id"],
                "rows": r["rows"], "code_hash": r["code_hash"][:12],
            }))
        return 0

    from .plans.pipeline import run_pipeline
    from .session import get_spark
    from .sources.corpus import CorpusSpec, corpus_to_spark, generate_corpus

    if not args.resume:
        shutil.rmtree(args.out, ignore_errors=True)

    t0 = time.time()
    spark = get_spark(app_name="kg-run-all", master=args.master)
    corpus = generate_corpus(CorpusSpec(seed=args.seed, n_pages=args.pages))
    pages, stmts, _ = corpus_to_spark(spark, corpus)
    owl_digest = None
    if args.owl_dir:
        # reference drop-in: ontology statements come from real OWL
        # documents (distributed binaryFile scan -> parse -> robot-merge
        # semantics) instead of the fixture generator
        from pyspark.sql import functions as F2

        from .operators.merge import merge_ontologies
        from .sources.owl import owl_documents_to_statements

        docs = (
            spark.read.format("binaryFile")
            .option("pathGlobFilter", "*.*")
            .load(args.owl_dir)
            .select("path", F2.col("content"))
        )
        # resume contract: statement-derived stages must re-run when the
        # OWL inputs change, so their content digest becomes part of the
        # corpus fingerprint (reference version_tracker.py re-processes
        # on checksum change). One distributed md5 pass over the same
        # files the parser is about to read.
        import hashlib

        sig_rows = sorted(
            (r["path"], r["h"])
            for r in docs.select("path", F2.md5(F2.col("content")).alias("h")).collect()
        )
        owl_digest = hashlib.sha256(
            "".join(f"{p}:{h};" for p, h in sig_rows).encode()
        ).hexdigest()
        parsed = owl_documents_to_statements(docs)
        # per-source grouping by the graph column (source document) —
        # stanza prefixes don't identify the file for shared property
        # declarations (BFO/RO) an ontology re-declares
        per_source = {
            r["src"]: parsed.where(F2.col("graph") == r["src"])
            for r in parsed.select(F2.col("graph").alias("src")).distinct().collect()
            if r["src"]
        }
        stmts = merge_ontologies(per_source) if per_source else parsed
    fingerprint = f"seed={args.seed};pages={args.pages}"
    if owl_digest is not None:
        fingerprint += f";owl={owl_digest}"
    out = run_pipeline(
        spark, pages, stmts,
        checkpoint_dir=args.out,
        corpus_fingerprint=fingerprint,
    )
    ck = out["checkpoints"]
    n_edges = out["edges"].count()
    n_nodes = out["nodes"].count()

    # export memoization: when EVERY stage was skipped (inputs + code
    # unchanged), the exports derived from them are unchanged too —
    # re-serve the recorded export report instead of rewriting ~20
    # tables (the dominant cost of a fully-resumed run)
    export_report_path = f"{args.out}/export_report.json"
    import os as _os

    def _exports_intact(report: list[dict]) -> bool:
        # the memoized branch skips regenerating the export sinks, so it
        # must first confirm they still exist on disk — a deleted or
        # hollowed-out sink means the record is stale and the exports
        # must be rewritten (mirrors the snapshot validation stage
        # tables get)
        side = [f"{args.out}/analysis_json", f"{args.out}/term_list"]
        side += [
            _os.path.join(args.out, kind, r["table"])
            for r in report
            for kind in ("tsv_tables", "parquet_files")
        ]
        def _has_data(p: str) -> bool:
            # a sink replaced out-of-band by a regular file is stale
            # (and os.listdir would raise); a directory holding only
            # _SUCCESS/.crc markers is hollow — require a real data
            # file, mirroring _table_content_sha's filter
            if not _os.path.isdir(p):
                return False
            return any(
                not f.startswith(("_", ".")) for f in _os.listdir(p)
            )

        return all(_has_data(p) for p in side)

    if not ck.stages_run and _os.path.exists(export_report_path):
        with open(export_report_path) as f:
            export_report = json.load(f)
        if not _exports_intact(export_report):
            export_report = None
    else:
        export_report = None
    if export_report is not None:
        wall = time.time() - t0
        report = _final_report(args, corpus, out, ck, n_edges, n_nodes, export_report, wall)
        print(json.dumps(report))
        if args.owl_dir:
            return 0 if n_edges > 0 else 1
        return 0 if report["precision"] >= 0.95 and report["recall"] >= 0.95 else 1

    # stages 1-2 analog: per-ontology analysis record (JSON sink)
    from .operators.analysis import analyze_ontologies

    analyze_ontologies(stmts).coalesce(1).write.mode("overwrite").json(
        f"{args.out}/analysis_json"
    )
    # stages 6-7 analog: TSV + parquet export of every output table,
    # incl. the reference's prefix and owl_restriction table shapes
    # (outputs_test/tsv_tables/prefix.tsv, owl_restriction.tsv)
    from pyspark.sql import functions as F

    from .operators.closure import prune_for_closure, restriction_axioms
    from .operators.export import export_tables, sorted_text_sink

    prefix = spark.createDataFrame(
        [
            ("rdf", "http://www.w3.org/1999/02/22-rdf-syntax-ns#"),
            ("rdfs", "http://www.w3.org/2000/01/rdf-schema#"),
            ("owl", "http://www.w3.org/2002/07/owl#"),
            ("xsd", "http://www.w3.org/2001/XMLSchema#"),
            ("oio", "http://www.geneontology.org/formats/oboInOwl#"),
            ("obo", "http://purl.obolibrary.org/obo/"),
            ("AAA", "http://purl.obolibrary.org/obo/AAA_"),
            ("BBB", "http://purl.obolibrary.org/obo/BBB_"),
            ("CCC", "http://purl.obolibrary.org/obo/CCC_"),
            ("BFO", "http://purl.obolibrary.org/obo/BFO_"),
            ("RO", "http://purl.obolibrary.org/obo/RO_"),
            ("kg", "https://example.org/kg/"),
        ],
        ["prefix", "base"],
    )
    owl_restriction = restriction_axioms(prune_for_closure(stmts)).select(
        F.col("prop").alias("on_property"),
        F.col("c").alias("filler"),
        F.col("a").alias("id"),
    )
    from .operators.semsql_views import semsql_tables

    tables = semsql_tables(
        spark, stmts, out["edges"], out["alias"], prefix, owl_restriction
    )
    tables.update(
        {
            "edges": out["edges"],
            "nodes": out["nodes"],
            "mentions": out["mentions"],
            "linked_triples": out["linked"],
        }
    )
    export_report = export_tables(tables, args.out)
    with open(export_report_path, "w") as f:
        json.dump(export_report, f)
    # sorted term-list sink (core_onto_unique_external_terms.tsv analog)
    sorted_text_sink(out["nodes"], "id", f"{args.out}/term_list")
    wall = time.time() - t0

    report = _final_report(args, corpus, out, ck, n_edges, n_nodes, export_report, wall)
    print(json.dumps(report))
    if args.owl_dir:
        return 0 if n_edges > 0 else 1
    return 0 if report["precision"] >= 0.95 and report["recall"] >= 0.95 else 1


def _final_report(args, corpus, out, ck, n_edges, n_nodes, export_report, wall) -> dict:
    if args.owl_dir:
        precision = recall = None  # external ontologies: no fixture oracle
    else:
        got = {(r["subject"], r["predicate"], r["object"]) for r in out["edges"].collect()}
        want = corpus.expected_edges
        tp = len(got & want)
        precision = round(tp / len(got), 4) if got else 0.0
        recall = round(tp / len(want), 4) if want else 0.0
    return {
        "pages": args.pages,
        "edges": n_edges,
        "nodes": n_nodes,
        "precision": precision,
        "recall": recall,
        "stages_run": ck.stages_run,
        "stages_skipped": ck.stages_skipped,
        "exported_tables": {r["table"]: r["rows"] for r in export_report},
        "wall_sec": round(wall, 2),
    }


if __name__ == "__main__":
    sys.exit(main())
