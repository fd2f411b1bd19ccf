"""End-to-end KG-construction pipeline (the engine's `run-all`).

Spark re-expression of the reference CLI's 7 sequential stages
(cdm_ontologies/cli.py:79-178): each stage is a DataFrame job whose
boundary is a committed table + manifest entry; the subprocess/JVM
boundaries of the reference (ROBOT, relation-graph, rdftab) disappear
into Catalyst plans.

    pages, statements
      M1 extract   : mapInPandas (no shuffle)
      M2 alias     : filter+project on statements (dimension table)
      M3 mentions  : broadcast dict + Aho-Corasick map (no shuffle)
      M4 triples   : JVM regex extraction (no shuffle)
      M6 canon     : large/small-star CC on owl:equivalentClass
      M5 link      : broadcast joins + context window
      M7 entail    : path-doubling closure + restriction compose
      edges        : entailment ∪ canonicalized linked SVO triples
      nodes        : canonical terms + labels + synonym arrays
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text_rules import RULE_VERSION
from ..operators import (
    alias_dict,
    canonicalize,
    closure,
    linking,
    mentions as mentions_op,
    text_extract,
    triples as triples_op,
)
from .checkpoint import CheckpointManager, code_hash
from .stats_cut import cut


def class_node_ids(statements: DataFrame) -> DataFrame:
    return (
        statements.where(
            (F.col("predicate") == "rdf:type")
            & (F.col("object") == "owl:Class")
            & (F.col("subject") != "owl:Nothing")
            & ~F.col("subject").startswith("_:")
        )
        .select(F.col("subject").alias("id"))
        .distinct()
    )


def build_nodes(alias: DataFrame, cmap: DataFrame) -> DataFrame:
    """nodes(id, label, synonyms, source_onto) over canonical ids —
    the engine's analog of the reference's term metadata tables."""
    canon_alias = canonicalize.apply_canonical(
        alias.withColumnRenamed("term_id", "id"), cmap, ["id"]
    )
    labels = (
        canon_alias.where(F.col("kind") == "label")
        .groupBy("id")
        .agg(F.min("alias").alias("label"))
    )
    return (
        canon_alias.groupBy("id")
        .agg(
            F.sort_array(F.collect_set("alias")).alias("synonyms"),
            F.min("source_onto").alias("source_onto"),
        )
        .join(labels, "id", "left")
        .select("id", "label", "synonyms", "source_onto")
    )


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    statements: DataFrame,
    checkpoint_dir: str | None = None,
    corpus_fingerprint: str = "",
) -> dict[str, DataFrame]:
    """Run all stages; returns every intermediate + final table.

    With checkpoint_dir set, each stage goes through the manifest
    (resume semantics); without, everything is computed in-memory.
    """
    ck = CheckpointManager(spark, checkpoint_dir) if checkpoint_dir else None

    def stage(name, deps_fp, fns, compute, partition_by=None, metrics_fn=None):
        if ck is None:
            return compute()
        return ck.stage(
            name, deps_fp, code_hash(RULE_VERSION, *fns), compute, partition_by,
            metrics_fn=metrics_fn,
        )

    fp0 = corpus_fingerprint

    # code_hash covers the WHOLE module(s) a stage executes, not just its
    # top-level entry point: an edit to any helper the stage closure
    # calls must invalidate the checkpoint (resume contract: re-run iff
    # code or inputs changed)
    extracted = stage(
        "m1_extracted", fp0, [text_extract],
        lambda: text_extract.extract_text_stage(pages),
    )
    alias = stage(
        "m2_alias", fp0, [alias_dict],
        lambda: alias_dict.with_candidate_counts(alias_dict.build_alias_dict(statements)),
    )
    fp1 = ck.fingerprint_of("m1_extracted", "m2_alias") if ck else fp0
    if ck is None:
        # no per-stage checkpoints -> fuse extract+mentions+SVO into one
        # python pass (operators/doc_pipeline.py): the heavy text column
        # crosses the JVM<->python boundary once instead of three times
        from ..operators import doc_pipeline

        fused = doc_pipeline.fused_doc_pass(pages, alias).persist()
        ments = doc_pipeline.mentions_view(fused)
        raw = doc_pipeline.raw_triples_view(fused)
    else:
        from ..functions import aho

        ments = stage(
            "m3_mentions", fp1, [mentions_op, aho],
            lambda: mentions_op.detect_mentions(extracted, alias),
        )
        raw = stage(
            "m4_raw_triples", fp1, [triples_op],
            lambda: triples_op.extract_triples(extracted),
        )
    cmap = stage(
        "m6_canonical", fp0, [canonicalize],
        lambda: canonicalize.canonical_map(statements),
    )
    fp2 = ck.fingerprint_of("m3_mentions", "m4_raw_triples", "m6_canonical") if ck else fp0
    linked = stage(
        "m5_linked", fp2, [linking, canonicalize],
        lambda: canonicalize.apply_canonical(
            linking.link_triples(raw, alias, ments), cmap, ["subj_id", "obj_id"]
        ),
    )

    def compute_edges() -> DataFrame:
        # cut once: entail()'s non-EL drop, its interning and its
        # driver collect each read the canonicalized statements, and a
        # lazy frame would re-run the canonical-map joins for every one
        canon_stmts = cut(canonicalize.apply_canonical(
            statements, cmap, ["subject", "object"]
        ))
        class_nodes = class_node_ids(canon_stmts)
        onto_edges = closure.entail(canon_stmts, class_nodes)
        svo_edges = linked.select(
            F.col("subj_id").alias("subject"),
            F.col("pred").alias("predicate"),
            F.col("obj_id").alias("object"),
        )
        return onto_edges.unionByName(svo_edges).dropDuplicates()

    fp3 = ck.fingerprint_of("m5_linked", "m6_canonical") if ck else fp0
    edges = stage(
        "m7_edges", fp3,
        [closure, canonicalize, class_node_ids],
        compute_edges,
        # entailment phase walls land in the manifest: per-phase
        # timings for the operator without a rerun
        metrics_fn=closure.phase_walls,
    )
    nodes = stage(
        "m7_nodes", fp3, [build_nodes, canonicalize],
        lambda: build_nodes(alias, cmap),
    )

    return dict(
        extracted=extracted,
        alias=alias,
        mentions=ments,
        raw_triples=raw,
        canonical=cmap,
        linked=linked,
        edges=edges,
        nodes=nodes,
        checkpoints=ck,
    )
