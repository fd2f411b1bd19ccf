"""Reference parity inside pytest: run the engine's entail() on a
self-contained subsample of the reference's OWN merged statements
(the BFO + RO stanzas — the upper ontology plus the relation ontology
that carries the property schema: subPropertyOf, transitivity, chains)
and score it against the reference's golden entailed_edge.

The full-corpus run lives in scripts/reference_parity.py (P 0.9998 /
R 0.9999, wall time recorded in BENCH.md §3c); this test keeps a fast
always-on gate in the suite. Soundness of the subsample comparison:
entailments of a statement SUBSET are a subset of the full corpus's
entailments, so precision vs the full golden table is exact, and
recall is measured against the golden edges whose subject AND object
are BFO/RO terms (derivations for those stay inside the subsample).

Reference golden: outputs_test/parquet_files/entailed_edge.parquet.
"""

import os

import pytest
from conftest import entail_regimes
from pyspark.sql import functions as F

ST = "/root/reference/outputs_test/parquet_files/statements.parquet"
EE = "/root/reference/outputs_test/parquet_files/entailed_edge.parquet"


@pytest.mark.skipif(not os.path.exists(ST), reason="reference data not mounted")
def test_entail_matches_reference_golden_on_bfo_ro(spark):
    st = spark.read.parquet(ST).withColumn("graph", F.col("graph").cast("string"))
    keep = F.col("stanza").startswith("BFO:") | F.col("stanza").startswith("RO:")
    # equivalence axioms are dropped from relation-graph's input by the
    # reference's own robot remove step (see scripts/reference_parity.py)
    stmts = st.where(keep & (F.col("predicate") != "owl:equivalentClass"))
    class_nodes = (
        stmts.where(
            (F.col("predicate") == "rdf:type")
            & (F.col("object") == "owl:Class")
            & ~F.col("subject").startswith("_:")
        )
        .select(F.col("subject").alias("id"))
        .distinct()
    )
    got = entail_regimes(stmts, class_nodes)
    gold = {
        (r["subject"], r["predicate"], r["object"])
        for r in spark.read.parquet(EE).collect()
    }
    gold_preds = {p for _, p, _ in gold}
    got_f = {t for t in got if t[1] in gold_preds}
    assert len(got_f) >= 150  # non-trivial entailment volume
    false_pos = got_f - gold
    assert not false_pos, sorted(false_pos)[:5]  # precision 1.0
    restricted = {
        t
        for t in gold
        if t[0].split(":")[0] in ("BFO", "RO") and t[2].split(":")[0] in ("BFO", "RO")
    }
    missed = restricted - got_f
    assert not missed, sorted(missed)[:5]  # recall 1.0 on the closed slice
