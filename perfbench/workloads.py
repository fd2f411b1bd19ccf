"""The benchmark workloads: input generators, operations and output checks.

Each workload class is built with a SparkSession, a seed, a work directory and a
Tracer. ``setup()`` generates the inputs from the seed and writes them as
parquet (and warms what it warms), ``OPS`` names the operations of one pass and
how often each runs in it, ``run(op)`` runs one operation and materializes its
result, and ``check()`` verifies the last pass's outputs outside the clock and
returns the list of failures.

Sizes are fixed per workload; only the content depends on the seed, so two seeds
do the same amount of work.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from kbase_cdm_ontologies_spark.operators import (
    analysis,
    closure,
    delta_entail,
    doc_pipeline,
    export,
)
from kbase_cdm_ontologies_spark.plans import pipeline
from kbase_cdm_ontologies_spark.queries import oracle_sql, queries
from kbase_cdm_ontologies_spark.sources.corpus import (
    CorpusSpec,
    corpus_to_spark,
    generate_corpus,
)

SIZES = {
    "kg_build": {
        "pages": 120, "min_sents": 30, "max_sents": 60,
        # taxonomy federation for the entailment operations: base
        # 300 lineages x 4 taxa (about 3.7k statements), delta 6 more
        # lineages (about 2% of the base statements)
        "chains": 300, "chain_len": 4, "anatomy": 120, "genera": 20,
        "anat_chain": 4, "delta_chains": 6,
    },
    "dedup_corpus": {
        "docs": 2000, "vectors": 800, "dup_share": 0.05,
    },
}

# every routing threshold of the entailment, set to 0 to force the
# distributed fixpoints
LOCAL_THRESHOLDS = tuple(
    f"spark.graft.{k}.localThreshold" for k in (
        "connectedComponents", "transitiveClosure", "keyedTransitiveClosure",
        "unionElimination", "propertyClosure",
    )
)

STAGES = (
    "m1_extracted", "m2_alias", "m3_mentions", "m4_raw_triples",
    "m6_canonical", "m5_linked", "m7_edges", "m7_nodes",
)


def materialize(df) -> None:
    """Noop sink: computes every column, writes nothing."""
    df.write.format("noop").mode("overwrite").save()


def content_hash(edges) -> tuple[int, int]:
    """(row count, order-free xxhash64 sum) of an edges frame."""
    r = edges.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64("subject", "predicate", "object").cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return int(r["n"]), int(r["h"] or 0)


def _stage_parquet(df, path: str):
    df.write.mode("overwrite").parquet(path)
    return df.sparkSession.read.parquet(path)


class Workload:
    # (operation, runs per pass): sub-second operations run several times so
    # that their median is steady
    OPS: tuple[tuple[str, int], ...] = ()
    # the operations summed into the end-to-end metrics op1_s, op2_s, op3_s
    SLOTS: tuple[tuple[str, ...], ...] = ()
    # prefixes of the per-layer metrics this workload's operations produce;
    # a traced run that misses one of them is not correct
    LAYERS: tuple[str, ...] = ()

    def __init__(self, spark, seed: int, work: str, tracer):
        self.spark = spark
        self.seed = seed
        self.work = work
        self.tracer = tracer
        self.size = SIZES[self.name]
        self.counts: dict[str, float] = {}
        # closure.phase_walls() after each operation that runs an entail
        self.phases: dict[str, dict[str, float]] = {}

    def run(self, op: str) -> None:
        getattr(self, "op_" + op)()


# ---------------------------------------------------------------------------
# kg_build: run-all after corpus generation, resume, fused doc pass, and an
# ontology update (distributed full entailment and delta entailment)
# ---------------------------------------------------------------------------

class KgBuild(Workload):
    name = "kg_build"
    OPS = (
        ("build", 1), ("resume", 5), ("doc_pass", 5),
        ("entail_dist", 1), ("entail_delta", 1),
    )
    SLOTS = (("build",), ("entail_dist", "entail_delta"), ("resume", "doc_pass"))
    LAYERS = (
        "pipeline.", "tables.", "export.", "analysis.", "resume.", "checkpoint.",
        "closure.", "doc_pipeline.", "kg.", "entail.", "ops.",
    )

    def setup(self) -> None:
        # no warm-up build: a build is mostly per-job latency and a second
        # one does not fit the run budget, so the measured build is the
        # session's first (see README)
        s = self.size
        self.corpus = generate_corpus(CorpusSpec(
            seed=self.seed, n_pages=s["pages"],
            min_sents=s["min_sents"], max_sents=s["max_sents"],
        ))
        pages, stmts, _ = corpus_to_spark(self.spark, self.corpus)
        self.pages = _stage_parquet(pages, os.path.join(self.work, "in", "pages"))
        self.stmts = _stage_parquet(stmts, os.path.join(self.work, "in", "statements"))
        self.fingerprint = f"seed={self.seed};pages={s['pages']}"
        self.n_build = 0

        # the ontology update: a saturated base (its EntailState, captured
        # by a default-routing entail) and a delta of new lineages
        shape = (s["chain_len"], s["anatomy"], s["genera"], s["anat_chain"])
        tax = os.path.join(self.work, "in", "taxonomy")
        write_taxonomy(os.path.join(tax, "base"), self.seed, s["chains"], *shape)
        write_taxonomy(
            os.path.join(tax, "delta"), self.seed, s["delta_chains"], *shape,
            chain0=s["chains"], with_schema=False,
        )
        self.base_st, self.base_cn, self.delta_st, self.delta_cn = (
            self.spark.read.parquet(os.path.join(tax, part, name + ".parquet"))
            for part in ("base", "delta") for name in ("statements", "class_nodes")
        )
        _, self.state = delta_entail.entail_with_state(self.base_st, self.base_cn)

    def op_build(self) -> None:
        """What `run-all` does after generating its corpus, into a fresh dir,
        except the TSV/parquet export of every table (see README)."""
        self.n_build += 1
        self.out_dir = os.path.join(self.work, "kg", f"build{self.n_build}")
        out = pipeline.run_pipeline(
            self.spark, self.pages, self.stmts,
            checkpoint_dir=self.out_dir, corpus_fingerprint=self.fingerprint,
        )
        out["edges"].count()
        out["nodes"].count()
        with self.tracer.span("analysis"):
            analysis.analyze_ontologies(self.stmts).coalesce(1).write.mode(
                "overwrite"
            ).json(os.path.join(self.out_dir, "analysis_json"))
        export.sorted_text_sink(
            out["nodes"], "id", os.path.join(self.out_dir, "term_list")
        )
        self.build_out = out
        self.phases["build"] = closure.phase_walls()

    def op_resume(self) -> None:
        out = pipeline.run_pipeline(
            self.spark, self.pages, self.stmts,
            checkpoint_dir=self.out_dir, corpus_fingerprint=self.fingerprint,
        )
        out["edges"].count()
        out["nodes"].count()
        self.resume_out = out

    def op_doc_pass(self) -> None:
        # the alias dictionary is the build's M2 table, as in
        # run_pipeline's fused (uncheckpointed) path
        rows = (
            doc_pipeline.fused_doc_pass(self.pages, self.build_out["alias"])
            .groupBy("kind").count().collect()
        )
        self.doc_counts = {r["kind"]: int(r["count"]) for r in rows}

    def op_entail_dist(self) -> None:
        """Full entailment of base + delta with every local threshold at 0,
        so the distributed semi-naive, linear and generic fixpoints run."""
        conf = self.spark.conf
        for k in LOCAL_THRESHOLDS:
            conf.set(k, "0")
        try:
            edges = closure.entail(
                self.base_st.unionByName(self.delta_st),
                self.base_cn.unionByName(self.delta_cn),
                property_local_threshold=0,
            )
            # one aggregate job: the count that materializes the result,
            # with the content hash the check compares
            self.dist_hash = content_hash(edges)
        finally:
            for k in LOCAL_THRESHOLDS:
                conf.unset(k)
        self.phases["entail_dist"] = closure.phase_walls()

    def op_entail_delta(self) -> None:
        edges, _ = delta_entail.entail_delta(self.state, self.delta_st, self.delta_cn)
        self.delta_hash = content_hash(edges)

    def check(self) -> list[str]:
        fails = []
        got = {
            (r["subject"], r["predicate"], r["object"])
            for r in self.build_out["edges"].collect()
        }
        want = self.corpus.expected_edges
        tp = len(got & want)
        if not got or tp != len(got) or tp != len(want):
            fails.append(
                f"build: triple P/R not 1.0 (tp={tp} got={len(got)} want={len(want)})"
            )
        ck = self.resume_out["checkpoints"]
        if ck.stages_run or sorted(ck.stages_skipped) != sorted(STAGES):
            fails.append(f"resume: ran {ck.stages_run}, skipped {ck.stages_skipped}")
        hb = content_hash(self.build_out["edges"])
        hr = content_hash(self.resume_out["edges"])
        if hb != hr:
            fails.append(f"resume: edges (count, xxhash64 sum) {hr} != build {hb}")
        n_ment = self.build_out["mentions"].count()
        n_raw = self.build_out["raw_triples"].count()
        if (self.doc_counts.get("mention"), self.doc_counts.get("svo")) != (n_ment, n_raw):
            fails.append(
                f"doc_pass: {self.doc_counts} != staged mentions {n_ment} / svo {n_raw}"
            )
        terms = _text_lines(os.path.join(self.out_dir, "term_list"))
        ids = sorted(r["id"] for r in self.build_out["nodes"].select("id").distinct().collect())
        if terms != ids:
            fails.append(f"export: term list ({len(terms)} lines) != sorted node ids ({len(ids)})")
        # entail_dist recomputes base + delta in full on the distributed
        # paths; entail_delta extends the saved base state
        if self.delta_hash != self.dist_hash or self.dist_hash[0] == 0:
            fails.append(
                f"entail: delta (count, xxhash64 sum) {self.delta_hash} "
                f"!= distributed full entail {self.dist_hash}"
            )
        self.counts["doc_pipeline.mentions"] = self.doc_counts.get("mention", 0)
        self.counts["doc_pipeline.svo"] = self.doc_counts.get("svo", 0)
        self.counts["kg.edges"] = hb[0]
        self.counts["export.rows"] = len(terms)
        self.counts["entail.edges"] = self.dist_hash[0]
        return fails


def _text_lines(path: str) -> list[str]:
    """Lines of a Spark text sink's part files, in part order."""
    out: list[str] = []
    for name in sorted(os.listdir(path)):
        if name.startswith("part-"):
            with open(os.path.join(path, name)) as f:
                out.extend(f.read().splitlines())
    return out


def write_taxonomy(
    path: str, seed: int, n_chains: int, chain_len: int, n_anat: int,
    n_genera: int, anat_chain: int, chain0: int = 0, with_schema: bool = True,
) -> None:
    """Taxonomy-federation statements and class nodes as parquet
    (``statements.parquet``: subject, predicate, object; ``class_nodes.parquet``:
    id). Lineage chains [chain0, chain0+n_chains) of subclass edges, each
    rooted under a genus, and a located_in restriction from every lineage foot
    into an anatomy module of part_of chains, with a transitive property, a
    sub-property and a property chain. The seed picks each chain's genus and
    anatomy target, so sizes are fixed and only the wiring changes. chain0 > 0
    with with_schema=False makes a delta: new lineages grafted onto the base's
    genera and anatomy (the add-an-ontology shape, bnode-disjoint from the
    base)."""
    def tx(i: int) -> str:
        return f"TX:{i:08d}"

    def an(i: int) -> str:
        return f"AN:{i:06d}"

    rng = np.random.default_rng([seed, chain0])
    genus = rng.integers(0, n_genera, n_chains)
    target = rng.integers(0, n_anat // anat_chain, n_chains) * anat_chain + anat_chain - 1
    rows, nodes = [], []
    for c in range(n_chains):
        first = (chain0 + c) * chain_len
        for i in range(first, first + chain_len):
            parent = tx(i - 1) if i > first else f"GE:{genus[c]:04d}"
            rows += [(tx(i), "rdfs:subClassOf", parent), (tx(i), "rdf:type", "owl:Class")]
            nodes.append(tx(i))
        foot, bn = tx(first + chain_len - 1), f"_:li{first}"
        rows += [
            (foot, "rdfs:subClassOf", bn),
            (bn, "owl:onProperty", "RO:loc"),
            (bn, "owl:someValuesFrom", an(int(target[c]))),
        ]
    if with_schema:
        for g in range(n_genera):
            rows.append((f"GE:{g:04d}", "rdf:type", "owl:Class"))
            nodes.append(f"GE:{g:04d}")
        for i in range(n_anat):
            rows.append((an(i), "rdf:type", "owl:Class"))
            nodes.append(an(i))
            if i % anat_chain:
                bn = f"_:pr{i}"
                rows += [
                    (an(i), "rdfs:subClassOf", bn),
                    (bn, "owl:onProperty", "RO:part"),
                    (bn, "owl:someValuesFrom", an(i - 1)),
                ]
        rows += [
            ("RO:part", "rdf:type", "owl:TransitiveProperty"),
            ("RO:part", "rdfs:subPropertyOf", "RO:overlaps"),
            ("RO:loc", "rdf:type", "owl:TransitiveProperty"),
            ("RO:loc", "owl:propertyChainAxiom", "_:cl1"),
            ("_:cl1", "rdf:first", "RO:loc"),
            ("_:cl1", "rdf:rest", "_:cl2"),
            ("_:cl2", "rdf:first", "RO:part"),
            ("_:cl2", "rdf:rest", "rdf:nil"),
        ]
    os.makedirs(path, exist_ok=True)
    s, p, o = zip(*rows)
    pq.write_table(
        pa.table({"subject": s, "predicate": p, "object": o}),
        os.path.join(path, "statements.parquet"),
    )
    pq.write_table(pa.table({"id": nodes}), os.path.join(path, "class_nodes.parquet"))


# ---------------------------------------------------------------------------
# dedup_corpus: the dedup and text query families over seeded documents
# ---------------------------------------------------------------------------

# the sf0.1 documents vocabulary: 30 words, plus the "dup" marker that the
# near-duplicate copies append
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = (["en", "zh", "es", "fr", "de"], [0.41, 0.15, 0.15, 0.15, 0.14])


def write_documents(sf_dir: str, seed: int, n_docs: int, n_vectors: int, dup_share: float) -> None:
    """documents and embeddings tables with the sf0.1 schema and shape: 10-99
    tokens a document drawn from VOCAB, ``dup_share`` of the documents a copy
    of another one plus " dup", and unit-norm 64-d float embeddings."""
    rng = np.random.default_rng(seed)
    texts = [
        " ".join(rng.choice(VOCAB, size=int(rng.integers(10, 100))))
        for _ in range(n_docs)
    ]
    for i in rng.choice(n_docs, size=int(n_docs * dup_share), replace=False):
        texts[i] = texts[int(rng.integers(0, n_docs))] + " dup"
    os.makedirs(sf_dir, exist_ok=True)
    pq.write_table(
        pa.table({
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(LANGS[0], size=n_docs, p=LANGS[1]),
            "source": [f"src{i % 5}" for i in range(n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }),
        os.path.join(sf_dir, "documents.parquet"),
    )
    x = rng.standard_normal((n_vectors, 64)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    pq.write_table(
        pa.table({
            "vec_id": np.arange(n_vectors, dtype=np.int64),
            "embedding": pa.array(list(x), type=pa.list_(pa.float32())),
            "label": rng.integers(0, 10, n_vectors).astype(np.int32),
        }),
        os.path.join(sf_dir, "embeddings.parquet"),
    )


DEDUP_QUERIES = (
    "dedup_jaccard", "dedup_lsh_banded", "dedup_simhash",
    "dedup_embedding_lsh_bucketed", "dedup_exact",
)
TEXT_QUERIES = ("text_quality", "text_token_stats", "text_chunking")


def _canonical(df):
    """Rows of a result in one order with sorted column names; floats rounded
    to 9 decimals (the queries' doubles are ratios rounded to 4-6 dp)."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype.kind == "f":
            df[c] = df[c].round(9) + 0.0
        elif df[c].dtype.kind in "iu":
            df[c] = df[c].astype("int64")
    return df.sort_values(list(df.columns)).reset_index(drop=True)


class DedupCorpus(Workload):
    name = "dedup_corpus"
    # the call after the warm-up is still 15-25% slower than later ones, so
    # each query runs more than once and reports its median; the cheap text
    # queries run first and dedup_jaccard, the slowest to warm, last
    OPS = tuple((q, 3) for q in TEXT_QUERIES) + tuple((q, 2) for q in reversed(DEDUP_QUERIES))
    SLOTS = (DEDUP_QUERIES, TEXT_QUERIES, ("dedup_jaccard",))
    LAYERS = ("queries.", "dedup.")

    def setup(self) -> None:
        s = self.size
        self.sf_dir = os.path.join(self.work, "sf")
        write_documents(self.sf_dir, self.seed, s["docs"], s["vectors"], s["dup_share"])
        self.queries = queries()
        # warm-up pass over the same tables: the first call of each query
        # pays python-worker start-up and JIT (about 25 s a pass on 4 cores,
        # as much on a 300-document slice). Its rows are what check()
        # compares with the oracles, so the measured pass is not evaluated
        # a second time. The queries are latency-bound, so each runs in a
        # thread of its own.
        def collect(op: str):
            return op, self.queries[op](self.spark, self.sf_dir).toPandas()

        with ThreadPoolExecutor(len(self.OPS)) as pool:
            self.rows = dict(pool.map(collect, [op for op, _ in self.OPS]))

    def run(self, op: str) -> None:
        with self.tracer.span("queries." + op):
            materialize(self.queries[op](self.spark, self.sf_dir))

    def check(self) -> list[str]:
        import duckdb

        con = duckdb.connect()
        try:
            for t in ("documents", "embeddings"):
                path = os.path.join(self.sf_dir, f"{t}.parquet")
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
            fails = []
            sql = oracle_sql()
            for op, _ in self.OPS:
                got = _canonical(self.rows[op])
                want = _canonical(con.sql(sql[op]).df())
                if list(got.columns) != list(want.columns) or not got.equals(want):
                    fails.append(f"{op}: {len(got)} rows differ from its oracle ({len(want)} rows)")
                self.counts[f"rows.{op}"] = len(got)
        finally:
            con.close()
        cand = self.counts["rows.dedup_lsh_banded"]
        verified = self.counts["rows.dedup_jaccard"]
        self.counts["dedup.candidate_pairs"] = cand
        self.counts["dedup.verified_pairs"] = verified
        self.counts["dedup.verify_yield"] = verified / cand if cand else 0.0
        return fails


WORKLOADS = {w.name: w for w in (KgBuild, DedupCorpus)}
