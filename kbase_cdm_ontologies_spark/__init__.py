"""kbase_cdm_ontologies_spark — a from-scratch PySpark-native
knowledge-graph construction engine with the query/data-processing
capabilities of kbaseincubator/KBase_CDM_Ontologies.

The reference (/root/reference) is a 7-stage batch ETL pipeline that
merges OWL ontologies via ROBOT / relation-graph / semsql subprocesses
(see SURVEY.md). This engine re-expresses those semantics Spark-first:

    pages (Iceberg/parquet: url, warc_ts, html, text, lang)
      -> M1 text extraction      (mapInPandas, byte-identical per url)
      -> M2 alias dictionary     (from ontology statements; broadcast)
      -> M3 mention detection    (Aho-Corasick in mapInPandas)
      -> M4 triple extraction    (SVO patterns, vectorized)
      -> M5 entity linking       (broadcast alias join + page-context window)
      -> M6 canonicalization     (large-star/small-star connected comp.)
      -> M7 closure + materialize (edges/nodes tables, prefix CURIEs)
      -> M8 checkpoint manifest  (per-partition lineage + row counts)

No per-row Python UDFs; all document compute is Arrow-vectorized.
"""

__version__ = "0.1.0"
