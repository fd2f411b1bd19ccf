import pytest

from kbase_cdm_ontologies_spark.operators.closure import entail
from kbase_cdm_ontologies_spark.session import get_spark
from kbase_cdm_ontologies_spark.sources.corpus import (
    CorpusSpec,
    corpus_to_spark,
    generate_corpus,
)


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.driver.memory": "4g"},
    )
    yield s


@pytest.fixture(scope="session")
def corpus():
    return generate_corpus(CorpusSpec(seed=42, n_pages=400))


@pytest.fixture(scope="session")
def corpus_dfs(spark, corpus):
    pages, stmts, alias = corpus_to_spark(spark, corpus)
    return dict(pages=pages.cache(), statements=stmts.cache(), alias=alias.cache())


# entail()'s regimes, by spark.graft.deltaEntail.driverThreshold: the
# default runs the driver regime at fixture size, 0 the hybrid path
DRIVER_KEY = "spark.graft.deltaEntail.driverThreshold"


def entail_regimes(stmts, class_nodes):
    """entail()'s edge set in the driver regime and on the hybrid path:
    both must give one answer, which is returned."""

    def edges():
        return {
            (r["subject"], r["predicate"], r["object"])
            for r in entail(stmts, class_nodes).collect()
        }

    spark = stmts.sparkSession
    got = edges()
    spark.conf.set(DRIVER_KEY, "0")
    try:
        hybrid = edges()
    finally:
        spark.conf.unset(DRIVER_KEY)
    assert got == hybrid, (sorted(got - hybrid)[:6], sorted(hybrid - got)[:6])
    return got
