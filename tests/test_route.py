"""plans/route.py: the capped collect every driver-vs-distributed choice
goes through, and the Spark-job budget of each routed operator's
driver path."""

import pytest
from pyspark.sql import DataFrame

from kbase_cdm_ontologies_spark.operators import canonicalize, closure
from kbase_cdm_ontologies_spark.plans import route


def _jobs(spark, group, run):
    """run() inside a Spark job group; returns (its result, job count)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # job events reach the status tracker through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _spo(spark, rows):
    return spark.createDataFrame(rows, "s string, p string, o string")


def test_under_cap_returns_rows_with_nulls(spark):
    rows = [("a", "p", "b"), ("c", "p", None), (None, "q", "d")]
    got = route.capped_collect([_spo(spark, rows)], 3)
    assert sorted(got[0], key=str) == sorted(rows, key=str)


def test_cap_plus_one_returns_none(spark):
    rows = [(f"n{i}", "p", f"n{i + 1}") for i in range(4)]
    assert route.capped_collect([_spo(spark, rows)], 3) is None
    assert len(route.capped_collect([_spo(spark, rows)], 4)[0]) == 4


def test_each_frame_is_capped_on_its_own(spark):
    """Two frames under one cap: each must fit, whatever the other holds;
    frames of different widths and types come back apart."""
    three = _spo(spark, [(f"n{i}", "p", f"n{i + 1}") for i in range(3)])
    ids = spark.createDataFrame([(i,) for i in range(3)], "id long")
    empty = ids.limit(0)
    got = route.capped_collect([three, ids], 3)
    assert len(got[0]) == 3 and sorted(got[1]) == [(0,), (1,), (2,)]
    assert route.capped_collect([three, empty], 2) is None
    assert route.capped_collect([empty, three], 2) is None
    assert route.capped_collect([three, empty], 3) == [got[0], []]


def test_zero_cap_runs_no_job(spark):
    df = _spo(spark, [("a", "p", "b")])
    got, jobs = _jobs(spark, "route_zero_cap", lambda: route.capped_collect([df], 0))
    assert got is None and jobs == 0


def test_byte_budget_refuses_before_the_collect(spark, monkeypatch):
    """Over the byte budget no row reaches the driver: the frame is never
    collected, and the guard callback does not run."""
    df = _spo(spark, [("aaaa", "p", "bbbb"), ("cc", "p", None)])  # 12 chars

    def no_collect(self):
        raise AssertionError("rows collected over the byte budget")

    guarded = []
    monkeypatch.setattr(DataFrame, "toArrow", no_collect)
    assert route.capped_collect([df], 10, 11, lambda: guarded.append(1)) is None
    assert not guarded
    monkeypatch.undo()
    got = route.capped_collect([df], 10, 12, lambda: guarded.append(1))
    assert len(got[0]) == 2 and guarded == [1]
    assert route.capped_collect([df], 1, 1 << 20) is None  # rows still capped


def test_threshold_reads_conf_and_zero(spark):
    key, default = route.TRANSITIVE_CLOSURE
    assert route.threshold(spark, route.TRANSITIVE_CLOSURE) == default
    assert route.threshold(spark, route.TRANSITIVE_CLOSURE, 7) == 7
    spark.conf.set(key, "0")
    try:
        assert route.threshold(spark, route.TRANSITIVE_CLOSURE) == 0
        assert route.forced(spark, None)
    finally:
        spark.conf.unset(key)
    assert not route.forced(spark, None)
    assert route.forced(spark, 0)


_CHAIN = [(f"n{i}", f"n{i + 1}") for i in range(50)]


def _operators(spark):
    """name -> (call(local_threshold), jobs its driver path may run on
    local[4] over a 50-edge chain): the capped collect (two jobs where
    a dedup shuffle sits under its limit), and for property_closure its
    eager base checkpoint and the rows+bytes aggregate."""
    e2 = spark.createDataFrame(_CHAIN, ["s", "o"])
    ek = spark.createDataFrame([("p", s, o) for s, o in _CHAIN], ["p", "s", "o"])
    es = spark.createDataFrame([(s, "p", o) for s, o in _CHAIN], ["s", "p", "o"])
    mem = spark.createDataFrame([("_:u", "n3"), ("_:u", "n7")], ["bn", "member"])
    pairs = spark.createDataFrame(_CHAIN, ["src", "dst"])
    return {
        "transitive_closure": (
            lambda t: closure.transitive_closure(e2, local_threshold=t), 2,
        ),
        "keyed_transitive_closure": (
            lambda t: closure.keyed_transitive_closure(ek, local_threshold=t), 2,
        ),
        "union_eliminated_subclass": (
            lambda t: closure.union_eliminated_subclass(e2, mem, local_threshold=t), 1,
        ),
        "property_closure": (
            lambda t: closure.property_closure(
                es, {"p": {"p", "q"}, "q": {"q"}}, {"p"}, [], local_threshold=t
            ),
            5,
        ),
        "connected_components": (
            lambda t: canonicalize.connected_components(pairs, local_threshold=t), 2,
        ),
    }


@pytest.mark.parametrize("name", [
    "transitive_closure", "keyed_transitive_closure", "union_eliminated_subclass",
    "property_closure", "connected_components",
])
def test_routed_operator_job_budget(spark, monkeypatch, name):
    """The driver path of each routed operator is one capped collect and
    the jobs its own frames need; a forced call (local_threshold=0) runs
    no probe at all and gives the same answer. The forced call sets every
    localThreshold key to 0 too, so no operator it calls (the union
    loop closes its edges with transitive_closure) takes a driver path."""
    call, budget = _operators(spark)[name]
    call(1000)  # first call: planning caches, Python workers
    local, jobs = _jobs(spark, f"route_budget_{name}", lambda: call(1000))
    assert 0 < jobs <= budget, (name, jobs)

    def no_probe(self):
        raise AssertionError(f"{name}: forced call ran a probe collect")

    monkeypatch.setattr(DataFrame, "toArrow", no_probe)
    keys = [route.TRANSITIVE_CLOSURE[0], route.UNION_ELIMINATION[0],
            route.PROPERTY_CLOSURE[0], route.CONNECTED_COMPONENTS[0]]
    for key in keys:
        spark.conf.set(key, "0")
    try:
        dist = call(0)
    finally:
        for key in keys:
            spark.conf.unset(key)
    monkeypatch.undo()
    local, dist = (o if isinstance(o, tuple) else (o,) for o in (local, dist))
    for a, b in zip(local, dist):
        assert set(a.collect()) == set(b.collect()), name
