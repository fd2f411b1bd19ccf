"""As-of join operator vs a plain-Python oracle (backward/forward)."""

from datetime import datetime

from kbase_cdm_ontologies_spark.operators.asof import asof_join


def _ts(h, m=0):
    return datetime(2024, 1, 1, h, m)


LEFT = [  # (id, key, ts)
    (1, "a", _ts(10)),
    (2, "a", _ts(12)),
    (3, "b", _ts(9)),
    (4, "b", _ts(23)),
    (5, "c", _ts(5)),  # no right rows for c
]
RIGHT = [  # (key, rts, px)
    ("a", _ts(9), 1.0),
    ("a", _ts(11), 2.0),
    ("a", _ts(13), 3.0),
    ("b", _ts(9), 4.0),   # exact tie with left id=3
    ("b", _ts(22, 30), 5.0),
]


def _dfs(spark):
    l = spark.createDataFrame(LEFT, "id long, key string, ts timestamp")
    r = spark.createDataFrame(RIGHT, "key string, rts timestamp, px double")
    return l, r


def test_asof_backward(spark):
    l, r = _dfs(spark)
    got = {row["id"]: row["px"] for row in asof_join(l, r, "key", "ts", "rts").collect()}
    assert got == {1: 1.0, 2: 2.0, 3: 4.0, 4: 5.0, 5: None}


def test_asof_forward(spark):
    l, r = _dfs(spark)
    got = {
        row["id"]: row["px"]
        for row in asof_join(l, r, "key", "ts", "rts", direction="forward").collect()
    }
    assert got == {1: 2.0, 2: 3.0, 3: 4.0, 4: None, 5: None}


def test_asof_preserves_duplicate_left_rows(spark):
    """pandas merge_asof / DuckDB ASOF preserve left cardinality even
    for fully identical left rows — so must asof_join."""
    l = spark.createDataFrame(
        [("a", datetime(2024, 1, 1, 12)), ("a", datetime(2024, 1, 1, 12))],
        ["key", "ts"],
    )
    r = spark.createDataFrame(
        [("a", datetime(2024, 1, 1, 10), 1.0)], ["key", "rts", "px"]
    )
    assert asof_join(l, r, "key", "ts", "rts").count() == 2
