"""The stored-hash canonicalization agrees with tests/oracle_utils.canon."""

import math

import pandas as pd

import oracle
from tests import oracle_utils


def test_hash_ignores_row_and_column_order():
    a = pd.DataFrame({"k": [1, 2, 3], "v": ["x", None, "z"]})
    b = pd.DataFrame({"v": ["z", "x", None], "k": [3, 1, 2]})
    assert oracle.result_hash(a) == oracle.result_hash(b)


def test_hash_equates_what_canon_equates():
    # DuckDB returns SUM(int) as float and NaN for NULL doubles; Spark
    # returns int64 and None.  canon() treats them as equal.
    spark_like = pd.DataFrame({"n": pd.Series([5, 7], dtype="int64"), "x": [1.5, None],
                               "arr": [[1, 2], [3]]})
    duck_like = pd.DataFrame({"n": [5.0, 7.0], "x": [1.5, math.nan], "arr": [(1, 2), (3,)]})
    assert oracle_utils.canon(spark_like) == oracle_utils.canon(duck_like)
    assert oracle.result_hash(spark_like) == oracle.result_hash(duck_like)


def test_hash_sees_a_changed_value():
    a = pd.DataFrame({"k": [1, 2], "v": [0.1, 0.2]})
    b = pd.DataFrame({"k": [1, 2], "v": [0.1, 0.2000001]})
    assert oracle.result_hash(a) != oracle.result_hash(b)


def test_expected_hashes_cover_every_op():
    from workloads import BATCH_QUERIES, STREAM_JOBS

    assert set(oracle.load_expected()) == set(BATCH_QUERIES + STREAM_JOBS)
