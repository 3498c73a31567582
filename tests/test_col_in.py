"""session.col_in: the one-call IN predicate must select exactly the rows
Python membership selects, whatever the values contain."""

import pytest

from rustserini_spark.session import col_in

ADVERSARIAL = [
    "don't",
    "rock’n’roll",
    "a\\b",
    'q"t',
    "back`tick",
    "ünïcödé",
    "x" * 255,
    "it''s",
    "\\'",
    "'",
    "\\",
    "\\n",
    "\\u0041",
    "A",
    "${spark.app.name}",
    "$",
    "{x}",
    "a%b",
    "_",
    "--c",
    "/*c*/",
    "",
]


@pytest.fixture(scope="module")
def values_df(spark):
    # every value as a member candidate, plus what a broken escape would
    # turn some of them into
    extra = ["dont", "its", "ab", "a", "rustserini-spark-tests", "\n"]
    return spark.createDataFrame([(v,) for v in ADVERSARIAL + extra], "term string")


@pytest.mark.parametrize("start", range(0, len(ADVERSARIAL), 3))
def test_col_in_equals_python_membership(values_df, start):
    wanted = ADVERSARIAL[start : start + 3]
    got = sorted(r.term for r in values_df.filter(col_in("term", wanted)).collect())
    expected = sorted(r.term for r in values_df.collect() if r.term in wanted)
    assert got == expected


def test_col_in_all_values_and_empty(values_df):
    assert values_df.filter(col_in("term", ADVERSARIAL)).count() == len(ADVERSARIAL)
    assert values_df.filter(col_in("term", [])).count() == 0
