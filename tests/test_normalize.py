"""Golden tests for N1/N2/N3 — pinned to the reference's *verified*
behavior (SURVEY §2.3: the code wins over its stale tests; e.g. N1
normalizes structural keys like ``"find"`` too)."""

from __future__ import annotations

import re

import pytest

from sressentials_spark.functions import (
    normalize_mongo_command,
    normalize_mysql_query,
    query_time_ms,
)
from sressentials_spark.functions.normalize import MYSQL_NORMALIZE_PATTERN

N1_CASES = [
    (
        '{"find":"mycollection","filter":{"name":"test"},"sort":{"age":-1},"limit":10}',
        '{"find":<value>,"filter":{"name":<value>},"sort":{"age":<value>},"limit":<value>}',
    ),
    (
        '{"find": "c", "filter": {"a": 1, "b": "x"}}',
        '{"find":<value>, "filter": {"a":<value>, "b":<value>}}',
    ),
    ("{}", "{}"),
    ('{"n": 1.5, "b": true, "x": null}', '{"n":<value>, "b":<value>, "x":<value>}'),
    # array values untouched, object values untouched
    ('{"pipeline":[{"$match":{"s":"A"}}],"cursor":{}}', '{"pipeline":[{"$match":{"s":<value>}}],"cursor":{}}'),
]

N2_CASES = [
    ("SELECT * FROM table1 WHERE id = 1;", "SELECT * FROM TABLE1 WHERE ID = ?;"),
    (
        "SELECT name FROM users WHERE status = 'active' AND age > 30;",
        "SELECT NAME FROM USERS WHERE STATUS = ? AND AGE > ?;",
    ),
    # decimals become ?.? ; identifiers are uppercased too
    ("SELECT * FROM products WHERE price = 19.99;", "SELECT * FROM PRODUCTS WHERE PRICE = ?.?;"),
    ("COMMIT;", "COMMIT;"),
]

# N2 outside ASCII (the testdata's queries are all ASCII, so no oracle
# sees this): full case mappings, where one character can become two.
# Python's str.upper, the JVM's String.toUpperCase and ICU agree on all
# of these. Over every code point, JDK 17 (Unicode 13) differs from
# Python 3.11 (Unicode 14) on 40, each one Python uppercases and the JVM
# leaves as is: U+2C5F, U+A7C1, U+A7D1, U+A7D7, U+A7D9 and the Vithkuqi
# small letters U+10597-U+105A1, U+105A3-U+105B1, U+105B3-U+105B9,
# U+105BB-U+105BC. ICU 77 (Unicode 16) instead differs on 27 others
# that Python does not know yet (U+019B, U+0264, U+1C8A, U+A7CD, U+A7DB,
# U+10D70-U+10D85).
N2_NON_ASCII_CASES = [
    ("select straße from t where id = 1", "SELECT STRASSE FROM T WHERE ID = ?"),
    # U+FB01 LATIN SMALL LIGATURE FI
    ("select \ufb01eld from \ufb01les where n = '\ufb01'", "SELECT FIELD FROM FILES WHERE N = ?"),
    (
        "select café, über from menü where σ = 'x' and ς = 2",
        "SELECT CAFÉ, ÜBER FROM MENÜ WHERE Σ = ? AND Σ = ?",
    ),
    # dz digraph: small (U+01C6) and title case (U+01C5) -> capital (U+01C4)
    ("select \u01c6, \u01c5 from t", "SELECT \u01c4, \u01c4 FROM T"),
    # Georgian Mkhedruli AN (U+10D0) -> Mtavruli AN (U+1C90)
    ("select \u10d0 from t", "SELECT \u1c90 FROM T"),
]


def _run_one(spark, expr_fn, value):
    return spark.createDataFrame([(value,)], ["q"]).select(expr_fn("q").alias("r")).head()["r"]


@pytest.mark.parametrize("raw,expected", N1_CASES)
def test_normalize_mongo(spark, raw, expected):
    assert _run_one(spark, normalize_mongo_command, raw) == expected


@pytest.mark.parametrize("raw,expected", N2_CASES)
def test_normalize_mysql(spark, raw, expected):
    assert _run_one(spark, normalize_mysql_query, raw) == expected


@pytest.fixture(params=["false", "true"], ids=["jvm", "icu"])
def case_mappings(spark, request):
    """Run under the JVM case mappings (the engine default) and under
    ICU's, restoring the session's setting afterwards."""
    key = "spark.sql.icu.caseMappings.enabled"
    before = spark.conf.get(key)
    spark.conf.set(key, request.param)
    try:
        yield
    finally:
        spark.conf.set(key, before)


@pytest.mark.parametrize("raw,expected", N2_NON_ASCII_CASES)
def test_normalize_mysql_non_ascii_matches_python(spark, case_mappings, raw, expected):
    assert re.sub(MYSQL_NORMALIZE_PATTERN, "?", raw).upper() == expected
    assert _run_one(spark, normalize_mysql_query, raw) == expected


@pytest.mark.parametrize(
    "raw,expected",
    [("0.000123", 0.123), ("2", 2000.0), ("garbage", 0.0), ("", 0.0)],
)
def test_query_time_ms(spark, raw, expected):
    assert _run_one(spark, query_time_ms, raw) == pytest.approx(expected)
