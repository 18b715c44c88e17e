"""Query normalizers N1/N2/N3 as native column expressions.

Parity targets (behavior verified by executing the reference — see
SURVEY.md §2.3, which documents that the reference's *code* wins over
its stale tests):

* N1 (``Mongo/mongo_parser.py:12-14``): every ``key: scalar`` pair in a
  serialized command JSON becomes ``key:<value>`` — including
  structural keys like ``"find": "collection"`` — so patterns are
  cross-collection. Array/object values are untouched.
* N2 (``MySql/mysqlLogParser.py:8-13``): integer literals and
  ``'...'`` string literals become ``?``, then the whole query is
  uppercased (decimals become ``?.?``). The session runs ``upper`` on
  the JVM's case mappings (``spark.sql.icu.caseMappings.enabled=false``
  in ``session.get_spark``): ASCII takes a byte fast path, anything
  else ``String.toUpperCase``. ICU's one-argument ``toUpperCase`` (the
  Spark default) and the JVM's both follow the JVM default locale;
  Python's ``str.upper`` follows none. Against Python 3.11 (Unicode
  14), JDK 17 (Unicode 13) leaves 40 code points un-uppercased and ICU
  77 (Unicode 16) uppercases 27 that Python leaves alone; every other
  code point agrees (tests/test_normalize.py names them). The JVM path
  also skips ICU's one-time cold cost: the first ``upper`` in a JVM
  built a title-case table over every code point, ~1.7 s of CPU on one
  task while the others waited.
* N3 (``MySql/mysqlLogParser.py:71-74``): ``Query_time`` seconds →
  milliseconds, unparseable → 0.0.

Java regex accepts all three patterns as-is (the N1 lookahead and the
N2 word boundaries behave identically to Python ``re`` here — pinned
by tests/test_normalize.py against golden pairs).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# N1 — same pattern string as the reference (Python re and Java regex
# agree on this expression: char class, optional quotes, lookahead).
MONGO_NORMALIZE_PATTERN = r""":\s*["']?[^,{}\[\]]+["']?\s*(?=[,}])"""

# N2 — integer literals OR single-quoted string literals.
MYSQL_NORMALIZE_PATTERN = r"(\b\d+\b)|('[^']*')"


def normalize_mongo_command(col: Column | str) -> Column:
    """N1: collapse every ``key: scalar`` pair to ``key:<value>``."""
    return F.regexp_replace(col, MONGO_NORMALIZE_PATTERN, ":<value>")


def normalize_mysql_query(col: Column | str) -> Column:
    """N2: literals → ``?``, uppercase the rest."""
    return F.upper(F.regexp_replace(col, MYSQL_NORMALIZE_PATTERN, "?"))


def query_time_ms(col: Column | str) -> Column:
    """N3: seconds-as-string → milliseconds as double; bad input → 0.0."""
    c = F.col(col) if isinstance(col, str) else col
    return F.coalesce(c.try_cast("double"), F.lit(0.0)) * 1000.0


#: Characters Python's ``str.strip()`` removes — Spark's ``trim`` only
#: strips ASCII spaces, so N5 parity needs an explicit character set.
_PY_WHITESPACE = " \t\n\r\x0b\x0c"


def strip_ws(col: Column | str) -> Column:
    """N5: Python ``str.strip()`` parity (all-whitespace trim)."""
    return F.btrim(F.col(col) if isinstance(col, str) else col, F.lit(_PY_WHITESPACE))
