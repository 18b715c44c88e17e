"""MySQL slow-query analysis plan (reference S2-S9, N2, N3).

Reproduces ``parse_mysql_log_content`` (``MySql/mysqlLogParser.py:16-134``)
as lazy DataFrame pipelines: six regex field extractions + the
multi-line query extraction, the all-fields-required validation gate,
seconds→ms conversion, query normalization, and the per-pattern
aggregate — all native column expressions inside whole-stage codegen.

Fidelity notes (verified against the executed reference, SURVEY §2/§5):

* ``Lock_time`` / ``Rows_sent`` / ``Rows_examined`` stay **strings**
  (``MySql/mysqlLogParser.py:76-78``) — no cast.
* A ``COMMIT;``-only entry IS captured as a query (the reference
  test's contrary comment is empirically wrong).
* The aggregate sheet is implicitly sorted ascending by
  ``Normalized_Query`` (pandas ``groupby(sort=True)``) — Spark's
  ``groupBy`` does not sort, so the order-by is explicit here.
* ``Sample_Query`` uses ``min_by(Query, entry_no)`` for a
  deterministic "first in file order" under partitioning.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from sressentials_spark.functions.normalize import (
    normalize_mysql_query,
    query_time_ms,
    strip_ws,
)
from sressentials_spark.plans import SheetDict
from sressentials_spark.sources.mysql_log import read_mysql_log

#: The seven patterns of ``MySql/mysqlLogParser.py:18-27``. Java regex
#: accepts them as-is; ``\z`` replaces Python's ``\Z`` (same meaning).
PATTERNS = {
    "Time": r"# Time: (.*)",
    "User@Host": r"# User@Host: (.*?) thread_id:",
    "Query_time": r"# Query_time: (.*?) Lock_time:",
    "Lock_time": r"Lock_time: (.*?) Rows_sent:",
    "Rows_sent": r"Rows_sent: (.*?) Rows_examined:",
    "Rows_examined": r"Rows_examined: (.*?)\n",
    "Query": r"(?s)SET timestamp=.*?;\n(.*?)(?=\n# Time:|\z)",
}

#: Fused match+extract forms of :data:`PATTERNS`: the capture group is
#: widened to include the literal field prefix, so a matched entry
#: always yields a NON-EMPTY capture — one ``regexp_extract`` per field
#: serves as both the S4 validation test (capture != '') and the S2
#: value source (strip the fixed-length prefix with ``substring``).
#: Round 2 ran the seven patterns twice per entry (7 ``rlike`` gates +
#: 7 extracts); this halves the regex passes. Group widening does not
#: change regex semantics: match positions and lazy-quantifier
#: behavior are group-independent. ``Query``'s prefix is
#: variable-length (``SET timestamp=<n>;``), so it is removed with an
#: anchored replace over the (already small) capture instead.
_FUSED = {
    "Time": (r"(# Time: .*)", "# Time: "),
    "User@Host": (r"(# User@Host: .*?) thread_id:", "# User@Host: "),
    "Query_time": (r"(# Query_time: .*?) Lock_time:", "# Query_time: "),
    "Lock_time": (r"(Lock_time: .*?) Rows_sent:", "Lock_time: "),
    "Rows_sent": (r"(Rows_sent: .*?) Rows_examined:", "Rows_sent: "),
    "Rows_examined": (r"(Rows_examined: .*?)\n", "Rows_examined: "),
    "Query": (r"(?s)(SET timestamp=.*?;\n.*?)(?=\n# Time:|\z)", None),
}

#: Anchored prefix for the Query capture: identical lazy ``.*?;\n`` to
#: the capture pattern, so it removes exactly what that group consumed.
_QUERY_PREFIX = r"(?s)^SET timestamp=.*?;\n"

_EMPTY_QUERY = "N/A (Query not captured)"

DETAILED_COLUMNS = [
    "Time",
    "User@Host",
    "Query_time (ms)",
    "Lock_time",
    "Rows_sent",
    "Rows_examined",
    "Query",
    "Normalized_Query",
]
AGGREGATE_COLUMNS = [
    "Normalized_Query",
    "Executions",
    "Min_Query_time_ms",
    "Max_Query_time_ms",
    "Avg_Query_time_ms",
    "Sample_Query",
]


def extract_entries(base: DataFrame) -> DataFrame:
    """S2/S3/S4: one fused regex pass per field.

    Emits per field the stripped value ``_<name>`` plus the match flag
    ``_m_<name>`` (the S4 booleans, derived from the widened capture
    being non-empty — no second ``rlike`` pass), and the conjunction
    ``matched``.
    """
    entry = F.col("entry")
    value_cols, flag_cols = [], []
    for name, (pat, prefix) in _FUSED.items():
        cap = F.regexp_extract(entry, pat, 1)
        if prefix is None:
            val = F.regexp_replace(cap, _QUERY_PREFIX, "")
        else:
            val = F.substring(cap, len(prefix) + 1, 2**31 - 1)
        value_cols.append(strip_ws(val).alias(f"_{name}"))
        flag_cols.append((cap != "").alias(f"_m_{name}"))
    ext = base.select("entry", "entry_no", *value_cols, *flag_cols)
    matched = F.lit(True)
    for name in _FUSED:
        matched = matched & F.col(f"_m_{name}")
    return ext.withColumn("matched", matched)


def detailed_from_extracted(ext: DataFrame) -> DataFrame:
    """Per-entry metric rows (Detailed Metrics sheet), file order, over
    pre-extracted entries (so the regex pass can be persisted once and
    shared across sheets).

    Returns the 8 reference columns plus ``entry_no``.
    """
    ext = ext.filter(F.col("matched"))
    query = F.when(F.col("_Query") == "", F.lit(_EMPTY_QUERY)).otherwise(F.col("_Query"))
    return ext.select(
        F.col("entry_no"),
        F.col("_Time").alias("Time"),
        F.col("_User@Host").alias("User@Host"),
        query_time_ms(F.col("_Query_time")).alias("Query_time (ms)"),
        F.col("_Lock_time").alias("Lock_time"),
        F.col("_Rows_sent").alias("Rows_sent"),
        F.col("_Rows_examined").alias("Rows_examined"),
        query.alias("Query"),
        F.when(F.col("_Query") == "", F.lit(_EMPTY_QUERY))
        .otherwise(normalize_mysql_query(query))
        .alias("Normalized_Query"),
    )


def aggregate_results(detailed: DataFrame) -> DataFrame:
    """S6 + S7: per-normalized-query stats, ascending by pattern."""
    return (
        detailed.groupBy("Normalized_Query")
        .agg(
            F.count(F.lit(1)).alias("Executions"),
            F.min("Query_time (ms)").alias("Min_Query_time_ms"),
            F.max("Query_time (ms)").alias("Max_Query_time_ms"),
            F.round(F.avg("Query_time (ms)"), 2).alias("Avg_Query_time_ms"),
            F.min_by("Query", "entry_no").alias("Sample_Query"),
        )
        .select(*AGGREGATE_COLUMNS)
        .orderBy("Normalized_Query")
    )


def warnings_from_extracted(ext: DataFrame) -> DataFrame:
    """S9: per-entry skip diagnostics with field-match booleans
    (``:92-96``), over pre-extracted entries.

    The per-field booleans come from the fused extraction's ``_m_*``
    flags — no regex re-evaluation on the diagnostics path.
    """
    ext = ext.filter(~F.col("matched"))

    def b(name: str) -> Column:
        return F.when(F.col(f"_m_{name}"), "True").otherwise("False")

    details = F.concat_ws(
        ", ",
        F.concat(F.lit("T:"), b("Time")),
        F.concat(F.lit("UH:"), b("User@Host")),
        F.concat(F.lit("QT:"), b("Query_time")),
        F.concat(F.lit("LT:"), b("Lock_time")),
        F.concat(F.lit("RS:"), b("Rows_sent")),
        F.concat(F.lit("RE:"), b("Rows_examined")),
        F.concat(F.lit("Q:"), b("Query")),
    )
    message = F.concat(
        F.lit("Skipped log entry "),
        F.col("entry_no"),
        F.lit(" due to missing fields. Details: "),
        details,
        F.lit(". Content snippet: "),
        F.substring(F.col("entry"), 1, 200),
        F.lit("..."),
    )
    return ext.orderBy("entry_no").select(F.col("entry_no"), message.alias("message"))


def analyze_mysql_log(spark: SparkSession, path: str, cache: bool = True) -> SheetDict:
    """Full 2-sheet analysis + diagnostics (reference
    ``parse_mysql_log_content``): ``detailed / aggregate / warnings``.

    The persisted extraction root is attached as ``.base`` (see
    :class:`sressentials_spark.plans.SheetDict`).
    """
    base = read_mysql_log(spark, path)
    # Persist AFTER the regex extraction: the regex passes are the
    # dominant cost, and all three sheets branch off their result.
    ext = extract_entries(base)
    if cache:
        ext = ext.persist()
    detailed = detailed_from_extracted(ext)
    return SheetDict(
        {
            "detailed": detailed.orderBy("entry_no").select(*DETAILED_COLUMNS),
            "aggregate": aggregate_results(detailed),
            "warnings": warnings_from_extracted(ext),
        },
        base=ext if cache else None,
    )
