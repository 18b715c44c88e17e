"""MongoDB structured-log source (reference M1/M2/M13).

``spark.read.text`` gives one row per line (the reference's
``readlines()`` at ``Mongo/mongo_parser.py:215-216`` — but streamed
and splittable instead of fully materialized). Line numbers are added
with the shuffle-free two-pass scheme in
:mod:`sressentials_spark.operators.rownum`; JSON is parsed once with
the typed envelope, and malformed lines surface in ``_corrupt_record``
instead of killing the job (the reference's per-line ``try/except`` at
``Mongo/mongo_parser.py:29,91-94``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sressentials_spark.operators.rownum import (
    fan_out_numbered,
    with_file_row_numbers,
    with_row_numbers,
)
from sressentials_spark.schemas import CORRUPT_COL, MONGO_ENVELOPE

#: Raw JSON text of the open-ended command subtree; '{}' when absent
#: (reference default ``attr.get('command', {})``).
_COMMAND_PATH = "$.attr.command"


def read_mongo_log(
    spark: SparkSession,
    path: str,
    per_file: bool = False,
) -> DataFrame:
    """Scan a MongoDB log into ``(value, line_no, parsed, command, valid)``.

    * ``value`` — the raw line;
    * ``line_no`` — 1-based file-order line number (``per_file=True``
      numbers within each input file and adds ``src_file`` — the
      stable notion for a multi-file 100 TB log directory);
    * ``parsed`` — typed envelope struct (nulls where absent);
    * ``command`` — raw JSON string of ``attr.command`` (``'{}'`` default);
    * ``valid`` — whether the RAW line is a JSON object (the
      reference's ``json.loads`` success; scalars/arrays/empty lines
      are invalid, matching its routing to ``parse_errors``). This is
      deliberately independent of the typed envelope: a well-formed
      object whose field types diverge from :data:`MONGO_ENVELOPE`
      (e.g. ``"error": "oops"`` where the schema expects a struct) is
      still *valid* — the reference routes it through the raw-presence
      predicate, not the JSON decoder (``Mongo/mongo_parser.py:30,91``).
    """
    lines = spark.read.text(path)
    # Scan split count, read before numbering: the envelope parse and
    # routing flags fuse into the scan stage, so a single medium file
    # would otherwise run the whole parse on ceil(bytes/split) cores.
    nparts = lines.rdd.getNumPartitions()
    if per_file:
        lines = with_file_row_numbers(lines, "line_no", file_col="src_file")
    else:
        lines = with_row_numbers(lines, "line_no")
    lines = fan_out_numbered(lines, nparts)
    parsed = F.from_json(
        F.col("value"),
        MONGO_ENVELOPE,
        {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": CORRUPT_COL},
    )
    return (
        lines.withColumn("parsed", parsed)
        .withColumn(
            "valid",
            # Objecthood, evaluated lazily: a clean typed parse already
            # proves the line was a JSON object; only rows the envelope
            # flagged (malformed OR type-divergent) pay the raw
            # json_object_keys re-parse. Or short-circuits in codegen.
            (F.col("parsed").isNotNull() & F.col(f"parsed.{CORRUPT_COL}").isNull())
            | F.json_object_keys(F.col("value")).isNotNull(),
        )
        .withColumn("command", F.coalesce(F.get_json_object("value", _COMMAND_PATH), F.lit("{}")))
    )
