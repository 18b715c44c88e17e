"""Driver-local small relations, shipped to the JVM as ONE Arrow batch.

``spark.createDataFrame(list_of_rows)`` parallelizes the rows into
``defaultParallelism`` pickled slices evaluated by Python workers — at
``local[32]`` that is 32 Python-worker round-trips per materialization
of a few-KB frame. Every ANN serve query builds two or three of these
(query vectors, probe lists, ADC distance tables) and they feed
broadcast exchanges, so each materialization re-pays the fan-out:
profiled at ~5-6 s of executor time across three 32-task stages inside
one ``sim_ivfpq_rerank_topk`` run (r12 profile), ~0.3 s wall per frame.

Routing the same rows through pandas + Arrow
(``createDataFrame(pdf, schema)``) builds the relation JVM-side from
one Arrow batch: no Python workers in the scan at all, measured 63-82
ms per materialization for both 5-row and 10k-row frames (vs 355-365
ms for the pickled-slice path). The Arrow batch is chunked into up to
``defaultParallelism`` JVM-local partitions (a 2-row frame yields 2,
a 10k-row frame at local[32] yields 32) — fine for the broadcast /
small-join sides these frames feed, since no Python worker is involved
either way; callers that need a specific layout coalesce explicitly.

Column mapping is POSITIONAL (like the list-of-tuples path with an
explicit schema): the pandas frame is built with ordinal column names
and the session applies the schema's names/types in order.

Timestamp caveat: the Arrow path localizes naive datetimes using
``spark.sql.session.timeZone`` while the pickled-row path uses OS-local
time (``TimestampType.toInternal``), so a timestamp-bearing frame could
shift whenever session tz differs from OS tz. No call site passes
timestamps; ``local_df`` routes any schema containing a timestamp down
the plain path so the two never diverge.
"""

from __future__ import annotations

import warnings
from collections.abc import Iterable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def _has_timestamp(schema) -> bool:
    """Whether a top-level field is a timestamp. A DDL string is parsed
    first, so a column merely NAMED ``..._timestamp`` does not count."""
    if isinstance(schema, str):
        schema = T._parse_datatype_string(schema)
    return isinstance(schema, T.StructType) and any(
        isinstance(f.dataType, (T.TimestampType, T.TimestampNTZType))
        for f in schema.fields
    )


def local_df(spark: SparkSession, rows: Iterable, schema) -> DataFrame:
    """``rows`` (tuples or Rows) + ``schema`` (DDL string or StructType)
    → single-Arrow-batch DataFrame. Empty input, timestamp-bearing
    schemas (tz semantics differ between the two paths — see module
    docstring) and anything pandas/Arrow cannot round-trip fall back to
    the plain path (correct, just slower — and empty frames cost
    nothing either way). The fallback warns: a call site silently
    riding the slow path forever is a perf bug, not a feature."""
    data = [tuple(r) for r in rows]
    if not data or _has_timestamp(schema):
        return spark.createDataFrame(data, schema)
    try:
        pdf = pd.DataFrame(data, columns=list(range(len(data[0]))))
        return spark.createDataFrame(pdf, schema)
    except Exception as exc:  # noqa: BLE001 — any conversion failure must
        # fall back (correctness first), but never silently.
        warnings.warn(
            f"local_df fell back to the pickled-row path for schema "
            f"{schema!r}: {exc!r} — fix the call site if this is hot",
            RuntimeWarning,
            stacklevel=2,
        )
        return spark.createDataFrame(data, schema)
