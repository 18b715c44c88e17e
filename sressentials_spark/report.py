"""Report sinks (reference X1/X2): multi-sheet Excel with safe fallbacks.

The reference writes 4-sheet (Mongo, ``Mongo/mongo_parser.py:134-143``)
and 2-sheet (MySQL, ``MySql/mysqlLogParser.py:137-144``) Excel
workbooks. Excel is a driver-side, row-capped format (hard limit
1,048,576 rows/sheet) — so here it is what it should be at scale: a
*summary* sink. Each sheet is capped before ``toPandas()``, the full
DataFrames can be mirrored to parquet (the real output at 100 TB), and
when no Excel engine is installed the sheets degrade to a CSV
directory with the same names.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

#: Reference sheet names per tool (keys = our analyze dict keys).
MONGO_SHEETS = [
    ("detailed", "Detailed Metrics"),
    ("query_stats", "Query Stats"),
    ("non_slow", "Non-Slow Queries"),
    ("errors", "Error Stats"),
]
MYSQL_SHEETS = [
    ("detailed", "Detailed Metrics"),
    ("aggregate", "Aggregate Results"),
]

EXCEL_ROW_CAP = 1_048_575  # Excel sheet limit minus header row


def _excel_engine() -> str | None:
    for mod, engine in (("xlsxwriter", "xlsxwriter"), ("openpyxl", "openpyxl")):
        try:
            __import__(mod)
            return engine
        except ImportError:
            continue
    return None


#: Lets the adaptive planner coalesce a cached plan's shuffle
#: partitions, as it does an uncached plan's.
_CACHED_AQE = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"


def _persist_coalesced(df: DataFrame) -> None:
    """Persist ``df`` with the partitions its uncached plan would run
    with: a mirror written from the cache then has the same files as
    one written from the plan. The cached plan is fixed by the
    ``persist`` call, so the setting is restored right after it."""
    conf = df.sparkSession.conf
    old = conf.get(_CACHED_AQE)
    conf.set(_CACHED_AQE, "true")
    try:
        df.persist()
    finally:
        conf.set(_CACHED_AQE, old)


def save_report(
    sheets: dict[str, DataFrame],
    sheet_order: list[tuple[str, str]],
    output_path: str,
    row_cap: int = EXCEL_ROW_CAP,
    parquet_mirror: str | None = None,
) -> tuple[str, str, dict[str, int]]:
    """Write the named sheets; returns ``(format, path_written, rows)``.

    ``format`` is ``xlsx`` when an Excel engine is available, else
    ``csv`` (a ``<output>.sheets/`` directory, one CSV per sheet).
    ``rows`` maps each sheet key to its full row count: the length of
    the collected frame, counted through Spark only for a sheet
    truncated at ``row_cap``.
    ``parquet_mirror`` additionally writes each *uncapped* DataFrame as
    parquet under the given directory — the scale-safe output; each
    mirrored sheet is persisted until it is written and collected.
    """
    import pandas as pd

    pdfs: dict[str, pd.DataFrame] = {}
    rows: dict[str, int] = {}
    for key, title in sheet_order:
        sheet = sheets[key]
        # A mirrored sheet is read by the write and the capped collect:
        # persisted around both, its plan runs once.
        persist = bool(parquet_mirror) and not sheet.is_cached
        if persist:
            _persist_coalesced(sheet)
        try:
            if parquet_mirror:
                sheet.write.mode("overwrite").parquet(os.path.join(parquet_mirror, key))
            # One row past the cap tells a truncated sheet from a full one.
            pdf = sheet.limit(row_cap + 1).toPandas()
            rows[key] = len(pdf) if len(pdf) <= row_cap else sheet.count()
        finally:
            if persist:
                sheet.unpersist()
        pdfs[title] = pdf.iloc[:row_cap]

    engine = _excel_engine()
    if engine is not None:
        with pd.ExcelWriter(output_path, engine=engine) as writer:
            for title, pdf in pdfs.items():
                pdf.to_excel(writer, sheet_name=title[:31], index=False)
        return "xlsx", output_path, rows

    out_dir = output_path + ".sheets"
    os.makedirs(out_dir, exist_ok=True)
    for title, pdf in pdfs.items():
        pdf.to_csv(os.path.join(out_dir, title.replace(" ", "_") + ".csv"), index=False)
    return "csv", out_dir, rows


def save_report_bytes(
    sheets: dict[str, DataFrame],
    sheet_order: list[tuple[str, str]],
    row_cap: int = EXCEL_ROW_CAP,
) -> tuple[str, str, bytes]:
    """In-memory report for download surfaces (reference
    ``save_to_excel(BytesIO)`` → ``st.download_button``,
    ``Mongo/mongo_parser.py:177-187``).

    Returns ``(format, suggested_filename, payload)`` — an ``xlsx``
    workbook when an Excel engine is available, else a zip of CSVs
    (same sheet names), so the download button always has something
    real to serve.
    """
    import io

    import pandas as pd

    pdfs: dict[str, pd.DataFrame] = {
        title: sheets[key].limit(row_cap).toPandas() for key, title in sheet_order
    }
    engine = _excel_engine()
    buf = io.BytesIO()
    if engine is not None:
        with pd.ExcelWriter(buf, engine=engine) as writer:
            for title, pdf in pdfs.items():
                pdf.to_excel(writer, sheet_name=title[:31], index=False)
        return "xlsx", "log_report.xlsx", buf.getvalue()

    import zipfile

    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        for title, pdf in pdfs.items():
            zf.writestr(title.replace(" ", "_") + ".csv", pdf.to_csv(index=False))
    return "zip", "log_report.zip", buf.getvalue()
