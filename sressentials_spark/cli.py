"""CLI entry point (reference X3/X4 surface parity).

Mirrors the reference's interface — ``-i/--input`` and ``-o/--output``
with an interactive (Streamlit) fallback when invoked without
arguments (``Mongo/mongo_parser.py:195-251``,
``MySql/mysqlLogParser.py:198-251``) — plus an explicit ``tool``
argument since this engine ships both analyzers in one binary. The
reference's duplicated ``__main__`` blocks run its pipeline twice per
invocation (a bug, SURVEY §3.1); this CLI runs it once.

Usage::

    python -m sressentials_spark.cli mongo -i mongod.log -o report.xlsx
    python -m sressentials_spark.cli mysql -i slow.log -o report.xlsx \
        --parquet-mirror /data/out
"""

from __future__ import annotations

import argparse
import sys

from sressentials_spark.report import (
    MONGO_SHEETS,
    MYSQL_SHEETS,
    save_report,
    save_report_bytes,
)
from sressentials_spark.session import get_spark


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="sressentials-spark",
        description="Spark-native MongoDB / MySQL log analytics",
    )
    p.add_argument("tool", choices=["mongo", "mysql"], help="which analyzer to run")
    p.add_argument("-i", "--input", help="path to the log file")
    p.add_argument("-o", "--output", help="path for the Excel report")
    p.add_argument(
        "--parquet-mirror",
        help="directory to additionally write every sheet as parquet (uncapped)",
    )
    p.add_argument(
        "--max-errors",
        type=int,
        default=10,
        help=(
            "diagnostics lines to print; -1 prints ALL of them "
            "(the reference's unbounded behavior, Mongo/mongo_parser.py:226-228)"
        ),
    )
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    if not args.input or not args.output:
        try:
            import streamlit  # noqa: F401
        except ImportError:
            build_parser().error(
                "-i/--input and -o/--output are required "
                "(streamlit is not installed for interactive mode)"
            )
        print("Launching Streamlit UI...", file=sys.stderr)
        return _run_streamlit(args.tool)

    spark = get_spark(f"sressentials-cli-{args.tool}")
    if args.tool == "mongo":
        from sressentials_spark.plans.mongo import analyze_mongo_log

        sheets = analyze_mongo_log(spark, args.input)
        order, diag_key = MONGO_SHEETS, "parse_errors"
    else:
        from sressentials_spark.plans.mysql import analyze_mysql_log

        sheets = analyze_mysql_log(spark, args.input)
        order, diag_key = MYSQL_SHEETS, "warnings"

    if args.max_errors < 0:
        # Full parity with the reference's print-every-error loop —
        # streamed through toLocalIterator so an arbitrarily corrupt
        # file never materializes on the driver at once.
        for row in sheets[diag_key].toLocalIterator():
            print(f"Warning: {row['message']}", file=sys.stderr)
    else:
        for row in sheets[diag_key].limit(args.max_errors).collect():
            print(f"Warning: {row['message']}", file=sys.stderr)

    fmt, path, rows = save_report(
        sheets, order, args.output, parquet_mirror=args.parquet_mirror
    )
    for key, title in order:
        print(f"{title}: {rows[key]} rows")
    print(f"Report saved ({fmt}): {path}")
    sheets.unpersist_base()
    return 0


#: Parse-error warnings surfaced interactively before they overwhelm
#: the page. The reference loops over ALL of them, ``st.warning`` each
#: (``Mongo/mongo_parser.py:162-163``); the default view caps and
#: summarizes the remainder, and a "show all" toggle restores the
#: reference's unbounded behavior (the UI twin of the CLI's
#: ``--max-errors -1``).
_UI_MAX_WARNINGS = 50


def _render_diagnostics(st, diag_df, show_all: bool) -> int:
    """Emit parse-error diagnostics to the Streamlit surface; returns
    the number of warnings rendered. ``show_all=True`` streams EVERY
    diagnostic through ``toLocalIterator`` (reference parity — and no
    driver-side materialization of an arbitrarily corrupt file);
    otherwise the first ``_UI_MAX_WARNINGS`` plus a suppression note.
    Takes ``st`` as a parameter so tests can drive it without a
    streamlit install."""
    if show_all:
        n = 0
        for row in diag_df.toLocalIterator():
            st.warning(row["message"])
            n += 1
        return n
    diags = diag_df.limit(_UI_MAX_WARNINGS + 1).collect()
    for row in diags[:_UI_MAX_WARNINGS]:
        st.warning(row["message"])
    if len(diags) > _UI_MAX_WARNINGS:
        st.warning(
            f"... further diagnostics suppressed (showing {_UI_MAX_WARNINGS}; "
            "enable 'Show all parse diagnostics' for the full list)."
        )
    return min(len(diags), _UI_MAX_WARNINGS)


def _run_streamlit(tool: str) -> int:  # pragma: no cover - optional dep
    """Interactive surface with reference parity
    (``Mongo/mongo_parser.py:150-192``): upload → per-parse-error
    ``st.warning`` → sheet tables → Excel download button."""
    import streamlit as st

    st.title(f"SREssentials-Spark — {tool} log analyzer")
    uploaded = st.file_uploader(
        "Upload your log file:", type=["log", "txt", "json"]
    )
    if uploaded is None:
        st.info("Please upload a log file to get started.")
        return 0
    import tempfile

    with tempfile.NamedTemporaryFile(delete=False, suffix=".log") as f:
        f.write(uploaded.getvalue())
        path = f.name
    spark = get_spark(f"sressentials-ui-{tool}")
    # cache=False: Streamlit re-executes this script on every
    # interaction; a persist per rerun would accumulate blocks for the
    # life of the UI session with nobody to unpersist them.
    if tool == "mongo":
        from sressentials_spark.plans.mongo import analyze_mongo_log

        sheets, order, diag_key = (
            analyze_mongo_log(spark, path, cache=False), MONGO_SHEETS, "parse_errors",
        )
    else:
        from sressentials_spark.plans.mysql import analyze_mysql_log

        sheets, order, diag_key = (
            analyze_mysql_log(spark, path, cache=False), MYSQL_SHEETS, "warnings",
        )

    show_all = st.checkbox(
        "Show all parse diagnostics (unbounded, like the reference)",
        value=False,
    )
    _render_diagnostics(st, sheets[diag_key], show_all)

    for key, title in order:
        st.subheader(title)
        st.dataframe(sheets[key].limit(1000).toPandas())

    try:
        fmt, fname, payload = save_report_bytes(sheets, order)
        st.download_button(
            label=f"Download {'Excel' if fmt == 'xlsx' else 'CSV (zip)'} report",
            data=payload,
            file_name=fname,
            mime=(
                "application/vnd.openxmlformats-officedocument.spreadsheetml.sheet"
                if fmt == "xlsx"
                else "application/zip"
            ),
        )
    except Exception as exc:
        st.error(f"Failed to generate report file: {exc}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
