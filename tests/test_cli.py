"""CLI surface tests (X1-X3): report files land on disk, counts print."""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

from tests.log_fixtures import MONGO_LOG, MYSQL_LOG

REPO = Path(__file__).resolve().parent.parent


def run_cli(*argv: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "-m", "sressentials_spark.cli", *argv],
        capture_output=True,
        text=True,
        cwd=REPO,
        timeout=900,  # generous: shares the box with the suite's own JVM
        env={"PATH": "/usr/bin:/bin", "HOME": "/root", "SPARK_GRAFT_CPUS": "2",
             "JAVA_HOME": __import__("os").environ.get("JAVA_HOME", ""),
             "SPARK_DRIVER_MEMORY": "2g"},
    )


def test_mongo_cli_end_to_end(tmp_path):
    log = tmp_path / "mongod.log"
    log.write_text(MONGO_LOG)
    out = tmp_path / "report.xlsx"
    proc = run_cli("mongo", "-i", str(log), "-o", str(out))
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "Query Stats" in proc.stdout
    assert "Report saved" in proc.stdout
    # no Excel engine in this env → CSV fallback directory
    sheets = tmp_path / "report.xlsx.sheets"
    assert sheets.is_dir()
    assert (sheets / "Detailed_Metrics.csv").exists()
    assert (sheets / "Error_Stats.csv").exists()
    # parse diagnostics surface on stderr like the reference CLI
    assert "Invalid JSON. Skipped." in proc.stderr


def test_mysql_cli_with_parquet_mirror(tmp_path):
    log = tmp_path / "slow.log"
    log.write_text(MYSQL_LOG)
    out = tmp_path / "report.xlsx"
    mirror = tmp_path / "mirror"
    proc = run_cli("mysql", "-i", str(log), "-o", str(out), "--parquet-mirror", str(mirror))
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert (tmp_path / "report.xlsx.sheets" / "Aggregate_Results.csv").exists()
    assert (mirror / "detailed").is_dir()


def test_missing_args_is_a_clean_error():
    proc = run_cli("mongo")
    assert proc.returncode == 2
    assert "required" in proc.stderr


def test_max_errors_unbounded(tmp_path, spark, monkeypatch, capsys):
    """``--max-errors -1`` prints EVERY diagnostic line — parity with
    the reference's unbounded loop (Mongo/mongo_parser.py:226-228).
    Runs ``cli.main`` in-process on the shared session;
    ``test_mongo_cli_end_to_end`` covers the subprocess entry point."""
    from sressentials_spark import cli

    bad = "\n".join(f"not json {i}" for i in range(25))
    log = tmp_path / "mongod.log"
    log.write_text(MONGO_LOG + "\n" + bad)
    out = tmp_path / "report.xlsx"
    monkeypatch.setattr(cli, "get_spark", lambda app_name: spark)

    assert cli.main(["mongo", "-i", str(log), "-o", str(out)]) == 0
    capped = capsys.readouterr().err
    assert capped.count("Invalid JSON. Skipped.") == 10  # default cap

    argv = ["mongo", "-i", str(log), "-o", str(out), "--max-errors", "-1"]
    assert cli.main(argv) == 0
    full = capsys.readouterr().err
    assert full.count("Invalid JSON. Skipped.") == 28  # 3 fixture + 25


def test_save_report_bytes_zip_fallback(tmp_path, spark):
    """The download-button payload builder (reference X4's
    save_to_excel(BytesIO)) must return real bytes in this env's CSV-zip
    fallback, with one member per sheet."""
    import io
    import zipfile

    from sressentials_spark.plans.mongo import analyze_mongo_log
    from sressentials_spark.report import MONGO_SHEETS, save_report_bytes

    log = tmp_path / "mongod.log"
    log.write_text(MONGO_LOG)
    sheets = analyze_mongo_log(spark, str(log), cache=False)
    fmt, fname, payload = save_report_bytes(sheets, MONGO_SHEETS)
    assert fmt in ("xlsx", "zip") and payload
    if fmt == "zip":
        names = set(zipfile.ZipFile(io.BytesIO(payload)).namelist())
        assert names == {"Detailed_Metrics.csv", "Query_Stats.csv",
                         "Non-Slow_Queries.csv", "Error_Stats.csv"}


def test_ui_diagnostics_unbounded_toggle(tmp_path, spark):
    """X4 parity: the web surface's 'show all' mode renders EVERY
    diagnostic (the reference st.warning-loops over all of them,
    Mongo/mongo_parser.py:162-163), while the default view caps at
    _UI_MAX_WARNINGS and appends a suppression note."""
    from sressentials_spark.cli import _UI_MAX_WARNINGS, _render_diagnostics
    from sressentials_spark.plans.mongo import analyze_mongo_log

    n_bad = _UI_MAX_WARNINGS + 13
    bad = "\n".join(f"not json {i}" for i in range(n_bad))
    log = tmp_path / "mongod.log"
    log.write_text(MONGO_LOG + "\n" + bad)
    sheets = analyze_mongo_log(spark, str(log), cache=False)
    total = sheets["parse_errors"].count()
    assert total >= n_bad

    class FakeSt:
        def __init__(self):
            self.warnings = []

        def warning(self, msg):
            self.warnings.append(msg)

    capped = FakeSt()
    shown = _render_diagnostics(capped, sheets["parse_errors"], show_all=False)
    assert shown == _UI_MAX_WARNINGS
    # cap + one suppression note
    assert len(capped.warnings) == _UI_MAX_WARNINGS + 1
    assert "suppressed" in capped.warnings[-1]

    full = FakeSt()
    shown = _render_diagnostics(full, sheets["parse_errors"], show_all=True)
    assert shown == total
    assert len(full.warnings) == total
    assert not any("suppressed" in w for w in full.warnings)


def test_cli_prints_the_row_counts_save_report_collected(
    tmp_path, spark, monkeypatch, capsys
):
    """The per-sheet counts the CLI prints are the ones ``save_report``
    collected: a sheet under ``row_cap`` is not counted again through
    Spark, and a sheet truncated at ``row_cap`` prints its full count,
    not the cap."""
    from functools import partial

    import pandas as pd
    from sressentials_spark import cli
    from sressentials_spark.plans.mysql import analyze_mysql_log
    from sressentials_spark.report import MYSQL_SHEETS

    log = tmp_path / "slow.log"
    log.write_text(MYSQL_LOG)
    full = analyze_mysql_log(spark, str(log), cache=False)
    expected = {title: full[key].count() for key, title in MYSQL_SHEETS}
    cap = min(expected.values())
    truncated = [t for t, n in expected.items() if n > cap]
    assert truncated, expected  # the fixture's sheets differ in size

    frame_cls = type(full["detailed"])  # the session's concrete DataFrame
    counted = []
    count = frame_cls.count

    def spy(df):
        counted.append(df)
        return count(df)

    monkeypatch.setattr(cli, "get_spark", lambda app_name: spark)
    monkeypatch.setattr(cli, "save_report", partial(cli.save_report, row_cap=cap))
    monkeypatch.setattr(frame_cls, "count", spy)
    out = tmp_path / "report.xlsx"
    assert cli.main(["mysql", "-i", str(log), "-o", str(out)]) == 0

    printed = dict(
        line.rsplit(": ", 1)
        for line in capsys.readouterr().out.splitlines()
        if line.endswith(" rows")
    )
    assert printed == {title: f"{n} rows" for title, n in expected.items()}
    assert len(counted) == len(truncated)
    for title in truncated:
        sheet = tmp_path / "report.xlsx.sheets" / (title.replace(" ", "_") + ".csv")
        assert len(pd.read_csv(sheet)) == cap


def test_parquet_mirror_evaluates_each_sheet_row_once(tmp_path, spark):
    """With the parquet mirror, ``save_report`` writes each sheet in
    full and collects it up to the cap from ONE evaluation of its
    plan: a sheet whose rows each bump an accumulator reads exactly
    its row count, and the sheet is left unpersisted."""
    import pandas as pd
    from pyspark.sql import functions as F

    from sressentials_spark.report import save_report

    evaluated = spark.sparkContext.accumulator(0)

    @F.udf("long")
    def bump(x):
        evaluated.add(1)
        return x

    sheet = spark.range(0, 40, 1, 2).select(bump("id").alias("id"))
    mirror = tmp_path / "mirror"
    fmt, path, rows = save_report(
        {"s": sheet}, [("s", "Sheet")], str(tmp_path / "r.xlsx"), parquet_mirror=str(mirror)
    )
    assert rows == {"s": 40}
    assert evaluated.value == 40
    assert not sheet.is_cached
    assert spark.read.parquet(str(mirror / "s")).count() == 40
    if fmt == "csv":
        assert len(pd.read_csv(f"{path}/Sheet.csv")) == 40
