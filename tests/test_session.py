"""Engine session defaults (sressentials_spark/session.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from sressentials_spark import session


def test_default_driver_memory_is_three_quarters_of_ram_capped_at_32g(
    monkeypatch,
):
    for phys_gb, want in ((16, "12288m"), (40, "30720m"), (64, "32768m")):
        vals = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": phys_gb * 2**30 // 4096}
        monkeypatch.setattr(session.os, "sysconf", vals.__getitem__)
        assert session.default_driver_memory() == want

    def unknown(name):
        raise ValueError(f"unrecognized configuration name {name!r}")

    monkeypatch.setattr(session.os, "sysconf", unknown)
    assert session.default_driver_memory() == "32768m"


def test_python_workers_fork_with_the_kernel_imports_done(spark):
    """A plain (pickled, non-Arrow) Python UDF never imports pyarrow
    itself; it finds it loaded because its worker forked from the
    engine's preloading daemon (sressentials_spark/pydaemon.py)."""

    @F.udf("boolean")
    def preloaded(_):
        import sys

        return all(m in sys.modules for m in ("pyarrow", "pandas", "numpy"))

    assert spark.range(1).select(preloaded("id").alias("ok")).first()["ok"]


def test_session_uses_jvm_case_mappings(spark):
    """upper/lower take the JVM's case mappings: Spark's ICU path builds
    a title-case table over every code point on its first call in a JVM
    (about 1.7 s of CPU while other tasks wait on the class-init lock)."""
    assert spark.conf.get("spark.sql.icu.caseMappings.enabled") == "false"
