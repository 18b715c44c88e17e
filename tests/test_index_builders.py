"""The bench pre-warm contract for persisted serving artifacts.

bench.py times every entry of ``catalog.INDEX_BUILDERS`` OUTSIDE the
per-query region so the reported query times are steady-state serve
costs (r8 verdict item: separate index build from serve). That only
holds if (a) every index-served catalog query actually routes through
a registered builder, and (b) a builder invoked twice in one session
returns the SAME artifact handle (build-once cache) — otherwise the
timed pass would silently rebuild.
"""

from __future__ import annotations

import time

from sressentials_spark.catalog import INDEX_BUILDERS

SF_DIR = "/root/testdata/sf0.001"


def test_registry_names() -> None:
    assert set(INDEX_BUILDERS) == {
        "dedup_index_build",
        "ivf_index_build",
        "ivf_rebalance_index_build",
        "ivfpq_rerank_index_build",
        "ivf_versioned_index_build",
        "ivf_versioned_delete_index_build",
        "ivfpq_rebalanced_index_build",
        "ivfpq_lifecycle_index_build",
        "ivf_streamed_ingest_build",
    }


def test_builder_is_build_once(spark) -> None:
    """Second invocation must be a cache hit returning the identical
    handle — the property that makes pre-warming effective."""
    build = INDEX_BUILDERS["ivf_index_build"]
    first = build(spark, SF_DIR)
    t0 = time.perf_counter()
    second = build(spark, SF_DIR)
    elapsed = time.perf_counter() - t0
    assert second == first
    # A rebuild runs Spark jobs (seconds); a dict hit is microseconds.
    # 0.2 s leaves two orders of magnitude of slack on a loaded box.
    assert elapsed < 0.2, f"cache miss? second call took {elapsed:.3f}s"
