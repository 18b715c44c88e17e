"""Focused equivalence tests for the r13 fused-ADC restructure and
the r13 loader/localrel contract tightenings.

The fused plan replaces the r12 explode + (m, code) lookup join +
re-aggregation with a broadcast array-of-arrays distance table read by
``element_at`` projection; these tests pin that the driver-side table
math is bit-identical to the scalar left-fold reference, that sparse
(surviving-id) codebooks index correctly, and that the manifest read
hands back quantizers in ascending cid order whatever order the JSON
object lists them in.
"""

from __future__ import annotations

import numpy as np
import pytest

from sressentials_spark.operators import similarity as S


def _scalar_reference(qr, fbooks, m, dsub):
    """The r12 per-(mi, ki) scalar loop, verbatim."""
    out = {}
    for mi in range(m):
        bcids, C = fbooks[mi]
        for ki, crow in zip(bcids.tolist(), C):
            acc = 0.0
            for d in range(dsub):
                t = qr[mi * dsub + d] - float(crow[d])
                acc = acc + t * t
            out[(mi, int(ki))] = float(acc)
    return out


class TestAdcTables:
    def test_bit_identical_to_scalar_left_fold(self):
        rng = np.random.default_rng(11)
        m, k, dsub = 4, 16, 4
        qr = rng.normal(size=m * dsub)
        fbooks = [
            (np.arange(k, dtype=np.int64), rng.normal(size=(k, dsub)))
            for _ in range(m)
        ]
        ref = _scalar_reference(qr, fbooks, m, dsub)
        tab = S._adc_tables(qr, fbooks, m, dsub)
        for mi in range(m):
            for ki in range(k):
                # exact bitwise equality, not approx — the oracle
                # hash-gates these doubles
                assert tab[mi][ki] == ref[(mi, ki)]

    def test_sparse_surviving_ids_index_by_id_not_position(self):
        rng = np.random.default_rng(13)
        m, dsub = 2, 3
        qr = rng.normal(size=m * dsub)
        # survivors 0,2,5 — dropped ids leave NaN gaps, and values land
        # at index == codeword id, not enumeration position
        ids = np.array([0, 2, 5], dtype=np.int64)
        fbooks = [(ids, rng.normal(size=(3, dsub))) for _ in range(m)]
        ref = _scalar_reference(qr, fbooks, m, dsub)
        tab = S._adc_tables(qr, fbooks, m, dsub)
        for mi in range(m):
            assert len(tab[mi]) == 6
            for ki in (0, 2, 5):
                assert tab[mi][ki] == ref[(mi, ki)]
            for gap in (1, 3, 4):
                assert np.isnan(tab[mi][gap])


class TestManifestQuantizerOrder:
    def test_manifest_coarse_sorts_by_cid(self):
        # A manifest whose JSON object lists cells out of order: the
        # read must still hand back ascending-cid iteration order.
        from sressentials_spark.operators import ivf_versioned as V

        man = V._int_keyed(
            {
                "version": 1,
                "coarse": {"3": [30, 30], "0": [0, 0], "2": [20, 20], "1": [10, 10]},
                "centroids": {"10": [1.0], "9": [0.5]},
            }
        )
        assert list(man["coarse"]) == [0, 1, 2, 3]
        assert man["coarse"][2] == [20, 20]
        assert list(man["centroids"]) == [9, 10]
        assert man["version"] == 1


class TestLocalDfFallbacks:
    def test_timestamp_schema_routes_to_plain_path(self, spark):
        import datetime

        from sressentials_spark.localrel import local_df

        rows = [(1, datetime.datetime(2031, 3, 1, 12, 0, 0))]
        df = local_df(spark, rows, "id long, ts timestamp")
        got = df.collect()[0]
        assert got["id"] == 1
        assert got["ts"] == rows[0][1]

    def test_arrow_path_still_used_for_plain_rows(self, spark, monkeypatch):
        import warnings

        import pandas as pd

        from sressentials_spark.localrel import local_df

        # A column merely NAMED like a timestamp is a plain row too.
        cases = [
            ([(1, [0.5, 1.5])], "id long, v array<double>"),
            ([(1, 7)], "id long, event_timestamp long"),
        ]
        create = spark.createDataFrame
        inputs = []
        monkeypatch.setattr(
            spark,
            "createDataFrame",
            lambda data, *a, **kw: inputs.append(data) or create(data, *a, **kw),
        )
        for rows, schema in cases:
            inputs.clear()
            with warnings.catch_warnings():
                warnings.simplefilter("error", RuntimeWarning)
                df = local_df(spark, rows, schema)
            assert [type(d) for d in inputs] == [pd.DataFrame], schema
            assert tuple(df.collect()[0]) == rows[0]
