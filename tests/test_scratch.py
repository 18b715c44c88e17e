"""The tmpfs free-space guard of ``scratch._pick_base``."""

from __future__ import annotations

import os
import warnings
from collections import namedtuple

import pytest

from sressentials_spark import scratch

_Usage = namedtuple("_Usage", "total used free")


def test_pick_base_falls_back_when_shm_is_nearly_full(monkeypatch, tmp_path):
    shm = str(tmp_path / "shm")
    os.makedirs(shm)
    free = {"bytes": scratch.SHM_MIN_FREE_BYTES - 1}
    monkeypatch.setattr(
        scratch.shutil, "disk_usage", lambda p: _Usage(1 << 40, 0, free["bytes"])
    )
    monkeypatch.delenv("SPARK_GRAFT_SCRATCH_DIR", raising=False)
    with pytest.warns(RuntimeWarning, match="scratch floor"):
        assert scratch._pick_base(shm) is None

    free["bytes"] = scratch.SHM_MIN_FREE_BYTES
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        assert scratch._pick_base(shm) == shm

    # The explicit override wins over a full tmpfs, with no warning.
    free["bytes"] = 0
    override = str(tmp_path / "override")
    monkeypatch.setenv("SPARK_GRAFT_SCRATCH_DIR", override)
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        assert scratch._pick_base(shm) == override
    assert os.path.isdir(override)
