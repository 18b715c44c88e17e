"""Process-scoped scratch directories for disk-backed artifacts.

Persisted indexes (dedup band tables, IVF cell stores, staged
streaming arrival sequences) are disk-tier session artifacts
(:func:`sressentials_spark.artifacts.get_or_build` with
``tier="disk"``): they survive ``artifacts.release_persisted`` and
serve many queries per session — but a
session's scratch must not outlive the process, or repeated runs
accumulate unbounded /tmp data (round-5 advisory). Every artifact
builder allocates through :func:`scratch_dir`, which registers the
directory for removal at interpreter exit. At production scale the
same call sites point at warehouse/object-store paths with an
explicit retention policy instead.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import warnings

_SCRATCH_DIRS: list[str] = []

#: Free bytes ``/dev/shm`` must report before scratch lands there. The
#: tmpfs is RAM: index stores, staged arrivals and table copies written
#: to a nearly full one fail mid-write (or push the host into swap), so
#: below this floor the tempfile default on disk is used instead.
SHM_MIN_FREE_BYTES = 1 << 30


def _pick_base(shm: str = "/dev/shm") -> str | None:
    """Root for scratch allocations, resolved once per process.

    Order: ``$SPARK_GRAFT_SCRATCH_DIR`` (explicit override — a cluster
    deployment points this at local SSD / the warehouse mount), else
    ``shm`` (``/dev/shm``) when it is a writable tmpfs with at least
    :data:`SHM_MIN_FREE_BYTES` free (this engine's scratch is
    EPHEMERAL by construction — availableNow replay checkpoints,
    per-session index stores, staged arrivals, all removed at process
    exit — and the state-store/commit-log path fsyncs per micro-batch
    per partition: measured 5-9 ms/fsync on this sandbox's ext4 vs
    ~0.01 ms on tmpfs, i.e. seconds per streaming replay; guide §5/§6
    "fast local disks" applied to the one I/O path that is pure
    harness overhead), else the tempfile default — with a warning
    when the tmpfs was skipped for lack of space. Returning a path
    implies it exists and is writable."""
    override = os.environ.get("SPARK_GRAFT_SCRATCH_DIR")
    if override:
        os.makedirs(override, exist_ok=True)
        return override
    if os.path.isdir(shm) and os.access(shm, os.W_OK):
        free = shutil.disk_usage(shm).free
        if free >= SHM_MIN_FREE_BYTES:
            return shm
        warnings.warn(
            f"{shm} has {free} bytes free, under the {SHM_MIN_FREE_BYTES}-byte "
            "scratch floor; using the tempfile default instead",
            RuntimeWarning,
            stacklevel=2,
        )
    return None  # tempfile default (honors TMPDIR)


_BASE = _pick_base()


def scratch_dir(prefix: str) -> str:
    """mkdtemp (under the resolved scratch base) that is removed at
    process exit."""
    d = tempfile.mkdtemp(prefix=prefix, dir=_BASE)
    _SCRATCH_DIRS.append(d)
    return d


def register_scratch(path: str) -> str:
    """Register an existing directory for exit-time removal."""
    _SCRATCH_DIRS.append(path)
    return path


def _cleanup() -> None:
    while _SCRATCH_DIRS:
        shutil.rmtree(_SCRATCH_DIRS.pop(), ignore_errors=True)


atexit.register(_cleanup)
