"""Explicit ownership of what query plans cache: persisted frames, and the
shared at-rest materializations.

Several registry plans persist intermediates that feed multiple branches of
the SAME result (shared shingle explosions, LSH candidate sets). The result
DataFrame is returned lazily, so the plan builder cannot unpersist before
the caller materializes it — but leaving the blocks behind accumulates
cache pressure in a long-lived session (blocks evict each other and the
recompute thrash shows up as latency spikes).

Contract: plan builders register every frame they persist via
``tracked_persist``; whoever materializes the result (bench.py, a test, the
driver harness via ``__spark_entry__.release_caches``) calls
``release_tracked()`` afterwards. Untracked user persists are never
touched — unlike ``spark.catalog.clearCache()``, which nukes the world.

Shared at-rest intermediates (profiled corpus, verified pairs, score
tables, ANN indexes, ...) are built once per process through
``materialize`` and read back by every consumer. Each is a deterministic
function of its input tables and constants (the lineage argument of
D-Streams), so the key ``(family, params, input fingerprints)`` names it
completely: the output path is derived from the key, and a build counts
only once Spark's committer has written its ``_SUCCESS`` marker (written
last; a failed write leaves the directory without it). Small trained
models are kept as collected rows through ``memo_rows`` under the same
keys. ``release_materialized()`` drops both, and runs at process exit.
"""

from __future__ import annotations

import atexit
import hashlib
import os
import shutil
import tempfile
from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame

_TRACKED: list[DataFrame] = []


def tracked_persist(df: DataFrame) -> DataFrame:
    """persist() (MEMORY_AND_DISK: spills instead of OOM at scale) and
    register the frame for a later ``release_tracked()``."""
    _TRACKED.append(df.persist())
    return df


def release_tracked() -> int:
    """Unpersist every tracked frame (blocking=False: async block drop).
    Returns how many frames were released. Safe to call repeatedly and
    with a stopped session."""
    n = 0
    while _TRACKED:
        df = _TRACKED.pop()
        try:
            df.unpersist()
            n += 1
        except Exception:
            pass  # session already stopped — blocks are gone anyway
    return n


# one managed temp root per process for every at-rest build; the prefix
# is what artifact size accounting globs for
_ROOT: str | None = None
_ROWS: dict[str, list] = {}

Inputs = Sequence[tuple[str, str]]


def _table_fingerprint(sf_dir: str, table: str) -> str:
    """Cheap fingerprint of ``table`` at sf_dir (mtime_ns + size over the
    parquet file, or every part file if a directory) — part of every
    at-rest cache key derived from that table, so a scale dir
    regenerated IN-PROCESS invalidates the cached build instead of
    silently serving output built from the old input."""
    path = os.path.join(sf_dir, f"{table}.parquet")
    try:
        st = os.stat(path)
        if os.path.isdir(path):
            tot_m = tot_s = 0
            for name in os.listdir(path):
                s = os.stat(os.path.join(path, name))
                tot_m = max(tot_m, s.st_mtime_ns)
                tot_s += s.st_size
            return f"{tot_m}:{tot_s}"
        return f"{st.st_mtime_ns}:{st.st_size}"
    except OSError:
        return "absent"


def _key(family: str, params: Sequence, inputs: Inputs) -> str:
    """``<family>/<digest>``: the digest covers the constants and every
    input table's location and fingerprint."""
    ident = repr(
        (
            tuple(params),
            tuple((d, t, _table_fingerprint(d, t)) for d, t in inputs),
        )
    )
    return f"{family}/{hashlib.sha256(ident.encode()).hexdigest()[:32]}"


def _root() -> str:
    global _ROOT
    if _ROOT is None or not os.path.isdir(_ROOT):
        _ROOT = tempfile.mkdtemp(prefix="spark_graft_ivf_")
    return _ROOT


def materialize(
    family: str,
    params: Sequence,
    inputs: Inputs,
    build: Callable[[str], None],
) -> str:
    """Path of the committed at-rest build of ``family`` for ``params``
    over ``inputs`` (``(sf_dir, table)`` pairs). ``build(path)`` writes
    it with Spark on a miss; a directory without ``_SUCCESS`` (a build
    that failed part way) is discarded and rebuilt, never served."""
    path = os.path.join(_root(), _key(family, params, inputs))
    done = os.path.join(path, "_SUCCESS")
    if not os.path.isfile(done):
        shutil.rmtree(path, ignore_errors=True)
        build(path)
        if not os.path.isfile(done):
            raise RuntimeError(f"{family} build did not commit {path}")
    return path


def memo_rows(
    family: str,
    params: Sequence,
    inputs: Inputs,
    build: Callable[[], list],
) -> list:
    """``build()``'s collected rows, kept per process under the same key
    as ``materialize`` — for trained models small enough to broadcast
    (centroids, codebooks), where a lazy training plan would re-run
    per consumer."""
    key = _key(family, params, inputs)
    if key not in _ROWS:
        _ROWS[key] = build()
    return _ROWS[key]


def scratch_dir(name: str) -> str:
    """A fresh directory under the managed root, for a write-read plan
    barrier: never a cache hit, dropped with everything else."""
    return tempfile.mkdtemp(prefix=f"{name}_", dir=_root())


def release_materialized() -> None:
    """Drop every at-rest build, memoized row set and the managed root.
    Idempotent; the next consumer rebuilds from scratch."""
    global _ROOT
    _ROWS.clear()
    if _ROOT is not None:
        shutil.rmtree(_ROOT, ignore_errors=True)
        _ROOT = None


atexit.register(release_materialized)
