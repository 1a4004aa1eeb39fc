"""Session-scoped materialized-frame cache (train-once/serve-many),
and the one decision of when a frame is checkpointed (`materialize`).

Queries that share an expensive derived frame — a trained LM, a
scored corpus, a thresholded graph edge list — must not each
recompute it: the production shape is "materialize once, every
consumer reads the table". This module provides that shape inside
one SparkSession: the first caller writes the frame to parquet under
a per-application temp directory and every later caller (same
application, same cache key) gets a plain parquet scan of it.

Parquet, NOT .cache()/.localCheckpoint(), on purpose: the bench
harness sweep-unpersists every persisted RDD between timed runs to
keep executor memory flat, and a localCheckpointed frame is
UNRECOVERABLE once its blocks drop (its lineage is truncated —
hitting it again raises CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND; this
bit round 8's first bench run). A parquet-backed frame is immune to
the sweep, survives for the life of the session, and reads back
with column pruning and predicate pushdown like any table.

`materialize(df, why)` is the in-plan form: one eager
``localCheckpoint`` whose reason is a `Why`, the way a KTable that
needs a store says so with ``Materialized.as(...)``. A checkpointed
frame does not survive the harness's unpersist sweep, so it never
outlives the plan that made it; what must outlive a plan uses
`materialized`.

Entries are keyed by (applicationId, cache_key); entries from dead
applications are dropped on insert (their temp files die with the
OS temp dir). Keys must identify the INPUT corpus (pass the sf_dir
or another corpus identity) — the cache never inspects the data.

STORAGE CONTRACT (cluster vs local): the parquet base directory is
``spark.sparkgraft.cacheDir`` (a Spark conf, settable at session
build or via spark.conf.set before first use). On a REAL cluster
this MUST point at shared storage every executor can read (HDFS/
S3/NFS) — the default fallback, a driver-local tempfile.mkdtemp(),
is only readable off-driver on single-node deployments like the
local[n] test/bench setup. Each application writes under its own
``<cacheDir>/<applicationId>/`` subdirectory, so one shared root
serves many concurrent applications without key collisions.
"""

from __future__ import annotations

import enum
import hashlib
import os
import re
import tempfile
import weakref

from pyspark.sql import DataFrame

CACHE_DIR_CONF = "spark.sparkgraft.cacheDir"

_FRAMES: dict[tuple[str, str], DataFrame] = {}
_SCALARS: dict[tuple[str, str], object] = {}
_DIRS: dict[str, str] = {}
_BUILD_EVENTS: list[str] = []
# every frame this module returned: `materialize` results and
# `materialized` reads — already materialized, by object identity
_RETURNED: weakref.WeakSet[DataFrame] = weakref.WeakSet()


class Why(enum.Enum):
    """Why a frame is materialized."""

    OVERWRITE = "the plan reads a path that it then overwrites"
    SELF_JOIN = "both sides of a self-join read the frame"
    SHARED = "the frame has several consumers"
    ROUND = "the checkpoint cuts a loop's lineage"


def materialize(df: DataFrame, why: Why) -> DataFrame:
    """``df`` checkpointed once, eagerly (`localCheckpoint`), for the
    reason ``why``. A frame this module already returned comes back
    unchanged — it is stored data, and a second checkpoint only adds a
    job — except under `Why.OVERWRITE`: that frame is about to be
    written over a path its plan may read, so it is always
    checkpointed."""
    if why is not Why.OVERWRITE and df in _RETURNED:
        return df
    out = df.localCheckpoint()
    _RETURNED.add(out)
    return out


def drain_build_events() -> list[str]:
    """Cache keys BUILT (i.e. missed) since the last drain — the
    bench harness's cache-attribution probe (round-13 verdict task
    5): a query whose timed runs triggered a substrate build is not
    wall-comparable with a pass where another query paid that build
    first, so the harness drains this after every run and flags the
    query `substrate_cold` in the detail artifact instead of letting
    the shift read as a plan regression."""
    out = list(_BUILD_EVENTS)
    _BUILD_EVENTS.clear()
    return out


def _slug(key: str) -> str:
    # the readable prefix is lossy (collapses '|', '/', spaces; 120-char
    # truncation), so two distinct keys could alias one path and the
    # second build would silently overwrite the first's files while its
    # cached frame still scans them — the md5 suffix makes the path
    # injective in the full key
    readable = re.sub(r"[^A-Za-z0-9_.-]+", "_", key).strip("_")[:120]
    return f"{readable}-{hashlib.md5(key.encode()).hexdigest()[:8]}"


def _base_dir(spark, app: str) -> str:
    """Per-application cache root: <spark.sparkgraft.cacheDir>/<appId>,
    falling back to a driver-local temp dir when the conf is unset
    (correct on local[n]; on a cluster, set the conf to shared
    storage — see module docstring)."""
    if app in _DIRS:
        return _DIRS[app]
    root = spark.conf.get(CACHE_DIR_CONF, None)
    if root:
        base = os.path.join(root, app)
    else:
        base = tempfile.mkdtemp(prefix="sparkgraft_session_cache_")
    _DIRS[app] = base
    return base


def materialized(spark, cache_key: str, build) -> DataFrame:
    """Return the parquet-backed frame for ``cache_key``, calling
    ``build()`` (-> DataFrame) and writing its result only on the
    first call per (application, cache_key). ``build`` is a thunk so
    cache hits pay ZERO plan construction or side jobs."""
    app = spark.sparkContext.applicationId
    key = (app, cache_key)
    hit = _FRAMES.get(key)
    if hit is not None:
        return hit
    path = os.path.join(_base_dir(spark, app), _slug(cache_key))
    _BUILD_EVENTS.append(cache_key)
    build().write.mode("overwrite").parquet(path)
    out = spark.read.parquet(path)
    _RETURNED.add(out)
    for k in [k for k in _FRAMES if k[0] != app]:
        del _FRAMES[k]
    for k in [k for k in _SCALARS if k[0] != app]:
        del _SCALARS[k]
    _FRAMES[key] = out
    return out


def materialized_group(
    spark, prefix: str, names, build
) -> dict[str, DataFrame]:
    """Cache SEVERAL frames produced by one training pass (an index's
    codes/centroids/codebooks): ``build()`` -> {name: DataFrame} is
    called at most once per (application, prefix); each frame is
    parquet-backed under its own ``{prefix}|{name}`` key. Safe as a
    group because all members are written inside the same first call
    — a later application misses (and rebuilds) all of them
    together, never a partial mix of generations."""
    built: dict[str, DataFrame] = {}

    def thunk(n: str):
        def f() -> DataFrame:
            if not built:
                built.update(build())
            return built[n]

        return f

    return {
        n: materialized(spark, f"{prefix}|{n}", thunk(n)) for n in names
    }


def cached_scalar(spark, cache_key: str, compute):
    """Driver-side scalar twin of `materialized` (e.g. a vocab size
    that rides along a cached model frame)."""
    app = spark.sparkContext.applicationId
    key = (app, cache_key)
    if key not in _SCALARS:
        _SCALARS[key] = compute()
    return _SCALARS[key]
