"""The session staging registry: every value a query stages once per session.

Nearly every query consumes something staged once and reused: the derived
ops feed, the capture lanes and the broker bus (persisted frames), chunked
stream feeds and streaming-family artifacts (directories, sinks), and
driver-side scalars (BPE merges, AllPairs estimates, IVM epoch counts).
Rebuilding them per query repeats the same scan and shuffle dozens of times
in a bench run.  This module is the one place they live: the Spark twin of
the reference harness's single ``received[]`` event log that every
verification reads (``harness/verifier/index.js:248-285``).

Contract:

- ``memo(spark, key, build)`` returns the value staged for ``key`` in this
  Spark session, calling ``build()`` on first use only.  A key names every
  input the value depends on besides the session (``sf_dir``, chunk counts,
  kind); a module constant left out of a key must not change while its
  entries live (tools that rebind one call ``clear_shared()`` first).
- Entries are scoped by ``applicationId``: the first miss in a new session
  drops every entry of a dead one and deletes its scratch root, so a
  process never mixes sessions.
- ``scratch_dir(spark, prefix)`` makes a fresh directory under the
  session's one scratch root; no query writes anywhere else.
- ``shared_df(spark, key, builder)`` is ``memo`` of a persisted,
  cache-anchored frame (below).
- ``clear_shared()`` releases everything the registry holds: it unpersists
  the frames, destroys the broadcasts and deletes the scratch root.  Frames,
  paths and broadcasts handed out before it are invalid after it; the next
  call for a key rebuilds.

Concurrency: bench warm-ups and the streaming families stage from several
driver threads.  One short mutex guards the dict, so a hit is one locked
read.  A build holds only its own key's (reentrant) lock, so two threads
asking for one key build it once while independent keys build concurrently.
Builders may ask for other keys (upstream frames, chunk feeds); the
dependencies form a DAG, so per-key locks cannot deadlock.

Staged frames are handed to consumers as **cache-anchored** DataFrames: the
frame is persisted as usual (compressed columnar InMemoryRelation), but the
DataFrame returned is rebuilt over the cache-substituted logical plan, so
its plan is the ``InMemoryRelation`` LEAF rather than the frame's full
lineage.  Why: with plain persist every downstream query re-runs analysis
over the staged frame's whole builder pipeline (and every AQE broadcast-
build job re-plans it again) — measured as the dominant steady-state cost
of the short metric queries (job walls summed to <1 s of a 2.3 s query; the
rest was driver-side planning gaps — see OPTIMIZATION_r08.md).  Anchoring
shrinks every consumer's plan tree to a leaf while KEEPING what the cache
gives the planner: accurate size statistics (auto-broadcast decisions) and
the cached output partitioning (exchange reuse) — the two things a
``localCheckpoint`` lineage cut was measured to lose (SortMergeJoins and
re-shuffles reappeared; events_session_concurrency 0.9 → 4.8 s).
"""

from __future__ import annotations

import atexit
import math
import shutil
import tempfile
import threading
from collections.abc import Callable

from pyspark import StorageLevel
from pyspark.broadcast import Broadcast
from pyspark.sql import DataFrame, SparkSession

# (applicationId, *key) -> staged value
_ENTRIES: dict[tuple, object] = {}
# (applicationId, *key) -> the lock its build holds
_BUILD_LOCKS: dict[tuple, threading.RLock] = {}
_MUTEX = threading.Lock()
# key of the session's scratch root directory
_ROOT = ("scratch_root",)


def memo(spark: SparkSession, key: tuple, build: Callable[[], object]) -> object:
    """Return the value staged for ``key`` this session, building it once."""
    app = spark.sparkContext.applicationId
    full = (app, *key)
    with _MUTEX:
        if full in _ENTRIES:
            return _ENTRIES[full]
        dead = [(k, _ENTRIES.pop(k)) for k in [k for k in _ENTRIES if k[0] != app]]
        for k in [k for k in _BUILD_LOCKS if k[0] != app]:
            del _BUILD_LOCKS[k]
        lock = _BUILD_LOCKS.setdefault(full, threading.RLock())
    # a dead session's frames and broadcasts died with it; its files did not
    _release(_roots(dead))
    with lock:
        with _MUTEX:
            if full in _ENTRIES:
                return _ENTRIES[full]
        value = build()
        with _MUTEX:
            _ENTRIES[full] = value
    return value


def scratch_dir(spark: SparkSession, prefix: str) -> str:
    """A fresh directory under this session's scratch root."""
    root = memo(spark, _ROOT, lambda: tempfile.mkdtemp(prefix="sg_session_"))
    return tempfile.mkdtemp(prefix=prefix, dir=root)


def shared_df(
    spark: SparkSession, key: tuple, builder: Callable[[], DataFrame]
) -> DataFrame:
    """Return the frame for ``key``, building, persisting and anchoring it
    on first use.  The entry keeps the as-built persisted frame beside the
    anchored one: unpersist must run against it, because the cache manager
    matches registered plans, not the anchored InMemoryRelation leaves
    handed to consumers."""

    def build() -> tuple[DataFrame, DataFrame]:
        built = builder().persist(StorageLevel.MEMORY_AND_DISK)
        return _anchor_to_cache(spark, built), built

    return memo(spark, key, build)[0]


def _roots(entries: list[tuple[tuple, object]]) -> list[tuple[tuple, object]]:
    return [(k, v) for k, v in entries if k[1:] == _ROOT]


def _release(entries: list[tuple[tuple, object]]) -> None:
    """Free what registry entries hold: persisted frames, broadcasts and
    the scratch root."""
    for key, value in entries:
        if key[1:] == _ROOT:
            shutil.rmtree(value, ignore_errors=True)
            continue
        for v in value if isinstance(value, tuple) else (value,):
            try:
                if isinstance(v, DataFrame) and v.is_cached:
                    v.unpersist(blocking=True)
                elif isinstance(v, Broadcast):
                    v.destroy()
            except Exception:
                pass  # session already stopped — nothing held


def _anchor_to_cache(spark: SparkSession, built: DataFrame) -> DataFrame:
    """Rebuild ``built`` over its cache-substituted logical plan.

    ``QueryExecution.withCachedData`` is the plan the planner would execute
    anyway (the registered persist entry replaces the lineage with an
    ``InMemoryRelation``); materializing a DataFrame directly over it makes
    that substitution the consumer-visible LEAF, so downstream plans stop
    carrying — and re-analyzing — the builder pipeline.  Falls back to the
    plain persisted frame if the internal Dataset hook is unavailable."""
    try:
        rel = built._jdf.queryExecution().withCachedData()
        # Drop the relation's outputOrdering before handing it out:
        # InMemoryRelation.withOutput (run during canonicalization and
        # after DeduplicateRelations newInstance's a self-joined leaf)
        # rewrites ordering attributes through an AttributeMap built ONLY
        # from the current output — a stale ordering reference throws
        # "key not found: <attr>" deep in plan canonicalization (hit by
        # every query composing two docs-derived staged frames).  The
        # ordering is a planner hint, not a correctness property; losing
        # it costs at most a re-sort on frames consumers re-sort anyway.
        rel = rel.copy(
            rel.output(), rel.cacheBuilder(), spark._jvm.PythonUtils.toSeq([])
        )
        getattr(rel, "statsOfPlanToCache_$eq")(
            built._jdf.queryExecution().withCachedData().statsOfPlanToCache()
        )
        # fresh output attribute ids: sibling staged frames built from the
        # same base frame inherit ITS expression ids; two anchored leaves
        # with colliding ids in one query would break attribute resolution
        rel = rel.newInstance()
        jdf = spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
            spark._jsparkSession, rel
        )
        return DataFrame(jdf, spark)
    except Exception as e:
        # LOUD fallback: anchoring rides Spark-internal hooks
        # (withCachedData, statsOfPlanToCache_$eq, classic.Dataset.ofRows) —
        # on a Spark upgrade the whole optimization would otherwise vanish
        # silently with zero test failure (the plain persisted frame is
        # still correct, just slow).  tests/test_plan_sweep.py additionally
        # pins that an anchored frame plans as an InMemoryRelation leaf.
        global _ANCHOR_FALLBACKS
        _ANCHOR_FALLBACKS += 1
        import warnings

        warnings.warn(
            f"shared_df anchoring fell back to plain persist ({type(e).__name__}: {e}); "
            "consumer plans will re-carry full builder lineage",
            RuntimeWarning,
            stacklevel=2,
        )
        return built


#: count of _anchor_to_cache failures this process — observable from tests
#: and ops tooling (non-zero means the Spark-internal anchoring hook broke)
_ANCHOR_FALLBACKS = 0


def local_df(spark: SparkSession, rows: list[tuple], schema: str) -> DataFrame:
    """Small driver-literal frame as a constant LocalRelation (VALUES form).

    ``spark.createDataFrame(list)`` parallelizes the rows into
    ``defaultParallelism`` pickled slices and spawns a Python worker PER
    SLICE on first compute — measured 0.5-0.8 s per call in a 32-core
    session for a 25-row frame, paid again on every re-execution (and once
    more inside any broadcast build of the frame).  The VALUES form plans
    as a constant-folded ``LocalRelation``: zero RDD, zero Python workers,
    exact schema via per-column casts.  Scalars only (finite int/float/str/
    bool/None); ``schema`` is the same DDL string ``createDataFrame`` takes
    (simple types only — a parenthesised type carrying a comma, e.g.
    ``decimal(38,2)``, would break the split, so those are rejected).
    """
    if not rows:  # VALUES needs >= 1 tuple; empty stays on the classic path
        return spark.createDataFrame([], schema)
    if "(" in schema:
        # a parenthesised type carrying a comma (decimal(38,2), char(n)…)
        # would silently mis-split the DDL into garbage columns — fail fast
        raise ValueError(
            f"local_df: parameterised types are unsupported (schema {schema!r}); "
            "use a simple type and cast downstream"
        )
    cols = [c.strip() for c in schema.split(",")]
    names = [c.split(None, 1)[0] for c in cols]
    types = [c.split(None, 1)[1] for c in cols]

    def lit(v) -> str:
        if v is None:
            return "NULL"
        if isinstance(v, bool):
            return "TRUE" if v else "FALSE"
        if isinstance(v, str):
            return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
        if isinstance(v, float) and not math.isfinite(v):
            # repr(inf/nan) is not valid SQL — a future caller would get a
            # parse error (or silently wrong literals), so fail loudly here
            raise ValueError(f"local_df: non-finite float {v!r} is not renderable")
        return repr(v)

    vals = ",".join("(" + ",".join(lit(v) for v in row) + ")" for row in rows)
    inner = ",".join(f"c{i}" for i in range(len(names)))
    sel = ",".join(
        f"CAST(c{i} AS {t}) AS `{nm}`" for i, (nm, t) in enumerate(zip(names, types))
    )
    return spark.sql(f"SELECT {sel} FROM (VALUES {vals}) AS t({inner})")


def clear_shared() -> int:
    """Release every registry entry (see the module contract); returns the
    count dropped.  A long-lived driver (notebook, service) otherwise holds
    staged storage and scratch files until its session dies.  Call between
    workloads (the bench and the sweep tools do after a full pass)."""
    with _MUTEX:
        entries = list(_ENTRIES.items())
        _ENTRIES.clear()
        _BUILD_LOCKS.clear()
    _release(entries)
    return len(entries)


# a driver that exits without clear_shared() still leaves no scratch files
atexit.register(lambda: _release(_roots(list(_ENTRIES.items()))))
