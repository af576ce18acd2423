"""Session store: everything the engine keeps for one Spark application.

A search engine doesn't re-tokenize its corpus per query: tantivy
serves from built segments (SURVEY §2.1 S3). The batch analog is a
persisted derived table per (corpus, index) pair, built by a session's
first query and reused by every later one. This module holds that
state, and every other per-session memo of the engine, behind one
path: look the key up, and build only on a miss. A hit never calls
the builder, so it never constructs, lists files for, or persists a
plan it would throw away.

App keying. Every key starts with the id of the live application,
read here from ``SparkSession.active()`` and nowhere else: a restarted
or different session rebuilds instead of serving frames of a dead
context.

Regions.

- ``cached_df``: persisted index sidecars (``_CACHE``, keys
  ``(app, sf_dir, name)``), bounded in BYTES. An entry is billed the
  bytes its cached buffers hold, probed at every later insert until
  all of its partitions are materialized, so a partly scanned entry
  is billed what it holds. An optimizer estimate is never billed, so
  it can never evict the working set. When the billed unpinned total
  exceeds
  ``MAX_BYTES`` the least-recently-used unpinned entries are evicted.
  Eviction unpersists the entry — dropping storage only; any plan
  still holding the frame recomputes it lazily, so eviction can never
  change results. Hot shared index artifacts (the live text index,
  centroids, the relations index) are inserted with ``pinned=True``
  and never evicted; the families keyed by request or snapshot values
  (per-snapshot as-of sidecars, field-scope rid sets) are unpinned
  and age out. Sorted sidecars take their layout from
  ``sorted_sidecar``: one range partition per task slot of the
  session.
- ``memo(region, key, build, bound)``: one LRU dict per named region.
  The find memos keep their 256 most recent requests: ``find_window``
  (``api.find_request``'s legs and fusion cut at the fusion window,
  shared by requests that differ only in ``top_k``, cursor or
  reranker), ``find_request`` (each request's cursor, rerank and
  ``top_k`` cut over its window) and ``find`` (``find.find``). The
  window layer holds a persisted RESULT: a window ranks an immutable
  input (a snapshot, or the session's pinned live index), so its
  first collect fills it and every later page reads it. Only windows
  at most the fusion window's 500 rows deep are persisted (a deeper,
  user-chosen ``top_k`` keeps a plan handle), so the region holds at
  most 256 × 500 rows. The other two layers hold plan handles. A
  ``find_request`` hit marks the windows its page reads most recently
  used (``touch``); a page whose window was evicted is built anew
  over a new window. Evicting a value unpersists every frame it
  persisted. The other regions are unbounded, since their keys are
  table names, paths and fixed sidecar names: ``cached_scalar``'s
  index-build statistics, ``readers`` (``tpch.table``'s parquet
  reader frames and the corpus frames derived from them,
  ``tpch.fields`` and ``tpch.fields_multi``: plan handles holding no
  rows), the streaming readStream schemas and the package-zip
  registration.

Plan memos key a request with ``request_key``, built from canonical
values only, so two different requests can never share a key.

``clear()`` empties every region and unpersists every frame held in
one. Single-threaded by design: Spark driver-side query construction
in this engine happens on one thread; the counters are plain ints.
"""

from __future__ import annotations

import dataclasses
import datetime
import os
from collections import OrderedDict
from collections.abc import Callable, Hashable

from pyspark.sql import DataFrame, SparkSession
from pyspark.storagelevel import StorageLevel

# Byte budget for UNPINNED entries (the snapshot-keyed families).
# Default 8 GiB: the full 275-query registry tour's sidecars sum to
# well under 1 GiB at bench scale, so the tour never evicts (the r14
# thrash signal stays fixed), while a long-lived multi-tenant session
# touring thousands of snapshots is bounded by storage, not entry
# count. MEMORY_AND_DISK entries spill, so the budget bounds footprint
# rather than guarding the heap.
MAX_BYTES = int(os.environ.get("NUCLIADB_SPARK_CACHE_MAX_BYTES", str(8 << 30)))


class _Entry:
    __slots__ = ("df", "pinned", "size", "loaded", "born", "builder")

    def __init__(self, df: DataFrame, pinned: bool, born: int):
        self.df = df
        self.pinned = pinned
        self.size: int | None = None  # cached bytes at the last probe
        self.loaded = False  # all partitions materialized: size is final
        self.born = born
        self.builder = None  # the JVM cache builder, looked up once


_CACHE: OrderedDict[tuple[str, str, str], _Entry] = OrderedDict()
_INSERTS = 0

# observability: evictions in a session with a right-sized budget
# should be ~0; a growing count is the thrash signal (perfbench
# reports it per run as cache.evictions)
EVICTIONS = 0

# region name -> LRU dict of (app, key) -> value
_REGIONS: dict[str, OrderedDict] = {}
_MISSING = object()


def _app() -> str:
    return SparkSession.active().sparkContext.applicationId


def reset_stats() -> None:
    """Zero the observability counters (sweep-scoped profiling)."""
    global EVICTIONS
    EVICTIONS = 0


def _probe_size(e: _Entry) -> tuple[int, bool] | None:
    """``(bytes, loaded)``: the bytes the entry's cached buffers hold
    now and whether all of its partitions are materialized, or None
    while it has no cache entry. Only the first probe looks the plan
    up among the cached plans."""
    try:
        if e.builder is None:
            e.builder = (
                e.df.sparkSession._jsparkSession.sharedState()
                .cacheManager()
                .lookupCachedData(e.df._jdf)
                .get()
                .cachedRepresentation()
                .cacheBuilder()
            )
        return (
            int(e.builder.sizeInBytesStats().value()),
            bool(e.builder.isCachedColumnBuffersLoaded()),
        )
    except Exception:  # noqa: BLE001 — unpersisted, or a dead context
        return None


def cached_names(sf_dir: str) -> list[str]:
    """Names currently cached for this (application, sf_dir) —
    lets builders CHAIN from existing sidecars (e.g. the as-of text
    index advances the nearest cached earlier snapshot instead of
    building from scratch). Read-only; does not touch LRU order."""
    app = _app()
    return [n for (a, s, n) in _CACHE if a == app and s == sf_dir]


def cached_df(
    sf_dir: str,
    name: str,
    builder: Callable[[], DataFrame],
    pinned: bool = False,
) -> DataFrame:
    key = (_app(), sf_dir, name)
    entry = _CACHE.get(key)
    if entry is None:
        global _INSERTS
        df = builder()
        _INSERTS += 1
        entry = _Entry(
            df.persist(StorageLevel.MEMORY_AND_DISK), pinned, _INSERTS
        )
        _CACHE[key] = entry
        _enforce_budget()
    else:
        entry.pinned = entry.pinned or pinned
        _CACHE.move_to_end(key)
    return entry.df


def sorted_sidecar(df: DataFrame, *cols: str) -> DataFrame:
    """``df`` range-partitioned and sorted by ``cols`` — the layout of
    a sorted index sidecar, whose cached batches' min/max statistics
    prune scans on ``cols``. It has one partition per task slot of the
    session (``defaultParallelism``): every scan of a cached sidecar
    launches one task per partition, so a fixed count would pay for
    idle slots on a small machine and leave cores idle on a big one."""
    n = df.sparkSession.sparkContext.defaultParallelism
    return df.repartitionByRange(n, *cols).sortWithinPartitions(*cols)


def _enforce_budget() -> None:
    """Probe the sizes of entries that have aged one insert and are not
    fully materialized yet, then evict unpinned LRU entries while the
    billed unpinned total exceeds MAX_BYTES."""
    for e in _CACHE.values():
        if not e.loaded and e.born < _INSERTS:
            probed = _probe_size(e)
            if probed is not None:
                e.size, e.loaded = probed
    total = sum(e.size or 0 for e in _CACHE.values() if not e.pinned)
    if total <= MAX_BYTES:
        return
    global EVICTIONS
    for key in list(_CACHE):
        if total <= MAX_BYTES:
            break
        e = _CACHE[key]
        if e.pinned or e.born == _INSERTS:  # never evict the newcomer
            continue
        del _CACHE[key]
        total -= e.size or 0
        EVICTIONS += 1
        _unpersist(e.df)


def _unpersist(value) -> None:
    """Unpersist every frame ``value`` persisted: ``value`` itself, or
    the items of a tuple ``value``. A frame it holds but never
    persisted is left alone. Unpersisting drops the cache entry of the
    frame's plan, which every frame with an equal plan shares: such a
    frame, persisted under another key, loses its storage too, and its
    next collect recomputes it."""
    for v in value if isinstance(value, tuple) else (value,):
        if isinstance(v, DataFrame) and v.is_cached:
            try:
                v.unpersist()
            except Exception:  # noqa: BLE001
                pass  # dead context — storage is already gone


def memo(
    region: str,
    key: Hashable | None,
    build: Callable[[], object],
    bound: int | None = None,
):
    """The value stored under ``key`` in ``region`` for the live
    application, built (and stored) only on a miss. A ``None`` key —
    a request ``request_key`` cannot canonicalize — is built fresh and
    not stored. With a ``bound`` the region keeps that many most
    recently used entries; evicting one unpersists the frames it
    persisted."""
    if key is None:
        return build()
    store = _REGIONS.setdefault(region, OrderedDict())
    key = (_app(), key)
    value = store.get(key, _MISSING)
    if value is _MISSING:
        value = store[key] = build()
        while bound is not None and len(store) > bound:
            _unpersist(store.popitem(last=False)[1])
    else:
        store.move_to_end(key)
    return value


def touch(region: str, key: Hashable) -> bool:
    """Whether ``region`` holds ``key`` for the live application; if
    so, mark it the most recently used."""
    store = _REGIONS.get(region, {})
    key = (_app(), key)
    if key not in store:
        return False
    store.move_to_end(key)
    return True


def forget(region: str, key: Hashable) -> None:
    """Drop ``key`` from ``region`` without unpersisting its value."""
    _REGIONS.get(region, {}).pop((_app(), key), None)


def cached_scalar(sf_dir: str, name: str, compute: Callable[[], object]):
    """Session-scoped scalar sidecar (e.g. the corpus doc count used
    by the prefilter All/None fast path) — an index-build statistic,
    not per-query work."""
    return memo("scalars", (sf_dir, name), compute)


# scalars are keyed by type and repr, which for these types carries
# the whole value and no address (and tells 0.0 from -0.0)
_SCALAR_TYPES = frozenset(
    (type(None), bool, int, float, str, bytes, datetime.date, datetime.datetime)
)


class _NoKey(Exception):
    """A value without a canonical form."""


def _canon(v) -> Hashable:
    t = type(v)
    if t in _SCALAR_TYPES:
        return (t, repr(v))
    if t is list or t is tuple:
        return (t, tuple(_canon(x) for x in v))
    if t is dict:
        return (t, tuple((_canon(k), _canon(x)) for k, x in v.items()))
    if isinstance(v, DataFrame):
        # identity: the key holds the frame, so its id is never reused
        return v
    if dataclasses.is_dataclass(v) and not isinstance(v, type):
        # the class itself, not its name: two classes defined by one
        # function body share a qualified name
        return (t, tuple(_canon(getattr(v, f.name)) for f in dataclasses.fields(v)))
    raise _NoKey


def request_key(*values) -> Hashable | None:
    """Plan-memo key of a request's values, or None (do not memoize)
    when any value — e.g. a filter node that is not a dataclass —
    has no canonical form."""
    try:
        return tuple(_canon(v) for v in values)
    except _NoKey:
        return None


def clear() -> None:
    """Empty every region, unpersisting the frames held in them."""
    for e in _CACHE.values():
        _unpersist(e.df)
    for store in _REGIONS.values():
        for value in store.values():
            _unpersist(value)
    _CACHE.clear()
    _REGIONS.clear()
