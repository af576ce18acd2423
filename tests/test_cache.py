"""The session index cache: byte-budgeted LRU with
unpersist-on-evict and pinned index-class entries.

As-of queries key per-snapshot sidecars by seq, so a long
multi-snapshot session would otherwise accumulate persisted frames
without bound (VERDICT r9 hygiene item; the bound became bytes-based
with pinning in r15). Eviction drops STORAGE only — results never
change, the frame just recomputes."""

from nucliadb_spark import api, cache


def test_cache_byte_budget_lru_eviction_unpersists(spark, sf_dir, monkeypatch):
    cache.clear()
    cache.reset_stats()
    # deterministic sizing: every entry bills 100 bytes, budget 250 —
    # so at most two aged (probed) entries plus the newcomer survive
    monkeypatch.setattr(cache, "MAX_BYTES", 250)
    monkeypatch.setattr(cache, "_probe_size", lambda e: (100, True))

    frames = {}
    for i in range(5):
        frames[i] = cache.cached_df(
            "sf", f"entry{i}", lambda i=i: spark.range(i, i + 10)
        )

    held = {k[2] for k in cache._CACHE}
    assert held == {"entry2", "entry3", "entry4"}
    assert cache.EVICTIONS == 2
    # evicted frames lost their storage, survivors kept it
    assert not frames[0].storageLevel.useMemory
    assert not frames[1].storageLevel.useMemory
    assert frames[4].storageLevel.useMemory
    # an evicted frame still computes correctly (plan recomputes)
    assert frames[0].count() == 10

    # a HIT refreshes recency: touch entry2, insert a new one, and
    # entry3 (now the oldest untouched) is the eviction victim
    cache.cached_df("sf", "entry2", lambda: spark.range(2, 12))
    cache.cached_df("sf", "entry5", lambda: spark.range(5, 15))
    held = {k[2] for k in cache._CACHE}
    assert held == {"entry2", "entry4", "entry5"}

    # a hit returns the SAME persisted frame, not a rebuild
    again = cache.cached_df("sf", "entry5", lambda: spark.range(99))
    assert again.count() == 10

    # lookup before build: a hit never calls the builder
    calls = []

    def counted():
        calls.append(1)
        return spark.range(6, 16)

    for _ in range(3):
        cache.cached_df("sf", "entry6", counted)
    assert len(calls) == 1

    # one reset: clear() empties every region, the request-plan memo
    # included, so a repeated request builds a new plan, and
    # unpersists every window the find_window memo held
    req = lambda: api.FindRequest(  # noqa: E731 — fresh object each call
        query="europe asia shipment", features=["keyword"], top_k=5
    )
    first = api.find_request(spark, sf_dir, req())
    assert api.find_request(spark, sf_dir, req()) is first
    first.collect()
    windows = [v[1] for v in cache._REGIONS["find_window"].values()]
    assert windows and all(w.is_cached for w in windows)
    cache.clear()
    assert not cache._CACHE
    assert not any(w.is_cached or w.storageLevel.useMemory for w in windows)
    assert api.find_request(spark, sf_dir, req()) is not first
    cache.clear()


def test_cache_pinned_entries_survive_eviction(spark, monkeypatch):
    cache.clear()
    cache.reset_stats()
    monkeypatch.setattr(cache, "MAX_BYTES", 100)
    monkeypatch.setattr(cache, "_probe_size", lambda e: (100, True))

    # NB: distinct plans per entry — unpersist matches by logical
    # plan, so two entries over identical plans share storage
    live = cache.cached_df(
        "sf", "live_index", lambda: spark.range(100, 120), pinned=True
    )
    for i in range(3):
        cache.cached_df("sf", f"asof{i}", lambda i=i: spark.range(i, i + 10))

    held = {k[2] for k in cache._CACHE}
    # the pinned live index never ages out; unpinned snapshots do
    assert "live_index" in held
    assert live.storageLevel.useMemory
    assert cache.EVICTIONS >= 1
    # pinned entries do not count against the unpinned byte budget
    assert "asof2" in held  # the newcomer always survives

    # a later hit keeps (and can upgrade) pinning
    cache.cached_df("sf", "live_index", lambda: spark.range(100, 120))
    key = (spark.sparkContext.applicationId, "sf", "live_index")
    assert cache._CACHE[key].pinned

    cache.clear()


def test_size_probe_reads_the_bytes_an_entry_holds(spark):
    """A probe reads the bytes an entry's cache holds, never an
    estimate: nothing before any scan, the first partition's bytes
    after a partial scan, and every partition's bytes, loaded, after
    a full one."""
    e = cache._Entry(spark.range(0, 1000, 1, 4).persist(), False, 0)
    assert cache._probe_size(e) == (0, False)
    e.df.limit(1).collect()  # caches the first partition only
    part, loaded = cache._probe_size(e)
    assert part > 0 and not loaded
    e.df.count()
    full, loaded = cache._probe_size(e)
    assert full > part and loaded
    e.df.unpersist()


def test_partly_scanned_entry_is_billed_what_it_holds(spark, monkeypatch):
    """An entry whose partitions are not all cached (an unordered limit
    scans one) is billed the bytes it holds, and probed again at each
    later insert until it is fully materialized."""
    cache.clear()
    monkeypatch.setattr(cache, "MAX_BYTES", 1 << 40)
    part = cache.cached_df("sf", "partly", lambda: spark.range(0, 1000, 1, 4))
    part.limit(1).collect()
    entry = cache._CACHE[(spark.sparkContext.applicationId, "sf", "partly")]
    cache.cached_df("sf", "later0", lambda: spark.range(0, 10))
    assert entry.size > 0 and not entry.loaded
    partial = entry.size
    part.count()
    cache.cached_df("sf", "later1", lambda: spark.range(1, 11))
    assert entry.size > partial and entry.loaded
    cache.clear()


def test_memo_eviction_unpersists_the_evicted_value(spark):
    """A bounded memo region that evicts a value drops the storage of
    the frames the value persisted, and leaves alone a frame it holds
    but never persisted (an unpersist matches by plan, so that one
    would drop an equal-plan frame persisted elsewhere)."""
    cache.clear()
    elsewhere = spark.range(7).persist()
    held = spark.range(3).persist()
    cache.memo("eviction", "a", lambda: ((), held, spark.range(7)), bound=1)
    cache.memo("eviction", "b", lambda: ((), spark.range(4).persist()), bound=1)
    assert not held.is_cached
    assert not held.storageLevel.useMemory
    assert elsewhere.storageLevel.useMemory
    elsewhere.unpersist()
    cache.clear()


def test_scope_sidecars_of_request_chosen_fields_stay_in_budget(
    spark, sf_dir, monkeypatch
):
    """Each scoped request over a new (here nonexistent) field name
    inserts a live ``scope_rids`` sidecar keyed on that name. Those
    are unpinned and billed once materialized: the pinned entries and
    their bytes do not change, and the billed unpinned bytes stay
    within MAX_BYTES."""
    cache.clear()
    cache.reset_stats()
    monkeypatch.setattr(cache, "MAX_BYTES", 1)

    def scoped(name):
        req = api.FindRequest(
            query="europe asia shipment", top_k=5, fields=["a/title", f"a/{name}"]
        )
        api.find_request(spark, sf_dir, req).collect()

    def pinned():
        return {k: e.size for k, e in cache._CACHE.items() if e.pinned}

    scoped("warmup0")
    scoped("warmup1")
    before = pinned()
    for i in range(6):
        scoped(f"nope{i}")
        billed = sum(e.size or 0 for e in cache._CACHE.values() if not e.pinned)
        assert billed <= cache.MAX_BYTES
    assert pinned() == before
    assert cache.EVICTIONS >= 5
    cache.clear()


def test_cache_reset_stats():
    cache.EVICTIONS = 7
    cache.reset_stats()
    assert cache.EVICTIONS == 0


def test_app_keying_lives_in_the_session_store():
    """Only the session store (cache.py) and the durable serving
    substrate (serving.py) read the application id: every other
    module keys its session state through cache.memo/cached_df."""
    import pathlib

    import nucliadb_spark

    root = pathlib.Path(nucliadb_spark.__file__).parent
    offenders = sorted(
        str(p.relative_to(root))
        for p in root.rglob("*.py")
        if p.relative_to(root).as_posix() not in ("cache.py", "serving.py")
        and "applicationId" in p.read_text()
    )
    assert offenders == []


def test_sorted_sidecars_have_one_partition_per_task_slot(spark, sf_dir):
    """The range-partitioned serving sidecars (and the vocabulary,
    which aggregates without a shuffle) take the session's task-slot
    count, so a scan of one runs a task per core."""
    from nucliadb_spark.plans import queries_text
    from nucliadb_spark.sources import tpch

    post, _ = queries_text._text_index(spark, sf_dir)
    sidecars = {
        "postings": post,
        "vocab": queries_text._vocab(sf_dir, post),
        "ff_postings": queries_text._fielded_text_index(spark, sf_dir)[0],
        "relations": tpch.relations_index(spark, sf_dir),
    }
    slots = spark.sparkContext.defaultParallelism
    assert {n: df.rdd.getNumPartitions() for n, df in sidecars.items()} == {
        n: slots for n in sidecars
    }


def test_corpus_frames_are_memoized_with_the_readers(spark, sf_dir):
    """tpch.fields and tpch.fields_multi are plan handles kept in the
    readers region: the same handle on every call of a session, a new
    one after clear()."""
    from nucliadb_spark.sources import tpch

    for frame in (tpch.fields, tpch.fields_multi):
        first = frame(spark, sf_dir)
        assert frame(spark, sf_dir) is first
        cache.clear()
        assert frame(spark, sf_dir) is not first
    assert tpch.fields(spark, sf_dir) is not tpch.fields_multi(spark, sf_dir)
