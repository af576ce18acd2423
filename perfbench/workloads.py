"""Workload definitions and the seeded operation generator.

Every workload is a deterministic stream of plain, JSON-serialisable
operations made from the workload seed alone: the same seed gives a
byte-identical stream (``stream_bytes``). The runner turns each
operation into engine inputs (a ``FindRequest``, a log tranche to
drain, a vacuum horizon); nothing else reaches the engine.

The stream repeats a fixed cycle of operation kinds and shapes; the
seed picks the values inside each slot (terms, filters, top_k, query
vector, snapshot seqs); which earlier request a repeat takes, by
position, is the same for every seed. A run sends a fixed number of
operations: ``warmup_ops`` untimed ones from the head of the stream,
then ``timed_ops`` timed ones, both whole cycles. So two seeds, or two
commits of the engine, differ in the inputs, never in the mix or the
number of operations timed: a faster engine does the same work
faster, not more of it.

All loops are closed loops with one client: the next operation is
sent only after the previous one has returned its collected result,
because callers of a search API wait for each answer.
"""

from __future__ import annotations

import json
import random
from dataclasses import dataclass
from itertools import islice
from typing import Iterator

from perfbench import corpus

MB = 1 << 20


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    # untimed operations from the head of the stream, run in set-up
    warmup_ops: int
    # the operations after them, timed
    timed_ops: int


# The byte budget for unpinned engine cache entries
# (NUCLIADB_SPARK_CACHE_MAX_BYTES) in every run. Cache sizes, measured
# on the benchmark corpus (corpus.SIZES) as the engine's probed entry
# sizes at the end of a run with an 8 MB budget:
# find_live holds 6.8 MB of sidecars, all pinned (index artifacts the
# budget never evicts) and no unpinned ones, so it fits any budget;
# asof_cdc's per-snapshot sidecars are unpinned and reach 2.1 MB. A
# 1 MB budget is below asof_cdc's snapshot working set, so it evicts.
CACHE_BUDGET = 1 * MB

# --- find_live ----------------------------------------------------------

# First-seen request shapes, in cycle order: (features, field scope,
# label filter tree, security groups, query terms, entity terms). A
# filter tree is nested lists of "and"/"or"/"not" over "L" (language)
# and "S" (source) leaves, each a label facet the seed picks. The seed
# fills in values only, so every seed sends the same plan shapes. The
# shapes run in this order, one per first-seen request; the warm-up
# takes the first, and the timed ops start at the second and wrap
# round to it, once over all twelve: an even count, so the first-seen
# median is the mean of two requests and does not jump between the
# cost classes either side of the middle one. Each shape has a DuckDB
# twin (twins.find_sql). Scopes are single-family (a multi-family
# scope sums per-family scores) and carry no filters (a scoped filter
# is evaluated per field row, a shape with no twin here).
SHAPES = (
    (("keyword", "semantic"), None, None, 0, 3, 0),
    (("keyword",), None, ["and", ["L", "S"]], 0, 2, 0),
    (("keyword", "semantic", "graph"), None, None, 1, 3, 1),
    (("semantic",), None, "S", 2, 2, 0),
    (("keyword", "semantic"), ["a/title"], None, 0, 3, 0),
    (("keyword", "graph"), None, ["or", ["S", ["not", "L"]]], 0, 2, 2),
    (("keyword", "semantic", "graph"), ["u/link"], None, 0, 4, 1),
    (("keyword", "semantic"), None, ["and", ["L", ["or", ["S", "S"]]]], 1, 3, 0),
    (("keyword", "semantic", "graph"), ["t/body"], None, 0, 2, 1),
    (("keyword", "semantic"), None, ["or", ["L", "S"]], 2, 4, 0),
    (("keyword", "graph"), None, "L", 1, 3, 1),
    (("keyword",), ["a/title"], None, 0, 2, 0),
)
TOP_KS = (5, 10, 20)
LABELS = {
    "L": [f"/s/p/{lang}" for lang in corpus.LANGS],
    "S": [f"/u/s/src{i}" for i in range(20)],
}
GROUPS = [f"group-{i}" for i in range(7)]
# the relation fixture links part:N to paragraphs of document N % 500
ENTITY_RANGE = 500
# each first-seen request is followed by this many repeats
REPEATS_PER_FIRST = 4
# Which earlier request a repeat takes, by position, comes from this
# fixed seed in both workloads, so every seed repeats the same shapes
# (find_live) or snapshots (asof_cdc) equally often; a repeat's cost
# depends on its shape, and with the run's seed picking positions one
# seed's repeats would lean on its costlier shapes
REPEAT_PICKS_SEED = 0


def _fill(tree, rng: random.Random):
    """A filter tree template with each leaf replaced by
    ["facet", label]; see twins.filter_expr."""
    if isinstance(tree, str):
        return ["facet", rng.choice(LABELS[tree])]
    op, arg = tree
    if op == "not":
        return ["not", _fill(arg, rng)]
    return [op, [_fill(t, rng) for t in arg]]


def find_request(rng: random.Random, shape) -> dict:
    features, scope, tree, n_groups, n_terms, n_entities = shape
    terms = rng.sample(corpus.VOCAB, n_terms)
    terms += [f"part:{rng.randrange(ENTITY_RANGE)}" for _ in range(n_entities)]
    return {
        "query": " ".join(terms),
        "features": list(features),
        "top_k": rng.choice(TOP_KS),
        "query_vec_id": rng.randrange(corpus.SIZES["embeddings"]),
        "fields": scope,
        "filters": _fill(tree, rng) if tree else None,
        "security_groups": sorted(rng.sample(GROUPS, n_groups)) or None,
    }


def prebuild_requests() -> list[dict]:
    """Requests that build every index the find path serves from
    (text, relations, per-family fielded), run before the warm-up."""
    rng = random.Random(0)
    return [
        find_request(rng, (("keyword", "semantic", "graph"), None, ["and", ["L", "S"]], 1, 2, 1)),
        find_request(rng, (("keyword", "semantic", "graph"), ["a/title"], None, 0, 2, 1)),
    ]


def find_live_stream(seed: int) -> Iterator[dict]:
    """Endless find_live operations: {"kind": "first"|"repeat", "req": ...}.

    Each first-seen request takes the next shape of SHAPES and is
    followed by REPEATS_PER_FIRST repeats of earlier distinct requests,
    skewed towards the earliest (most popular) ones."""
    rng = random.Random(seed)
    picks = random.Random(REPEAT_PICKS_SEED)
    seen: list[dict] = []
    for i in range(1 << 62):
        req = find_request(rng, SHAPES[i % len(SHAPES)])
        while req in seen:  # redraw a collision, which would be a repeat
            req = find_request(rng, SHAPES[i % len(SHAPES)])
        seen.append(req)
        yield {"kind": "first", "req": req}
        for _ in range(REPEATS_PER_FIRST):
            yield {"kind": "repeat", "req": seen[int(len(seen) * picks.random() ** 2)]}


# --- asof_cdc -----------------------------------------------------------

# the content op log (ingest.cdc_log) puts every document's insert at
# seq = rid, a revision of rid % 7 == 0 at rid + 1e6 and a delete of
# rid % 11 == 0 at rid + 2e6
WAVES = (0, 1_000_000, 2_000_000)
TRANCHES_PER_WAVE = 4
ASOF_TOP_KS = (5, 10, 15, 20, 25, 30, 35, 40, 45, 50)
# per cycle: one write, one read at a new snapshot, this many
# first-seen reads with other top_k at that snapshot, then repeats of
# earlier reads. A first-seen read at an earlier snapshot costs a
# rebuild or not depending on what the cache budget or a vacuum
# dropped, so drawing its snapshot would let the seed choose how many
# of a run's six first-seen reads rebuild
SNAPSHOT_FIRSTS = 2
ASOF_REPEATS = 12
# every VACUUM_EVERY cycles the write is a vacuum plus purge
VACUUM_EVERY = 3
ASOF_CYCLE_OPS = 2 + SNAPSHOT_FIRSTS + ASOF_REPEATS


def tranche_heads() -> list[int]:
    """Drained-head seq after each tranche, in drain order."""
    n = corpus.SIZES["documents"]
    step = n // TRANCHES_PER_WAVE
    return [
        w + (i + 1) * step - 1 if i + 1 < TRANCHES_PER_WAVE else w + n - 1
        for w in WAVES
        for i in range(TRANCHES_PER_WAVE)
    ]


def _new_snapshot(rng: random.Random, horizon: int, head: int, snaps) -> int:
    """A seq that is not yet a snapshot, drawn uniformly from the
    drained ops at or above the horizon."""
    n = corpus.SIZES["documents"]
    spans = [
        (max(w, horizon), min(w + n - 1, head))
        for w in WAVES
        if max(w, horizon) <= min(w + n - 1, head)
    ]
    while True:
        pick = rng.randrange(sum(hi - lo + 1 for lo, hi in spans))
        for lo, hi in spans:
            if pick <= hi - lo:
                break
            pick -= hi - lo + 1
        if lo + pick not in snaps:
            return lo + pick


def asof_cdc_stream(seed: int) -> Iterator[dict]:
    """Endless asof_cdc operations.

    Kinds: {"kind": "drain", "upto": seq} appends the next tranche of
    the content op log; {"kind": "vacuum", "horizon": h} folds history
    at or below h and purges the fully folded log partitions;
    {"kind": "first"|"repeat", "top_k": k, "seq": s} is an as-of find.
    Reads stay at or above the current horizon and at or below the
    drained head. A cycle is: a write (a drain, or every VACUUM_EVERY
    cycles a vacuum), a first-seen read at a new snapshot (the new
    head after a drain), SNAPSHOT_FIRSTS more first-seen reads at it
    and ASOF_REPEATS repeats of earlier reads. Once every tranche is
    drained the writes stop and the reads go on."""
    rng = random.Random(seed)
    picks = random.Random(REPEAT_PICKS_SEED)
    heads = tranche_heads()
    head_i = -1
    horizon = -1
    snaps: list[int] = []
    seen: list[tuple[int, int]] = []

    def read(k: int, s: int) -> dict:
        kind = "repeat" if (k, s) in seen else "first"
        if kind == "first":
            seen.append((k, s))
        return {"kind": kind, "top_k": k, "seq": s}

    for cycle in range(1 << 62):
        if cycle % VACUUM_EVERY == VACUUM_EVERY - 1 and head_i > 0:
            # the horizon trails the head by one tranche, at an
            # existing snapshot so later reads keep a state to chain from
            horizon = max(s for s in snaps if s <= heads[head_i - 1])
            yield {"kind": "vacuum", "horizon": horizon}
            s = _new_snapshot(rng, horizon, heads[head_i], snaps)
        elif head_i + 1 < len(heads):
            head_i += 1
            yield {"kind": "drain", "upto": heads[head_i]}
            s = heads[head_i]
        else:
            s = _new_snapshot(rng, horizon, heads[head_i], snaps)
        snaps.append(s)
        yield read(rng.choice(ASOF_TOP_KS), s)
        for _ in range(SNAPSHOT_FIRSTS):
            yield read(rng.choice([k for k in ASOF_TOP_KS if (k, s) not in seen]), s)
        earlier = [ks for ks in seen if ks[1] >= horizon]
        for _ in range(ASOF_REPEATS):
            yield read(*earlier[int(len(earlier) * picks.random() ** 2)])


WORKLOADS = {
    w.name: w
    for w in (
        # warm-up: the first first-seen request and its repeats; timed:
        # one first-seen request of every shape, each with its repeats
        Workload(
            "find_live",
            "user-facing search: first-seen find requests pay plan construction, "
            "repeats hit the request memo; never touches the op log or serving layers",
            1 + REPEATS_PER_FIRST,
            len(SHAPES) * (1 + REPEATS_PER_FIRST),
        ),
        # warm-up: cycle 0 (a drain); timed: cycles 1 (a drain) and 2
        # (a vacuum plus purge)
        Workload(
            "asof_cdc",
            "op-log drains, vacuum and purge between as-of finds at new and earlier "
            "snapshots; the snapshot working set overflows the cache budget",
            ASOF_CYCLE_OPS,
            2 * ASOF_CYCLE_OPS,
        ),
    )
}


STREAMS = {
    "find_live": find_live_stream,
    "asof_cdc": asof_cdc_stream,
}


def stream_bytes(workload: str, seed: int, n: int) -> bytes:
    """The first n operations, serialised; equal seeds give equal bytes."""
    ops = list(islice(STREAMS[workload](seed), n))
    return json.dumps(ops, sort_keys=True).encode()
