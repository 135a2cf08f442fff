"""The session-artifact store: every memo the engine keeps.

A long-lived serving session builds each artifact once and then serves
from it (the reference builds its indexes once and searches them,
src/main.rs:20-43, 83-87): trained quantizers, persisted assignment and
code frames, HNSW graphs, the minhash pair graph, written index paths,
parsed expressions, collected query batches. All of them live in ONE
dict, keyed

    (kind, appId, frame hashes, file snapshots, params)

- ``kind`` names the artifact ("codes", "hnsw_index", "query_batch", ...)
  and selects its policy below;
- ``appId`` is the Spark applicationId, or None for the kinds that do not
  depend on a session (parsed expressions, the fixture row count);
- ``frame hashes`` are ``semanticHash()`` of each input frame the kind
  keys on;
- ``file snapshots`` are ``file_snapshot()`` of each input a rewrite can
  change under a stable plan hash (a relation hashes by path, so a grown
  or rewritten directory keeps its hash);
- ``params`` is everything else: column names, knobs, cache tags.

``key()`` builds that tuple and ``get_or_build(key, build)`` is the one
entry point: a hit returns the stored value, a miss runs ``build()`` and
stores its result. Policy by kind:

- ``PERSISTED`` kinds are index artifacts: the built DataFrame is
  persisted and counted once, inside the miss, so the build step pays
  for it and every consumer scans the cached storage.
- ``BOUNDED`` kinds are per-query memos (a distinct query frame adds an
  entry): each holds at most ``QUERY_LRU`` entries, least recently used
  evicted first, so a session of fresh queries cannot grow the store
  without bound. Build artifacts are never LRU-evicted.

Eviction (LRU, ``drop``, ``restore``, ``reset``) unpersists the Spark
storage an entry holds. bench.py uses ``snapshot``/``added_since``/
``drop`` to evict exactly the entries a build key created before each
timed sample, so every sample measures a real build while the upstream
artifacts it consumes stay warm.
"""

from __future__ import annotations

import os
from typing import Any, Callable
from urllib.parse import unquote, urlparse

_STORE: dict[tuple, Any] = {}

PERSISTED = frozenset({
    "assign", "cell_vectors", "codes", "codes_cells", "label_hist",
    "sq_bounds", "sq_cells", "bq_cells", "bq2_bounds", "bq2_cells",
    "minhash_pairs", "packed_index",
})
BOUNDED = frozenset({
    "query_count", "query_batch", "qlabel_map", "pq_lut",
})
# A full bench.py headline run (warmup + 3 timed passes) peaks at 6
# entries of one bounded kind (query_count and query_batch; measured at
# sf0.01), so 64 keeps every warm repeated-query hit a hit.
QUERY_LRU = 64


def file_snapshot(src) -> tuple:
    """(file, size, mtime_ns) for every file behind ``src``: a DataFrame's
    ``inputFiles()`` (none for plans that read no files) or a path (a
    file, or each entry of a directory). Size and mtime make a rewrite
    that keeps file names change the snapshot. Stat-ing is driver-side
    metadata, no Spark job; a file that cannot be stat-ed (a remote
    scheme, a missing path) keys as (file, -1, -1)."""
    if isinstance(src, str):
        try:
            files = [os.path.join(src, n) for n in os.listdir(src)]
        except OSError:  # a plain file, or missing
            files = [src]
    else:
        try:
            files = src.inputFiles()
        except Exception:  # non-file relations / analysis corner cases
            files = []
    entries = []
    for f in sorted(files):
        # inputFiles() renders paths as URIs, both file:///p and file:/p,
        # percent-encoded
        p = unquote(urlparse(f).path) if f.startswith("file:") else f
        try:
            st = os.stat(p)
            entries.append((f, st.st_size, st.st_mtime_ns))
        except OSError:
            entries.append((f, -1, -1))
    return tuple(entries)


def key(kind: str, session=None, frames=(), files=(), params=()) -> tuple:
    """The store key of ``kind`` over the given inputs (see module doc)."""
    return (
        kind,
        None if session is None else session.sparkContext.applicationId,
        tuple(f.semanticHash() for f in frames),
        tuple(file_snapshot(f) for f in files),
        tuple(params),
    )


def sibling(k: tuple, kind: str) -> tuple:
    """The key of another kind over the same inputs as ``k``."""
    return (kind,) + k[1:]


def peek(k: tuple) -> Any:
    """The stored value, or None; never builds."""
    return _STORE.get(k)


def get_or_build(k: tuple, build: Callable[[], Any]) -> Any:
    kind = k[0]
    if k in _STORE:
        if kind in BOUNDED:  # a hit becomes the most recently used
            _STORE[k] = _STORE.pop(k)
        return _STORE[k]
    value = build()
    if kind in PERSISTED:
        value = value.persist()
        value.count()  # materialize now: the caller is the build step
    _STORE[k] = value
    if kind in BOUNDED:
        same = [s for s in _STORE if s[0] == kind]
        discard(*same[: len(same) - QUERY_LRU])
    return value


def discard(*ks: tuple) -> int:
    """Drop the entries under the given keys; returns entries dropped."""
    return drop([(_STORE, k) for k in ks])


def evict(*kinds: str) -> int:
    """Drop every entry of the given kinds; returns entries dropped."""
    return discard(*[k for k in _STORE if k[0] in kinds])


def snapshot() -> list[tuple[dict, frozenset]]:
    """(store, key set) pairs; values are not copied — restore only ever
    removes entries added after the snapshot."""
    return [(_STORE, frozenset(_STORE))]


def _unpersist(value: Any) -> None:
    # values are DataFrames, tuples of DataFrames, broadcast handles,
    # plain lists/ints or path strings; release what Spark holds
    from pyspark import Broadcast
    from pyspark.sql import DataFrame

    if isinstance(value, (DataFrame, Broadcast)):
        # a Broadcast is unpersisted, NOT destroyed: destroy invalidates
        # the handle, and a persisted frame that lazily references it
        # would fail with 'Broadcast destroyed' if it ever recomputed;
        # unpersist keeps the driver copy re-broadcastable
        try:
            value.unpersist()
        except Exception:
            pass  # session already stopped — nothing to release
    elif isinstance(value, (tuple, list)):
        for v in value:
            _unpersist(v)


def added_since(snap: list[tuple[dict, frozenset]]) -> list[tuple[dict, Any]]:
    """(store, key) pairs for every entry added after ``snap``. bench.py
    records each build key's OWNED entries during its untimed warmup pass
    this way, so the timed samples evict exactly those (``drop``) and
    measure a real rebuild while everything the key merely consumes stays
    warm."""
    return [(d, k) for d, keys in snap for k in d if k not in keys]


def drop(entries: list[tuple[dict, Any]]) -> int:
    """Evict the given (store, key) entries, unpersisting their Spark
    storage; missing keys are skipped. Returns entries dropped."""
    dropped = 0
    for d, k in entries:
        if k in d:
            _unpersist(d.pop(k))
            dropped += 1
    return dropped


def restore(snap: list[tuple[dict, frozenset]]) -> int:
    """Drop every entry added since ``snap``; returns entries dropped."""
    return drop(added_since(snap))


def reset() -> int:
    """Drop EVERY entry. Pair this with ``spark.catalog.clearCache()``
    whenever the Spark cache is wiped mid-session: clearCache unpersists
    the data, but the store would keep serving the now-unpersisted
    frames, whose full logical plans then inline into consumers (a
    codes⋈assign join that was an InMemoryTableScan becomes a
    corpus-scale SortMergeJoin). Returns entries dropped."""
    return restore([(_STORE, frozenset())])
