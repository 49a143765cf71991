"""Engine cache statistics — the Spark analog of the reference's
``Engine.CacheStats() (hits, misses int64)``
(/root/reference/internal/engine/engine.go:2210-2223: the combined
hit/miss counters of the engine's read-path caches, blockCache +
diskCache).

This engine's read-path caches are keyed artifact registries rather
than block caches (Spark owns page/block caching inside the JVM), but
the accounting question CacheStats answers — "is the serving session
re-paying work the cache should amortize?" — is the same:

- ``pk_index``      — the loaded PK index (plans/table.py
                      ``_VIS_CACHE``): per-snapshot kill sets (or,
                      past the in-plan bound, (id, _kill_lsn) kill
                      frames), the analog of the reference's
                      in-memory PK index (internal/pk/mvcc.go:125).
                      One lookup per read that resolves visibility on a
                      snapshot with tombstones or upserts: df() full
                      and subset scans (so kNN/IVF/quantized search),
                      the lexical churn path and the minhash, simhash
                      and semdedup artifact reads. ``get`` is a point
                      lookup that needs no frame and counts nothing;
                      clean snapshots count nothing either.
- ``ivf_model``     — trained IVF centroids (operators/ivf.py
                      ``_MODEL_CACHE``), amortizing per-corpus training.
- ``pq_codebooks``  — trained PQ/OPQ codebooks (quantization/pq.py
                      ``_PQ_CACHE``).

Counting stance (same as the reference's sharded LRU,
internal/cache/sharded_lru.go): a lookup that finds its key is a hit, a
lookup that must build/insert is a miss; paths that BYPASS a cache count
neither. Id-restricted point-get visibility counts symmetrically where
the cache is APPLICABLE (broadcast-sized snapshot: hit when the loaded
frame serves it, miss when it falls through to the row-group-pruned
scan); above the broadcast gate the cache can never serve a point-get,
so those bypass and count neither. Training without a cache_key also
counts neither. Counters are process-global like the module
registries they instrument; ``reset()`` zeroes them (tests, epoch
boundaries).

Per-table scoping (r11 verdict #8, extended r12 verdict #6): lookups
whose caller carries a table identity ALSO count into a per-scope
ledger, so ``VectorTable.table_cache_stats()`` answers the reference's
per-engine-instance question ("is THIS table's serving session
amortizing?") while the global view is unchanged. Scoped today:
``pk_index`` (the ``_VIS_CACHE`` key leads with the table path),
``lexical_candidates``, and — for TABLE-DRIVEN work —
``ivf_model``/``pq_codebooks``: compact(cluster_by=)/quantize='pq'
train with a ``{table.path}@v{version}`` cache key and pass
``scope=table.path``, so every table-initiated training lookup lands in
that table's ledger. Free-standing corpora (caller-provided string
keys, no scope) keep global-only accounting.
"""

from __future__ import annotations

from threading import Lock

_LOCK = Lock()
_STATS: dict[str, list[int]] = {}  # name -> [hits, misses]
_SCOPED: dict[str, dict[str, list[int]]] = {}  # scope -> name -> [h, m]


def record(name: str, hit: bool, scope: str | None = None) -> None:
    """Count one lookup against the named cache; with ``scope`` (a table
    path), also against that scope's ledger."""
    with _LOCK:
        s = _STATS.setdefault(name, [0, 0])
        s[0 if hit else 1] += 1
        if scope is not None:
            t = _SCOPED.setdefault(scope, {}).setdefault(name, [0, 0])
            t[0 if hit else 1] += 1


def cache_stats(scope: str | None = None) -> tuple[int, int]:
    """Combined (hits, misses) over every engine cache — the reference's
    ``CacheStats`` signature (engine.go:2211). With ``scope``, only the
    lookups attributed to that table (per-engine-instance counters)."""
    with _LOCK:
        src = _SCOPED.get(scope, {}) if scope is not None else _STATS
        return (sum(s[0] for s in src.values()),
                sum(s[1] for s in src.values()))


def cache_stats_detail(scope: str | None = None) -> dict[str, dict[str, int]]:
    """Per-cache breakdown (the reference's per-shard ``ShardStats``
    debugging view, sharded_lru.go:112); optionally scope-restricted."""
    with _LOCK:
        src = _SCOPED.get(scope, {}) if scope is not None else _STATS
        return {k: {"hits": s[0], "misses": s[1]}
                for k, s in sorted(src.items())}


def snapshot(scope: str) -> dict[str, list[int]]:
    """Plain-data copy of one scope's ledger — the commit-time dump that
    lets a table persist lifetime counters in its manifest meta (the
    reference's CacheStats lives as long as the Engine instance; ours
    would otherwise reset per driver process while Stats() reports
    lifetime row counts)."""
    with _LOCK:
        return {k: list(s) for k, s in _SCOPED.get(scope, {}).items()}


def warm(scope: str, snap: dict) -> None:
    """Seed a scope's ledger from a persisted snapshot (table open).
    No-op when the scope already has in-process counters — a reopen in
    the same process must not double-count its own history."""
    with _LOCK:
        if scope in _SCOPED or not snap:
            return
        _SCOPED[scope] = {str(k): [int(s[0]), int(s[1])]
                          for k, s in snap.items()}


def reset() -> None:
    with _LOCK:
        _STATS.clear()
        _SCOPED.clear()
