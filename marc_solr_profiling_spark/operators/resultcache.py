"""Query-result caching — the Solr ``queryResultCache`` /
``queryResultWindowSize`` serving layer (``profiling/solr/conf/
solrconfig.xml:36-46``: FastLRUCache size=512 + window 80).

Solr caches the TOP-``window`` doc ids per (query, sort, filters) and
serves any ``start+rows`` page inside the window from the cache; a
request past the window re-executes with a larger bound. The Spark
restatement keeps the same contract driver-side: one bounded
top-``max(need, window)`` kernel run per distinct request signature —
the cached value is k ranked ids, request metadata, NOT corpus data, so
a driver-resident LRU is the scale-correct cache exactly as in Solr —
pages sliced from it, LRU eviction at ``size`` entries.

Cache keys include everything that changes the ranking (query string,
mm, fq clauses) — the analog of Solr's key being the rewritten Lucene
query + sort + filter set. The cache is SEARCHER-scoped: a generational
append produces a new index handle, so a new ``CachedSearcher`` starts
cold — matching Solr dropping its caches on commit (a new searcher
warms via ``queryResultWindowSize`` autowarming, which ``warm()``
mirrors).
"""

from __future__ import annotations

from collections import OrderedDict
from dataclasses import dataclass


@dataclass
class CacheStats:
    hits: int = 0
    misses: int = 0
    evictions: int = 0


class CachedSearcher:
    """LRU page server over one index snapshot."""

    def __init__(self, index, size: int = 512, window: int = 80):
        if hasattr(index, "field_stats"):
            # the page kernel is wand_topk over plain analyzed terms; a
            # multi-field dictionary holds only field-prefixed keys, so
            # every lookup would miss and every page come back empty
            raise ValueError(
                "CachedSearcher serves single-field indexes only; query a "
                "multi-field index through wand_topk(qf=...) / "
                "solr_select_physical(qf=...)")
        self.index = index
        self.size = int(size)
        self.window = int(window)
        # key -> (ranked [(doc_id, score)], exhausted: no more matches)
        self._lru: "OrderedDict[tuple, tuple[list, bool]]" = OrderedDict()
        self.stats = CacheStats()

    def search(self, query: str, start: int = 0, rows: int = 10,
               min_match=1, filter_queries=None):
        """One page: (doc_id, score) rows ``start`` .. ``start+rows`` of
        the (score desc, doc_id asc) ranking — from the cached window
        when it covers the page (the queryResultCache hit path), else
        one bounded kernel run caching ``max(start+rows, window)``."""
        fqs = tuple(filter_queries) if filter_queries else None
        key = (query, str(min_match), fqs)
        need = int(start) + int(rows)
        ent = self._lru.get(key)
        if ent is not None and (len(ent[0]) >= need or ent[1]):
            self._lru.move_to_end(key)
            self.stats.hits += 1
            return ent[0][start:need]
        self.stats.misses += 1
        from .wand import wand_topk

        k = max(need, self.window)
        ranked = [
            (r["doc_id"], r["score"])
            for r in wand_topk(
                self.index, query, k=k, with_url=False,
                min_match=min_match,
                filter_queries=list(fqs) if fqs else None,
            ).collect()
        ]
        self._lru[key] = (ranked, len(ranked) < k)
        self._lru.move_to_end(key)
        while len(self._lru) > self.size:
            self._lru.popitem(last=False)
            self.stats.evictions += 1
        return ranked[start:need]

    def warm(self, other: "CachedSearcher", top_n: int | None = None):
        """Autowarm from the previous searcher's cache (Solr's
        ``autowarmCount``): re-execute the most recently used ``top_n``
        request signatures against THIS index so the first user queries
        after a commit hit a warm cache."""
        keys = list(other._lru.keys())
        if top_n is not None:
            keys = keys[-int(top_n):]
        for query, mm, fqs in keys:
            self.search(query, 0, min(self.window, 10),
                        min_match=(int(mm) if mm.isdigit() else mm),
                        filter_queries=list(fqs) if fqs else None)
        return self


class SearcherManager:
    """Lucene's SearcherManager + Solr's commit hook: holds the LIVE
    :class:`CachedSearcher` and, on each generational commit
    (``plans/generations.py append_delta`` / ``maybe_compact``), opens a
    fresh searcher over the new chain head and AUTOWARMS it from the
    retiring searcher's most-recently-used request signatures BEFORE the
    swap — so the first page requests after a commit hit the warmed
    window instead of re-running the kernel.

    Provenance: autowarming is the Solr mechanism modelled here
    (``autowarmCount`` on the caches, ``solrconfig.xml:38-43``); the
    reference config itself ships ``autowarmCount="0"``, so a searcher
    there starts cold on every commit. ``autowarm_count=0`` reproduces
    that; the default of 16 is this engine's choice, not the reference's.

    The warm cost is bounded: ``autowarm_count`` kernel runs of
    ``window`` rows each, exactly Solr's regeneration bill. The swap is
    atomic from the caller's perspective (``searcher`` returns the old
    fully-serving instance until ``commit`` finishes warming)."""

    def __init__(self, index, size: int = 512, window: int = 80,
                 autowarm_count: int = 16):
        self.size = int(size)
        self.window = int(window)
        self.autowarm_count = int(autowarm_count)
        self._current = CachedSearcher(index, size=size, window=window)

    @property
    def searcher(self) -> CachedSearcher:
        return self._current

    def search(self, *args, **kwargs):
        return self._current.search(*args, **kwargs)

    def commit(self, new_index) -> CachedSearcher:
        """New generation published: open + autowarm + swap."""
        fresh = CachedSearcher(new_index, size=self.size,
                               window=self.window)
        fresh.warm(self._current, top_n=self.autowarm_count)
        self._current = fresh
        return fresh
