"""Exact partition placement for KNOWN-domain keys (no sampler, no skew).

Spark's hash partitioner places a row at ``pmod(murmur3(expr), n)``. For a
key whose domain is known uniform integers ``[0, n_keys)`` — a salt — the
balanced assignment is computed, not sampled: key ``s`` belongs in
partition ``s * n_parts // n_keys`` (contiguous slices, exact balance).
``probe_keys`` finds, once per process and width, a bigint probe value per
target partition that murmur3 provably routes there; ``exact_route_expr``
then maps a salt column through a literal probe-key array so a plain
``repartition(n, route)`` achieves the computed placement.

Why not ``repartitionByRange``: its bound sampler executes the child plan
once more per action (pure fixed overhead on every query batch / build).
Why not plain hash on the salt value: hashing S values into S partitions
packs 2-4 salts into some partitions while ~37% sit empty (birthday
effect) — a 3-salt partition is a 3x straggler at low wave counts.

Used by the packed segment build (segments.build_segments_packed), which
writes one salt per file; the query pass (wand._salt_ranges) reads salt
ranges on the same contiguous placement.
"""

from __future__ import annotations

import threading

from pyspark.sql import Column
from pyspark.sql import functions as F

# (n_parts) -> probe keys (keys[p] hash-partitions into partition p).
# Murmur3 with Spark's fixed seed (42) is deterministic, so the memo is
# valid across sessions.
_PROBE_KEYS: dict[int, list] = {}
# concurrent commit branches (a build's segments and filters) ask for the
# same width at once: the first runs the probe job, the others wait for it
_PROBE_LOCK = threading.Lock()


def probe_keys(spark, n_parts: int) -> list:
    """For each target partition p in [0, n_parts), a bigint key whose
    Spark hash places it there: one metadata-scale probe job per
    process and width, memoized."""
    with _PROBE_LOCK:
        keys = _PROBE_KEYS.get(n_parts)
        if keys is None:
            found: dict = {}
            lo, width = 0, max(4096, 64 * n_parts)
            while len(found) < n_parts:
                rows = (
                    spark.range(lo, lo + width)
                    .select("id",
                            F.pmod(F.hash("id"), F.lit(n_parts)).alias("p"))
                    .collect()
                )
                for r in rows:
                    found.setdefault(r["p"], int(r["id"]))
                lo += width
            keys = [found[p] for p in range(n_parts)]
            _PROBE_KEYS[n_parts] = keys
    return keys


def exact_route_expr(spark, key_col: Column, n_keys: int,
                     n_parts: int) -> Column:
    """A column that, hash-partitioned into ``n_parts``, places key value
    ``s`` (an int in [0, n_keys)) into partition ``s * n_parts // n_keys``.
    Pass it to ``df.repartition(n_parts, exact_route_expr(...))``."""
    pkeys = probe_keys(spark, n_parts)
    route_for_key = [pkeys[(s * n_parts) // n_keys] for s in range(n_keys)]
    return F.element_at(
        F.lit(route_for_key).cast("array<bigint>"),
        (key_col + 1).cast("int"),
    )
