"""Unresolved-Column memo (round 6, guide §5 'driver health').

Building a large Catalyst expression tree from Python walks one py4j
round-trip per operator (~0.85 s for the span-synthesis tree, ~0.3 s for
the MinHash signature chain — measured round 6), and the bench / the
streaming foreachBatch rebuild every query from scratch each pass /
trigger. Expression trees built purely from ``F.col("name")`` references
and module constants are DataFrame-independent ASTs: they can be built
once per JVM and re-used — Spark re-resolves them with fresh expr IDs at
every analysis, exactly as if they had been rebuilt.

This caches ASTs ONLY: no plans, no file listings, no data. Every query
still scans its parquet inputs and runs analysis/optimization/execution
in full. Keyed by the py4j gateway identity so a fresh JVM (new process
or relaunched gateway) rebuilds from scratch; Columns survive
``SparkContext.stop()``/restart because the gateway JVM persists for the
life of the Python process.
"""

from __future__ import annotations

_EXPR_CACHE: dict = {}


def cached_cols(key, builder):
    """Return ``builder()`` memoized per (JVM gateway, key).

    ``builder`` must construct its Columns exclusively from
    ``F.col``-style unresolved references and constants — never from a
    bound ``df["col"]`` reference, which would leak one plan's expr IDs
    into another's. Concurrent builds (streaming ``foreachBatch``
    triggers) may both run ``builder()`` and either result may win;
    that race is benign and needs no lock, because each dict get/set is
    atomic under the GIL and both results are equivalent unresolved ASTs.
    """
    from pyspark import SparkContext

    # the key holds the gateway OBJECT (hashable by identity), not its
    # id(): a torn-down-and-relaunched gateway in one process could reuse
    # the freed object's address, and an id-keyed entry would then serve
    # Columns bound to the dead JVM. The reference keeps the old gateway
    # distinct (and alive — bounded: gateways per process are ~1).
    k = (SparkContext._gateway, key)
    c = _EXPR_CACHE.get(k)
    if c is None:
        c = builder()
        _EXPR_CACHE[k] = c
    return c
