"""Scoped persistence for library-internal DataFrames.

Some operators persist a slim intermediate because it is consumed by
several non-identical subtrees in one returned plan (e.g. the MinHash
signature table feeds the band join AND both sides of the verify join;
the parsed-request table feeds three union branches). A bare
``df.persist()`` registers in Spark's CacheManager and is never dropped,
so a long-lived driver running many gate queries accumulates dead cached
partitions in executor storage memory.

``track(df)`` persists AND records the DataFrame in a module registry;
``release_all()`` unpersists everything recorded — callers invoke it
after the consuming action (check_oracles / bench do this between
queries, and a try/finally around any long session works the same way).
Releasing before the returned plan executes is safe: the plan falls back
to recomputation, values are unchanged.

Self-joins whose two sides are the IDENTICAL subtree do not need this at
all — Spark deduplicates the shuffle via ReusedExchange (one compute, no
cache) — so only multi-shape reuse sites use ``track``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_TRACKED: list[DataFrame] = []


def track(df: DataFrame) -> DataFrame:
    """Persist ``df`` and register it for a later ``release_all()``."""
    df.persist()
    _TRACKED.append(df)
    return df


def release_all(blocking: bool = False) -> int:
    """Unpersist every tracked DataFrame; returns how many were released.
    Safe to call repeatedly and while returned plans are still live (they
    recompute instead of reading cache)."""
    n = 0
    while _TRACKED:
        df = _TRACKED.pop()
        try:
            df.unpersist(blocking)
            n += 1
        except Exception:
            pass  # session already stopped — nothing to release
    return n


def track_if_large(
    src: DataFrame, derived: DataFrame, threshold_bytes: int = 256 << 20
) -> DataFrame:
    """Persist ``derived`` only when ``src``'s optimizer size estimate
    exceeds ``threshold_bytes``.

    The persist-vs-recompute tradeoff flips with scale: when the source
    scan is small, materializing the intermediate (cache write barrier +
    lost pipelining) costs more than recomputing its subtree per consumer
    — measured 1.3-1.5x slower for bm25/tfidf at sf0.1 in interleaved
    A/B. When the source is a multi-TB corpus, recomputation means a
    second full scan and the persist (of a much slimmer aggregate) wins
    by construction. Catalyst's ``sizeInBytes`` for a parquet scan is the
    file-size sum — exactly the second-scan cost being avoided."""
    if plan_size_bytes(src, default=threshold_bytes + 1) > threshold_bytes:
        return track(derived)
    return derived


def plan_size_bytes(df: DataFrame, default: int = 1 << 62) -> int:
    """Catalyst's optimizer size estimate for ``df`` (for a parquet scan:
    the file-size sum after partition pruning). ``default`` is returned
    when stats are unavailable — callers pick the scale-safe side."""
    try:
        size = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    except Exception:  # noqa: BLE001 — py4j/stats failure
        return default
    # py4j converts the estimate to a Python int under PySpark 4.1; a JVM
    # BigInteger proxy is read through its string form
    return size if isinstance(size, int) else int(size.toString())
