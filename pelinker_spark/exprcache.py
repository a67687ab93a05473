"""Session-scoped memoization for static Column expression fragments.

Building a Column tree is not free: every operator/functions call is a
py4j round trip into the JVM (~50-200 us each), and the link pipeline's
DSL — mention window structs, token normalization CASE trees, the 16
minhash aggregates, the unrolled cosine sum — adds up to ~1.6 s of pure
driver-side construction PER PIPELINE CALL, re-paid on every run and
every streaming micro-batch (measured: build_surfaces_df 0.6 s +
build_edges_df 1.0 s at steady state, while Catalyst analyze/optimize/
physical together cost < 50 ms).

Unresolved Column objects are immutable expression wrappers and are
safely reusable across DataFrames and queries, so fragments that depend
only on hashable config (window widths, hash counts, dims) are built
once per JVM session and reused. The cache is keyed on the active
SparkContext's identity (application id, start time), not on the Python
object's id, which a context restarted in the same process can reuse: a
stop()/restart can never serve stale py4j references from the old JVM.
"""

from __future__ import annotations

import functools
from typing import Callable, TypeVar

T = TypeVar("T")


def session_cached(fn: Callable[..., T]) -> Callable[..., T]:
    """Memoize `fn(*args)` per (active SparkContext, args).

    Arguments are positional only (keyword arguments are not accepted)
    and must be hashable; the returned value must be immutable/reusable
    (unresolved Columns and tuples of them are). Two threads that build
    the same key at once both run `fn` and the later store wins; the race
    is benign because both builds yield equal Columns."""
    cache: dict = {}

    @functools.wraps(fn)
    def wrapped(*args):
        from pyspark import SparkContext

        sc = SparkContext._active_spark_context
        ctx = (sc.applicationId, sc.startTime)
        key = (ctx, args)
        if key not in cache:
            # drop fragments from dead sessions so a long-lived process
            # that restarts Spark doesn't accumulate stale gateway refs
            for k in [k for k in cache if k[0] != ctx]:
                del cache[k]
            cache[key] = fn(*args)
        return cache[key]

    return wrapped
