"""Memoization for pure Column-expression builders (r11 optimization).

A ``pyspark.sql.Column`` is an immutable, session-independent expression
tree; building a wide one (the dim-16 fake embedding, the stopword
language-ID CASE tree, a prenormed cosine) costs hundreds of py4j round
trips — measured 256 ms → 44 ms plan-build on the fake-embedding
projection when the Columns are reused. Queries rebuild these identical
trees on every call, so builders memoize on the *printed form* of their
Column inputs plus their primitive arguments: same input expression ⇒
same output tree, and the cached Column is only ever composed into new
plans, never mutated. Analysis, optimization and execution still run per
query — only expression CONSTRUCTION is shared.

The cache lives for the process (the JVM gateway outlives individual
SparkSessions, and a process restart reimports the module), and is only
applied to builders whose arguments are Columns/strings/primitives.
"""

from __future__ import annotations

import functools

from pyspark.sql import Column


def _key_part(arg):
    if isinstance(arg, Column):
        try:
            # _jc itself raises under Spark Connect (PySparkAttributeError,
            # an AttributeError) — keep it inside the try so a non-classic
            # runtime falls back to building fresh instead of crashing.
            jc = arg._jc
            node = jc.node().toString()
        except Exception as exc:  # non-classic runtime: don't memoize
            raise TypeError("column node unavailable") from exc
        # A RESOLVED attribute (df['x'] — an ExpressionColumnNode carrying
        # an exprId) is bound to one specific plan; its pretty-print drops
        # the exprId, so two different DataFrames' columns would collide on
        # the key and the cached tree would mis-bind in the caller's plan.
        # Unresolved trees (F.col/F.lit compositions) have no hidden state
        # beyond the semantics their print shows — they re-resolve against
        # whichever plan the result is used in, which is exactly the
        # interchangeability the memo needs. Resolved inputs build fresh.
        if "ExpressionColumnNode" in node:
            raise TypeError("resolved column is plan-bound")
        return ("c", jc.toString())
    if isinstance(arg, (str, int, float, bool, type(None))):
        # Type-tagged: True == 1 == 1.0 are dict-key-equal in Python, so a
        # builder called with arguments differing only in numeric type would
        # otherwise get the other type's cached tree (latent — no current
        # caller mixes types on one builder, but the memo is general).
        return ("p", type(arg).__name__, arg)
    if isinstance(arg, tuple):
        return ("t", tuple(_key_part(a) for a in arg))
    raise TypeError(f"unmemoizable argument type {type(arg)!r}")


# Per-builder cache bound: serving paths may legitimately call a builder
# with an unbounded stream of distinct literals (e.g. fake_embedding over
# one F.lit(text) per call) — without a cap every distinct
# text would pin a wide expression tree in the dict AND the JVM forever.
# FIFO eviction keeps the steady-state working set (the query registry's
# fixed expression shapes) hot while bounding the literal churn.
_MAX_ENTRIES = 256


def memoized_expr(fn):
    """Memoize a pure Column builder on (Column print-forms, primitives).

    Falls back to building fresh whenever an argument is not keyable
    (resolved plan-bound columns included) — memoization is an
    optimization, never a behavior change."""
    cache: dict = {}

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        try:
            key = (
                tuple(_key_part(a) for a in args),
                tuple(sorted((k, _key_part(v)) for k, v in kwargs.items())),
            )
        except TypeError:
            return fn(*args, **kwargs)
        hit = cache.get(key)
        if hit is None:
            if len(cache) >= _MAX_ENTRIES:
                cache.pop(next(iter(cache)))
            hit = cache[key] = fn(*args, **kwargs)
        return hit

    return wrapper
