"""Session memo registry: every engine-owned memo, and prepared plans.

The engine memoizes driver-side work so repeated calls in one session
do not pay it again: table handles, trained models, edge lists,
candidate counts, converged CC labels, local checkpoints, staged
fixture copies, and prepared plans.  Every such memo is a ``Memo``
declared at module level and registered here, and the registry owns
the four things each of them used to hand-roll:

1. THE KEY.  ``Memo.key(spark, *parts)`` prefixes every key with the
   session's ``applicationId``; ``PlanMemo.lookup(df, build)`` keys by
   logical plan instead (``semanticHash`` bucket, ``sameSemantics``
   match, so a hash collision can never serve the wrong entry).
2. DEAD-SESSION EVICTION.  PySpark allows ONE live SparkContext per
   process, so every lookup drops the memo's entries owned by any
   other ``applicationId`` — a long-lived process that restarts its
   session (test runners, notebooks) never holds py4j handles to a
   stopped JVM.
3. RELEASE.  Each memo declares one release hook (unpersist an edge
   cache, free a checkpoint's blocks) run on every entry it drops.
4. RESET POLICY.  ``clear_materializations`` is a loop over the
   registry, and each memo declares which resets drop it:

   - ``recompute``: derived compute (models, indexes, pair graphs,
     edges, labels, candidate counts, checkpoints), dropped by every
     ``clear_materializations`` so a recompute rep re-executes it;
   - ``prepared``: the prepared-plan tier below, dropped only with
     ``drop_prepared_plans=True`` (cold paths pay plan construction);
   - ``retained``: lazy table handles (the catalog role) and one-shot
     staged fixture/sink artifacts, whose re-write would leak a copy
     per rep — the artifact is the test subject, not a cached answer.

Prepared plans.  Building a DataFrame plan from Python is not free:
every column expression, join and alias is a py4j round trip, 0.2–0.9 s
per call for the expression-heavy operators (MinHash families, SimHash
banding, boilerplate grams) at any scale factor.  ``durable_plan_memo``
gives such an operator prepared-statement semantics: the FIRST call per
(session, sf, gate constants) builds the plan, later calls get a fresh
view of the same analyzed tree.  The tier survives the recompute reset
by design — its builders are pure lazy trees whose only
materialization points are ``cached()`` markers, re-armed empty on a
warm hit — so a recompute rep skips only the py4j tree build, never
any data work (contract pinned by ``test_durable_plan_memo_contract``
and the eligibility tripwire in ``test_properties.py``).

Rules for a durable builder:

1. PURE LAZY PLAN BUILDERS ONLY.  No driver collect of results, no
   ``createDataFrame`` of computed rows, no localCheckpoint, no
   streaming-query lifecycle, no sink writes: retaining an eager
   operator would skip its work entirely — caching the answer, not
   the plan.
2. DECLARE EVERY MODULE CONSTANT THAT SHAPES THE PLAN.  The key holds
   the named globals read at call time, so a test that monkeypatches
   a broadcast budget or prune gate gets a fresh build, never a stale
   hit.
"""

from __future__ import annotations

import functools
import threading
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

__all__ = [
    "Memo",
    "PlanMemo",
    "durable_plan_memo",
    "cached",
    "clear_materializations",
]

POLICIES = ("recompute", "prepared", "retained")

# every Memo ever declared, in declaration order
_REGISTRY: list["Memo"] = []


class Memo(dict):
    """A session-scoped memo: a dict whose keys are tuples with the
    ``applicationId`` first, built by ``key``, registered for reset."""

    def __init__(self, policy: str, release: Callable | None = None):
        super().__init__()
        if policy not in POLICIES:
            raise ValueError(f"unknown memo policy {policy!r}")
        self.policy = policy
        self.release = release
        _REGISTRY.append(self)

    def key(self, spark: SparkSession, *parts) -> tuple:
        """The entry key for ``parts`` in ``spark``'s session; entries of
        every other (hence stopped) session are evicted first."""
        app = spark.sparkContext.applicationId
        for k in [k for k in self if k[0] != app]:
            del self[k]
        return (app, *parts)

    def _released(self):
        return self.values()

    def drop(self) -> None:
        """Run the release hook on every entry, then forget them all."""
        if self.release is not None:
            for value in self._released():
                self.release(value)
        self.clear()


class PlanMemo(Memo):
    """A memo keyed by logical plan: one value per (session, plan), the
    plan-keyed semantics ``cache()`` has natively."""

    def lookup(self, df: DataFrame, build: Callable[[], object]):
        """The value memoized for ``df``'s plan, else ``build()``'s.

        Entries sit in ``semanticHash`` buckets of (plan, value) pairs,
        matched by ``sameSemantics``: colliding plans coexist in one
        bucket instead of one overwriting (and orphaning) the other.
        """
        bucket = self.setdefault(self.key(df.sparkSession, df.semanticHash()), [])
        for plan, value in bucket:
            if df.sameSemantics(plan):
                return value
        value = build()
        bucket.append((df, value))
        return value

    def _released(self):
        return (value for bucket in self.values() for _, value in bucket)


def clear_materializations(
    spark: SparkSession | None = None, drop_prepared_plans: bool = False
) -> None:
    """Forget every engine-owned materialization: drop every
    ``recompute`` memo (running its release hook) and — when a session
    is passed — the whole Spark block cache; ``drop_prepared_plans=True``
    drops the ``prepared`` tier too.  ``retained`` memos stay.

    This is the shared cold-path reset used by the growth batteries,
    bench.py's recompute-warm and cold columns, and the benchmark:
    after it, the next action on any operator re-executes the full
    distributed dataflow.
    """
    if spark is not None:
        spark.catalog.clearCache()
    dropped = ("recompute", "prepared") if drop_prepared_plans else ("recompute",)
    for memo in _REGISTRY:
        if memo.policy in dropped:
            memo.drop()


# --- the prepared-plan tier -------------------------------------------


def _unpersist_handles(handles) -> None:
    """Unpersist a prepared plan's registered cache handles, so a
    dropped entry leaves no orphaned cache-manager registration behind
    (whether or not the caller clears the cache)."""
    for h in handles:
        try:
            h.unpersist(blocking=False)
        except Exception:
            # handle owned by a stopped session — nothing to free
            pass


# (applicationId, sf, qualname, gate values) → (DataFrame, cache
# handles in build = dependency order).  Retaining the DataFrame
# retains the ANALYZED EXPRESSION TREE only; no result blocks survive
# a reset, so the next action re-executes the full dataflow and
# re-populates the re-armed caches from scratch.
_DURABLE_PLAN_CACHE = Memo("prepared", release=lambda entry: _unpersist_handles(entry[1]))

# collector active during a durable build (nesting-safe via
# save/restore in the decorator; thread-local so a concurrent build —
# e.g. a streaming micro-batch thread calling a helper that uses
# cached() — can never attribute handles to another thread's entry)
_TLS = threading.local()

# every durable_plan_memo-decorated builder, for the eligibility
# tripwire test (no localCheckpoint / collect / sink in their source)
_DURABLE_BUILDERS: list[Callable] = []


def cached(df: DataFrame) -> DataFrame:
    """``df.cache()`` that also registers the handle with an enclosing
    ``durable_plan_memo`` build for re-arming (plain cache otherwise).
    """
    df = df.cache()
    collect = getattr(_TLS, "collect", None)
    if collect is not None:
        collect.append(df)
    return df


def _fresh_view(df: DataFrame) -> DataFrame:
    """A new Dataset (hence a new JVM QueryExecution) over the same
    analyzed tree.  A Dataset freezes its execution plan on first
    action — cache substitutions and the scan's file-listing snapshot
    included — so handing the RETAINED object to a caller would let a
    direct re-collect serve that frozen plan after a reset instead of
    re-resolving against the CURRENT cache registrations (measured:
    stale result on a mutated source; pinned by
    ``test_durable_plan_not_frozen_across_reset``).  One py4j call +
    a JVM-side re-analysis per hand-out — negligible next to the
    hundreds of py4j round trips the retained tree saves."""
    return df.select("*")


def durable_plan_memo(*gate_names: str) -> Callable:
    """Decorator for ``fn(spark, sf) -> DataFrame`` pure lazy plan
    builders whose prepared plan survives ``clear_materializations``
    (see the module docstring for eligibility).

    ``gate_names`` are module-global constants (looked up in the
    function's own module at CALL time) that alter the built plan —
    broadcast budgets, prune gates, iteration counts.  Their current
    values are part of the key.  Eager plan-SHAPING statistics (e.g. a
    candidate count that gates a broadcast hint) are permitted and run
    once per (session, sf, gates) — query-planner work a production
    engine reads from table stats, not answer computation.

    On a warm hit after ``spark.catalog.clearCache()``, every
    registered cache handle whose registration was dropped is
    re-armed in build (= dependency) order, so within-rep cache reuse
    matches a fresh build while the next action still re-executes the
    full dataflow to populate them.
    """

    def deco(fn: Callable) -> Callable:
        _DURABLE_BUILDERS.append(fn)

        @functools.wraps(fn)
        def wrapped(spark: SparkSession, sf: str) -> DataFrame:
            gates = tuple(fn.__globals__[g] for g in gate_names)
            key = _DURABLE_PLAN_CACHE.key(
                spark, sf.rstrip("/"), fn.__qualname__, gates
            )
            hit = _DURABLE_PLAN_CACHE.get(key)
            if hit is not None:
                df, handles = hit
                for h in handles:
                    lvl = h.storageLevel
                    if not (lvl.useMemory or lvl.useDisk):
                        h.cache()
                return _fresh_view(df)
            prev = getattr(_TLS, "collect", None)
            _TLS.collect = []
            try:
                df = fn(spark, sf)
                handles = tuple(_TLS.collect)
            except BaseException:
                # a builder raising mid-build would otherwise orphan
                # the cache registrations it made before failing (the
                # entry is never stored, so nothing would ever re-arm
                # or drop them)
                _unpersist_handles(_TLS.collect)
                raise
            finally:
                _TLS.collect = prev
            _DURABLE_PLAN_CACHE[key] = (df, handles)
            # the build call hands out a fresh view too, so every
            # consumer sees the identical plan shape (semanticHash-
            # keyed memos stay consistent across build and hit calls)
            return _fresh_view(df)

        return wrapped

    return deco
