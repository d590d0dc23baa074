"""Iteration policy of the iterative graph operators, stated once:
``connected_components`` and ``connected_components_bigstar`` (dedup.py),
``pagerank``, ``pagerank_exact``, ``k_core`` and ``bfs_distances``
(graph.py) keep only their own math and iterate through an
:class:`Iteration`.

- Round: :meth:`Iteration.fixpoint` applies the operator's step, attaches
  its metrics as an ``Observation`` and materializes the result with one
  eager ``localCheckpoint``: one job per round, no added Exchange, and a
  constant-size plan for the next round.
- Round limit: with a convergence test, not converging within
  ``max_iter`` rounds raises RuntimeError (partial output is never
  returned as final); without one, exactly ``max_iter`` rounds run.
- Pinned input: :func:`require_pinned` checks a caller's promise that a
  frame is already materialized.
- Pin lifetime: on return, every checkpoint and cache made through the
  ``Iteration`` is released unless the returned frame reads it. Releases
  go by RDD id, never by diffing the session's persistent RDDs: another
  driver thread may be pinning its own meanwhile.
"""

from __future__ import annotations

from typing import Callable, NamedTuple

from pyspark.sql import Column, DataFrame, Observation


class Round(NamedTuple):
    """A materialized state and the metrics observed while building it."""

    df: DataFrame | None
    seen: dict = {}


def _nodes(plan):
    yield plan
    for i in range(plan.children().size()):
        yield from _nodes(plan.children().apply(i))


def _plan(df: DataFrame):
    # a fresh query execution: an executed one keeps its old cache lookup
    return df.select("*")._jdf.queryExecution().withCachedData()


def _rdds_read(df: DataFrame) -> set[int]:
    """Ids of the checkpointed and cached RDDs ``df`` reads. The
    checkpoints under a cache count only while the cache is unbuilt: a
    built one is then the only copy, which ``clearCache`` would lose."""
    ids, plans = set(), [_plan(df)]
    while plans:
        for p in _nodes(plans.pop()):
            if p.nodeName() == "LogicalRDD":
                ids.add(p.rdd().id())
            elif p.nodeName() == "InMemoryRelation":
                cache = p.cacheBuilder()
                ids.add(cache.cachedColumnBuffers().id())
                if not cache.isCachedColumnBuffersLoaded():
                    plans.append(cache.logicalPlan())
    return ids


def require_pinned(df: DataFrame) -> None:
    """Raise ValueError unless ``df`` reads only checkpoints and caches,
    through ``Project``, ``Filter`` and ``Union`` nodes."""
    for p in _nodes(_plan(df)):
        leaf = p.children().isEmpty()
        if p.nodeName() not in (
            ("LogicalRDD", "InMemoryRelation") if leaf
            else ("Project", "Filter", "Union")
        ):
            raise ValueError(
                f"frame promised as pinned reads a {p.nodeName()} node; "
                "checkpoint or cache it first"
            )


class Iteration:
    """Owns the checkpoints and caches of one operator call::

        with Iteration() as it:
            ...
            return it.result(out)
    """

    def __init__(self) -> None:
        self._release: dict[int, Callable] = {}  # rdd id -> release
        self._out: DataFrame | None = None
        self.rounds = 0  # rounds run by the last fixpoint

    def checkpoint(self, df: DataFrame, *metrics: Column) -> Round:
        """Eagerly checkpoint ``df``; ``metrics`` ride the same job."""
        obs = Observation() if metrics else None
        df = (df.observe(obs, *metrics) if obs else df).localCheckpoint(True)
        rdd = df._jdf.queryExecution().logical().rdd()
        self._release[rdd.id()] = lambda: rdd.unpersist(False)
        return Round(df, obs.get if obs else {})

    def cache(self, df: DataFrame) -> DataFrame:
        (imr,) = [p for p in _nodes(_plan(df.cache())) if p.nodeName() == "InMemoryRelation"]
        self._release[imr.cacheBuilder().cachedColumnBuffers().id()] = df.unpersist
        return df

    def fixpoint(
        self,
        step: Callable[[DataFrame | None], DataFrame],
        start: Round,
        *,
        max_iter: int,
        metrics: tuple[Column, ...] = (),
        converged: Callable[[Round, Round], bool] | None = None,
        hint: str = "",
    ) -> DataFrame:
        """Feed ``start`` through ``step`` until ``converged(previous,
        current)`` holds, or for exactly ``max_iter`` rounds without a
        test; returns the last round's checkpoint."""
        cur, self.rounds = start, 0
        while self.rounds < max_iter:
            self.rounds += 1
            prev, cur = cur, self.checkpoint(step(cur.df), *metrics)
            if converged is not None and converged(prev, cur):
                return cur.df
        if converged is not None:
            raise RuntimeError(
                f"no fixpoint within max_iter={max_iter} rounds. {hint}"
            )
        return cur.df

    def result(self, df: DataFrame) -> DataFrame:
        """Mark ``df`` as the call's output: what it reads stays pinned."""
        self._out = df
        return df

    def __enter__(self) -> Iteration:
        return self

    def __exit__(self, exc_type, *_) -> None:
        # after an exception nothing is returned, so everything goes
        out = None if exc_type else self._out
        keep = set() if out is None else _rdds_read(out)
        for rid, release in self._release.items():
            if rid not in keep:
                release()
