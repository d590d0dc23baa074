"""The engine's one pin rule: storage a call pins for its own use goes
through an :class:`Iteration` and is released when the call leaves it,
by return or by exception::

    with Iteration() as it:
        shared = it.cache(frame_read_twice)     # lazy, like .cache()
        small = it.checkpoint(bounded_frame).df  # eager localCheckpoint
        return it.result(out)

Only this module calls ``unpersist`` or an eager ``localCheckpoint``
(tests/test_reachability.py). Caches backing a lazily returned frame
keep the lifetime their operators document.

- Pin lifetime: on return every pin is released unless the returned
  frame reads it; after an exception all are. Pins are matched by JVM
  identity (a checkpoint's RDD, a cache's builder), never by diffing
  the session's persistent RDDs: another driver thread may be pinning
  its own meanwhile. Finding what the output reads builds no cache.
- Pinned input: :func:`require_pinned` checks a caller's promise that a
  frame is already materialized.
- Checkpoints: :meth:`Iteration.checkpoint` runs one Spark job, an
  ``rdd.count()`` that fills a lazy ``localCheckpoint`` (its map stages
  run as their own jobs, as under any action). Metrics ride that job as
  ``observe`` aggregates, read off the observed frame's own execution
  once the count returns. A pyspark ``Observation`` would not do: it
  completes when the lazy checkpoint's planning action ends, before the
  filling job has run.
- Rounds: the iterative operators (``connected_components*`` in
  dedup.py; ``pagerank``, ``pagerank_exact``, ``k_core`` and
  ``bfs_distances`` in graph.py) loop through :meth:`Iteration.fixpoint`:
  per round one checkpoint with the step's metrics, no added Exchange,
  and one ``(round, rows, wall_s)`` record whose rows are the count the
  checkpoint returned. The min-label ``connected_components``, both
  PageRanks and ``k_core`` carry each node's adjacency in the round
  state, so their round is one ``graph._push``: one Exchange, no join.
  The next round's plan is constant-size for every operator but
  ``bfs_distances``, whose anti-join reads a union that gains one
  checkpointed leaf per round (at most ``max_hops``). With a
  convergence test, not converging within ``max_iter`` rounds raises
  RuntimeError; without one, exactly ``max_iter`` rounds run.
"""

from __future__ import annotations

import time
import uuid
from typing import Callable, NamedTuple

from pyspark.serializers import CPickleSerializer
from pyspark.sql import Column, DataFrame


class Round(NamedTuple):
    """A materialized state, the metrics observed while building it and
    its row count."""

    df: DataFrame | None
    seen: dict = {}
    rows: int = 0


def _nodes(plan):
    yield plan
    for i in range(plan.children().size()):
        yield from _nodes(plan.children().apply(i))


def _plan(df: DataFrame):
    # a fresh query execution: an executed one keeps its old cache lookup
    return df.select("*")._jdf.queryExecution().withCachedData()


def _observed(df: DataFrame, name: str) -> dict:
    """The metrics ``df.observe(name, ...)`` collected in the jobs run
    so far on ``df``'s own query execution."""
    jvm = df.sparkSession.sparkContext._jvm
    row = df._jdf.queryExecution().observedMetrics().get(name).get()
    utils = getattr(jvm, "org.apache.spark.sql.api.python.PythonSQLUtils")
    return CPickleSerializer().loads(utils.toPyRow(row)).asDict()


def _pin_key(df: DataFrame, pin) -> int:
    """JVM identity of a checkpoint's RDD or a cache's builder."""
    return df.sparkSession.sparkContext._jvm.System.identityHashCode(pin)


def _pins_read(df: DataFrame) -> set[int]:
    """Keys of the checkpoints and caches ``df`` reads. The checkpoints
    under a cache count only while the cache is unbuilt: a built one is
    then the only copy, which ``clearCache`` would lose."""
    keys, plans = set(), [_plan(df)]
    while plans:
        for p in _nodes(plans.pop()):
            if p.nodeName() == "LogicalRDD":
                keys.add(_pin_key(df, p.rdd()))
            elif p.nodeName() == "InMemoryRelation":
                cache = p.cacheBuilder()
                keys.add(_pin_key(df, cache))
                if not cache.isCachedColumnBuffersLoaded():
                    plans.append(cache.logicalPlan())
    return keys


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
    """Owns the checkpoints and caches of one operator call (the module
    docstring states the rule)."""

    def __init__(self) -> None:
        self._release: dict[int, Callable] = {}  # pin key -> release
        self._out: DataFrame | None = None
        # the last fixpoint's rounds, one (round, rows, wall_s) each
        self.records: list[tuple[int, int, float]] = []

    @property
    def rounds(self) -> int:
        """Rounds run by the last fixpoint."""
        return len(self.records)

    def checkpoint(self, df: DataFrame, *metrics: Column) -> Round:
        """Eagerly checkpoint ``df`` in one job; ``metrics`` ride it.

        The checkpoint's RDD is owned before the job that fills it runs,
        so a raise in that job's last stage still releases it. A frame
        without partitions runs no job; its metrics are those of no
        rows."""
        name = f"iteration_{uuid.uuid4().hex}"
        observed = df.observe(name, *metrics) if metrics else df
        df = observed.localCheckpoint(False)
        rdd = df._jdf.queryExecution().logical().rdd()
        self._release[_pin_key(df, rdd)] = lambda: rdd.unpersist(False)
        rows = rdd.count()
        return Round(df, _observed(observed, name) if metrics else {}, rows)

    def cache(self, df: DataFrame) -> DataFrame:
        """``df.cache()``, as lazy: the first job that reads it builds it."""
        (imr,) = [p for p in _nodes(_plan(df.cache())) if p.nodeName() == "InMemoryRelation"]
        self._release[_pin_key(df, imr.cacheBuilder())] = df.unpersist
        return df

    def fixpoint(
        self,
        step: Callable[[Round], DataFrame],
        start: Round,
        *,
        max_iter: int,
        metrics: tuple[Column, ...] = (),
        converged: Callable[[Round, Round], bool] | None = None,
        hint: str = "",
    ) -> Round:
        """Feed ``start`` through ``step`` until ``converged(previous,
        current)`` holds, or for exactly ``max_iter`` rounds without a
        test; returns the last round."""
        cur, self.records = start, []
        while self.rounds < max_iter:
            t0 = time.perf_counter()
            prev, cur = cur, self.checkpoint(step(cur), *metrics)
            done = converged is not None and converged(prev, cur)
            self.records.append((self.rounds + 1, cur.rows, time.perf_counter() - t0))
            if done:
                return cur
        if converged is not None:
            raise RuntimeError(
                f"no fixpoint within max_iter={max_iter} rounds. {hint}"
            )
        return cur

    def result(self, df: DataFrame) -> DataFrame:
        """Mark ``df`` as the call's output: what it reads stays pinned."""
        self._out = df
        return df

    def __enter__(self) -> Iteration:
        return self

    def __exit__(self, exc_type, *_) -> None:
        # after an exception nothing is returned, so everything goes;
        # newest first: dropping a cache before the unbuilt caches over it
        # makes Spark re-plan them
        out = None if exc_type else self._out
        keep = set() if out is None else _pins_read(out)
        for key, release in reversed(self._release.items()):
            if key not in keep:
                release()
