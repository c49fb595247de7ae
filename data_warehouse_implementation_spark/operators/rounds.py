"""One round driver for the iterative operators (the graph walks,
``dedup.connected_components``, the Lloyd fits in ``similarity`` and the
unigram EM trainer). Each has a small per-round STATE table, STATIONARY
tables every round reads, and a step mapping state to the next state;
:class:`Rounds` owns the per-round checkpoint, the optional convergence
probe, and the stationary tables with their lifetime.

The steps broadcast the node-scale state into every join with an
edge-scale stationary table: checkpointed-RDD statistics are opaque to
the planner, which otherwise sort-merge-joins the edge table every
round. A state table past Spark's broadcast limit fails the query.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class Rounds:
    """Driver for one iterative operator call: register its stationary
    tables with :meth:`stationary`, then :meth:`run` the rounds once."""

    def __init__(self) -> None:
        self._cached: list[DataFrame] = []

    def stationary(self, df: DataFrame, key: str | None = None) -> DataFrame:
        """A table every round reads, materialized once instead of
        re-derived from its (often fact-scale) lineage per round.

        Without ``key``: a deferred ``localCheckpoint``, materialized
        inside the first round's job. With ``key`` — a round aggregates
        or windows on that column — hash-partitioned on it and CACHED:
        a materialized ``InMemoryRelation`` keeps its partitioning, so
        the rounds' aggregates on ``key`` reuse this one exchange, while
        a checkpoint's ``LogicalRDD`` reports ``UnknownPartitioning``
        and re-plans an ``Exchange hashpartitioning(key)`` every round
        (measured on Spark 4.1 with AQE on, eager and deferred). The
        cache is unpersisted by :meth:`run`."""
        if key is None:
            return df.localCheckpoint(eager=False)
        cached = df.repartition(F.col(key)).cache()
        self._cached.append(cached)
        return cached

    def run(
        self,
        state: DataFrame,
        step: Callable[[DataFrame], DataFrame],
        rounds: int,
        probe: Callable[[DataFrame, DataFrame], DataFrame] | None = None,
    ) -> DataFrame:
        """Apply ``step`` up to ``rounds`` times. Each new state is a
        deferred ``localCheckpoint``, so every round plans against a
        leaf instead of every earlier round's lineage. With ``probe``,
        stop after the first round whose ``probe(new, old)`` (the
        changed rows) counts zero — the count materializes the round's
        checkpoint inside its own job.

        A cached stationary table is freed before returning, also when
        a round raises. So that the returned state does not depend on
        it, the final round's checkpoint is then EAGER (every round runs
        before returning) unless a probe already materialized it. With
        ``rounds == 0`` the seed state is returned as given."""
        try:
            for i in range(rounds):
                eager = bool(self._cached) and probe is None and i == rounds - 1
                new = step(state).localCheckpoint(eager=eager)
                done = probe is not None and probe(new, state).count() == 0
                state = new
                if done:
                    break
        finally:
            for df in self._cached:
                df.unpersist()
            self._cached.clear()
        return state
