"""Iterate-to-fixpoint over DataFrames: the single round loop shared by
every registry op that truncates lineage with ``localCheckpoint``, plus
the min-label connected components built on it.

``fixpoint(state, step, max_rounds, progress=..., must_converge=...)`` runs
``step(state).localCheckpoint(eager=False)`` once per round, so the
physical plan stays constant-size however many rounds run. ``progress`` is
an aggregate Column whose value repeats only at the fixpoint (a survivor
count for peeling ops, an exact ``decimal(38,0)`` sum of monotone labels,
distances or hops otherwise — decimal so ANSI overflow cannot fire). It
is evaluated on the seed and after every round; that evaluation is
the action that materializes the round, and the first repeated value ends
the loop. The early exit is exact: ``step`` is a pure function of the
state, so every later round is a no-op and an unrolled fixed-round oracle
yields the same rows. With ``must_converge`` a loop that reaches its cap
without a repeat raises instead of returning a truncated answer; without
``progress`` exactly ``max_rounds`` rounds run (the
fixed-horizon ops).

Min-label components (`pipeline.perimeters`, `training.dup_components`,
`dbscan_clusters`) converge to the unique fixpoint (every node's label =
min node id reachable from it). Each round combines one hop of
neighbor-min propagation with POINTER DOUBLING (label <- label-of-label,
the path-halving step of union-find): the neighbor hop moves mins one
edge, the doubling step shortcuts label chains exponentially, so
convergence is O(log diameter) rounds rather than O(diameter) — the
difference between ~8 and ~220 rounds on a long lattice component
(round-4 finding: DBSCAN over a dense point field produced exactly that
chain and blew the iteration cap under pure propagation). Per round: one
shuffle join (edges -> labels), one partial-aggregated groupBy, and one
labels⋈labels self-join for the doubling; only a scalar label sum per
round comes back to the Spark driver.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def fixpoint(
    state: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    max_rounds: int,
    *,
    progress: Column | None = None,
    must_converge: bool = False,
) -> DataFrame:
    """Apply ``step`` until ``progress`` repeats, at most ``max_rounds``
    times. Raises RuntimeError if ``must_converge`` and the cap is reached
    without a repeat (always, when there is no ``progress``); otherwise
    returns the last state."""
    last = None if progress is None else state.agg(progress).collect()[0][0]
    for _ in range(max_rounds):
        state = step(state).localCheckpoint(eager=False)
        if progress is not None:
            cur = state.agg(progress).collect()[0][0]
            if cur == last:
                return state
            last = cur
    if must_converge:
        raise RuntimeError(
            f"{step.__qualname__}: no fixpoint within {max_rounds} rounds; "
            "raise the round cap"
        )
    return state


def min_label_components(
    labels: DataFrame, edges: DataFrame, node_col: str, max_iters: int
) -> DataFrame:
    """Propagate min labels to convergence.

    ``labels``: (node_col, component) seeded with component = node id.
    ``edges``: (src, dst), already symmetrized and restricted to real nodes.
    Raises RuntimeError if the fixpoint is not reached within ``max_iters``
    rounds — a silent fall-through would report one connected region as
    several, with under-counted boundaries (review finding, round 3)."""

    def step(labels: DataFrame) -> DataFrame:
        nbr = (
            edges.join(labels, edges.dst == labels[node_col])
            .groupBy("src")
            .agg(F.min("component").alias("_nbr"))
        )
        stepped = labels.join(nbr, labels[node_col] == nbr.src, "left").select(
            node_col,
            F.least(
                F.col("component"), F.coalesce("_nbr", F.col("component"))
            ).alias("component"),
        )
        # pointer doubling: follow each node's label to THAT node's label
        # (every component value is itself a node id, so the lookup is a
        # self-join); labels only decrease, staying within the component
        parent = stepped.select(
            F.col(node_col).alias("_pn"), F.col("component").alias("_pc")
        )
        return stepped.join(parent, stepped.component == parent._pn, "left").select(
            node_col,
            F.least(
                F.col("component"), F.coalesce("_pc", F.col("component"))
            ).alias("component"),
        )

    # labels only decrease, so their exact sum repeats only at the fixpoint
    return fixpoint(
        labels,
        step,
        max_iters,
        progress=F.sum(F.col("component").cast("decimal(38,0)")),
        must_converge=True,
    )
