"""Weighted-matvec supersteps: the one dataflow plan behind PageRank,
Katz, SALSA, HITS and label spreading.

Each of those operators iterates ``x' = f(x, W x)`` over a static edge
table. The plan shape is shared (a vertex program as a parameterization
of one dataflow plan, as in Pregelix); the operators supply only the
update around it.

* ``edge_side`` — the static side: cached once, hash-partitioned by the
  half-step's join key, optionally with weights normalized per key over
  that same exchange. No superstep re-exchanges it; at 100 TB it is the
  table that dominates, and it is scanned once per half-step.
* ``half_step`` — one sparse matvec: only the (small) state shuffles,
  under a ``shuffle_hash`` hint so the cached edge partitions are never
  re-sorted by a sort-merge join (measured 1.8x/step). Each edge
  contributes ``value × weight``; contributions are summed by the other
  endpoint (map-side partially combined), per extra group key if any.
* ``fixpoint`` — the driver-checked loop. Each superstep materializes
  the next state in ONE job (a local checkpoint), with ``max|new − prev|``
  and any operator metrics riding that job as observed metrics, so
  there is no separate stats scan. ``SuperstepRunner`` supplies durable
  checkpoints, lineage and resume; the loop stops at ``max_delta < tol``.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from .barrier import release_checkpoint
from .scope import LoopScope
from .superstep import SuperstepRunner


def edge_side(
    scope: LoopScope, edges: DataFrame, p: int, by: str, normalize: bool = False
) -> DataFrame:
    """``(src_id, dst_id, weight)`` hash-partitioned by ``by`` into ``p``
    blocks and cached for the life of ``scope`` (lazily: the first job
    that scans it fills the cache). ``normalize=True`` divides each
    weight by the total weight of its ``by`` endpoint, with a window over
    the exchange the cache needs anyway."""
    e = edges.select("src_id", "dst_id", "weight").repartition(p, by)
    if normalize:
        e = e.select(
            "src_id", "dst_id",
            (F.col("weight") / F.sum("weight").over(Window.partitionBy(by)))
            .alias("weight"),
        )
    return scope.cache(e)


def half_step(
    state: DataFrame,
    value: str,
    edges: DataFrame,
    frm: str = "src_id",
    to: str = "dst_id",
    keys: tuple[str, ...] = (),
) -> DataFrame:
    """``(id, *keys, s)``: for every ``to`` endpoint, the sum over its
    edges ``frm → to`` of ``state[value] × weight``. ``edges`` must be an
    ``edge_side`` partitioned by ``frm``. Endpoints no edge reaches have
    no row."""
    x = state.select("id", *keys, value).hint("shuffle_hash")
    return (
        x.join(edges, x.id == edges[frm])
        .select(F.col(to).alias("id"), *keys, (F.col(value) * F.col("weight")).alias("c"))
        .groupBy("id", *keys)
        .agg(F.sum("c").alias("s"))
    )


def fixpoint(
    spark: SparkSession,
    init: DataFrame,
    update: Callable[[DataFrame, Callable[[DataFrame], DataFrame]], DataFrame],
    *,
    tol: float,
    max_iter: int,
    checkpoint_dir: str | None,
    checkpoint_every: int,
    resume: bool,
    run_id: str,
    metrics_sink: list | None,
    metrics: dict[str, Column] | None = None,
) -> tuple[DataFrame, int]:
    """Iterate ``update`` from ``init`` until ``max_delta < tol`` or
    ``max_iter`` supersteps; returns (final state, supersteps run).

    ``update(state, cut)`` returns the next state as a lazy frame that
    carries every state column, plus ``prev_<col>`` for each score
    column: the delta is the largest ``|col − prev_col|`` (a missing
    previous value counts as 0). ``cut(df)`` materializes an
    intermediate that feeds more than one consumer; it is released once
    the state it fed is materialized. ``metrics`` adds aggregates over
    the update's frame to the per-superstep metrics (null reads 0.0);
    ``metrics_sink``, if given, receives every superstep's metrics."""
    metrics = metrics or {}

    def step_fn(state: DataFrame, step: int):
        cuts: list[DataFrame] = []

        def cut(df: DataFrame) -> DataFrame:
            cuts.append(df.localCheckpoint(eager=True))
            return cuts[-1]

        frame = update(state, cut)
        diffs = [
            F.abs(F.col(c) - F.coalesce(F.col(f"prev_{c}"), F.lit(0.0)))
            for c in state.columns
            if f"prev_{c}" in frame.columns
        ]
        obs = Observation()
        new = (
            frame.observe(
                obs,
                F.max(diffs[0] if len(diffs) == 1 else F.greatest(*diffs)).alias("max_delta"),
                *(agg.alias(name) for name, agg in metrics.items()),
            )
            .select(*state.columns)
            .localCheckpoint(eager=True)
        )
        for df in cuts:
            release_checkpoint(df)
        return new, {k: float(v or 0.0) for k, v in obs.get.items()}

    runner = SuperstepRunner(
        spark, checkpoint_dir=checkpoint_dir, run_id=run_id,
        checkpoint_every=checkpoint_every,
    )
    state, steps = runner.run(
        init, step_fn, converged=lambda m: m["max_delta"] < tol,
        max_iter=max_iter, resume=resume,
    )
    if metrics_sink is not None:
        metrics_sink.extend(runner.history)
    return state, steps
