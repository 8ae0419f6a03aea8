"""Every iterative operator leaves the shared SparkSession as it found it
— conf, cached tables and checkpoint RDDs — on exception as well as on
success (plans/scope.py owns that state).

Two injected failures per operator, on a tiny graph:

* setup: every edge column raises on evaluation, so the first action
  that reads the edges fails (``count()`` alone prunes the columns and
  still succeeds, so block sizing goes through);
* superstep 1 (SuperstepRunner users): the runner runs the operator's
  first superstep for real — materializing its lazy caches — then
  raises.

Each case asserts the original exception propagates, that the loop
conf is back to its value before the call, and that no RDD persisted
during the call (cache or checkpoint) is still pinned. The check is on
RDD ids rather than the bare ``getPersistentRDDs().size()``: the
context cleaner may unpin an earlier test's garbage-collected RDDs
mid-call, which would move the size without this call leaking.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cim_framework_graph_partitioning_spark.operators import (
    betweenness,
    centrality,
    coloring,
    components,
    dag,
    hits,
    kcore,
    labelprop,
    mis,
    pagerank,
    partitioner,
    paths,
    scc,
    sketches,
    spreading,
    truss,
    wl,
)
from cim_framework_graph_partitioning_spark.plans.barrier import release_checkpoint
from cim_framework_graph_partitioning_spark.plans.superstep import SuperstepRunner

CONF_KEYS = ("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")

# a small DAG (so the dag operators accept it) with a triangle and a tail
EDGES = [(1, 2), (1, 3), (2, 3), (3, 4), (4, 5), (2, 5), (5, 6)]


def _sources(spark):
    return spark.createDataFrame([(1,), (2,)], "id long")


def _seeds(spark):
    return spark.createDataFrame([(1, 0), (6, 1)], "id long, label long")


# name -> (call(spark, edges), uses SuperstepRunner)
OPERATORS = {
    "pagerank": (lambda s, e: pagerank.pagerank(s, e, max_iter=3), True),
    "hits": (lambda s, e: hits.hits(s, e, max_iter=3), True),
    "katz": (lambda s, e: centrality.katz_centrality(s, e, max_iter=3), True),
    "salsa": (lambda s, e: centrality.salsa(s, e, max_iter=3), True),
    "cc_star": (lambda s, e: components.connected_components(s, e), True),
    "cc_minlabel": (
        lambda s, e: components.connected_components(s, e, algorithm="minlabel"),
        True,
    ),
    "labelprop": (lambda s, e: labelprop.label_propagation(s, e, max_iter=3), True),
    "coloring": (lambda s, e: coloring.greedy_coloring(s, e), True),
    "kcore": (lambda s, e: kcore.coreness(s, e), True),
    "mis": (lambda s, e: mis.maximal_independent_set(s, e), True),
    "sssp": (lambda s, e: paths.shortest_paths(s, e, _sources(s)), True),
    "spreading": (
        lambda s, e: spreading.label_spreading(s, e, _seeds(s), max_iter=3), True
    ),
    "truss": (lambda s, e: truss.trussness(s, e), True),
    "wl": (lambda s, e: wl.wl_refinement(s, e, rounds=2), True),
    "partitioner": (
        lambda s, e: partitioner.balanced_partition(s, e, k=2, max_rounds=2), False
    ),
    "scc": (lambda s, e: scc.strongly_connected_components(s, e), False),
    "topo_levels": (lambda s, e: dag.topological_levels(s, e), False),
    "longest_path": (lambda s, e: dag.longest_path_lengths(s, e), False),
    "sketches": (lambda s, e: sketches.neighborhood_sketches(s, e, t=2), False),
    "betweenness": (
        lambda s, e: betweenness.betweenness_sampled(s, e, _sources(s)), False
    ),
    "harmonic": (
        lambda s, e: betweenness.harmonic_centrality_sampled(s, e, _sources(s)),
        False,
    ),
    "closeness": (
        lambda s, e: betweenness.closeness_centrality_sampled(s, e, _sources(s)),
        False,
    ),
    "eccentricity": (
        lambda s, e: betweenness.eccentricity_sampled(s, e, _sources(s)), False
    ),
}
RUNNER_USERS = [name for name, (_, runner) in OPERATORS.items() if runner]


class InjectedFailure(RuntimeError):
    pass


def _conf(spark):
    return {k: spark.conf.get(k) for k in CONF_KEYS}


def _pinned(spark):
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def _edges(spark):
    return spark.createDataFrame(
        [(a, b, 1.0) for a, b in EDGES], "src_id long, dst_id long, weight double"
    )


def _raising_edges(spark):
    msg = F.lit("injected setup failure")
    return _edges(spark).select(
        F.coalesce(F.raise_error(msg).cast("long"), F.col("src_id")).alias("src_id"),
        F.coalesce(F.raise_error(msg).cast("long"), F.col("dst_id")).alias("dst_id"),
        F.coalesce(F.raise_error(msg).cast("double"), F.col("weight")).alias("weight"),
    )


@pytest.mark.parametrize("name", list(OPERATORS))
def test_setup_failure_restores_session(spark, name):
    call, _ = OPERATORS[name]
    edges = _raising_edges(spark)
    conf, pinned = _conf(spark), _pinned(spark)
    with pytest.raises(Exception, match="injected setup failure"):
        call(spark, edges)
    assert _conf(spark) == conf
    assert _pinned(spark) - pinned == set()


@pytest.mark.parametrize("name", RUNNER_USERS)
def test_superstep_failure_restores_session(spark, monkeypatch, name):
    call, _ = OPERATORS[name]
    run = SuperstepRunner.run

    def run_one_step_then_fail(self, init_state, step_fn, *args, **kwargs):
        def step(state, n):
            new_state, _ = step_fn(state, n)
            # the runner owns a step's output state: drop it the way it
            # drops every superseded state, so only operator-owned
            # caches and checkpoints can be left behind
            if new_state.is_cached:
                new_state.unpersist()
            release_checkpoint(new_state)
            raise InjectedFailure(f"injected failure in superstep {n}")

        return run(self, init_state, step, *args, **kwargs)

    monkeypatch.setattr(SuperstepRunner, "run", run_one_step_then_fail)
    edges = _edges(spark)
    conf, pinned = _conf(spark), _pinned(spark)
    with pytest.raises(InjectedFailure, match="superstep 1"):
        call(spark, edges)
    assert _conf(spark) == conf
    assert _pinned(spark) - pinned == set()
