"""Checkpoint / lineage / resume semantics (north rule: runs resumable
mid-convergence; resumed run equals uninterrupted run to within float
re-association noise — shuffle partial-sum merge order is not
deterministic across parquet vs in-memory state sources, so last-ulp
differences (~1e-17) are expected; 1e-12 is 6 orders tighter than the
1e-6 convergence criterion)."""

from __future__ import annotations

import math
import os

import pytest

from cim_framework_graph_partitioning_spark.operators.centrality import (
    katz_centrality,
    salsa,
)
from cim_framework_graph_partitioning_spark.operators.hits import hits
from cim_framework_graph_partitioning_spark.operators.pagerank import pagerank
from cim_framework_graph_partitioning_spark.operators.spreading import (
    label_spreading,
)
from cim_framework_graph_partitioning_spark.plans.barrier import (
    checkpoint_leaf_ids,
    release_checkpoint,
)

from .test_graph_algorithms import _edges_df, _random_edges


def _spreading(spark, edges, **kw):
    seeds = spark.createDataFrame([(0, 0), (1, 1)], "id long, label long")
    return label_spreading(spark, edges, seeds, **kw)


# the weighted-matvec operators (plans/matvec.py): name -> (call, columns)
MATVEC = {
    "pagerank": (pagerank, ["id", "rank"]),
    "hits": (hits, ["id", "hub", "auth"]),
    "katz": (katz_centrality, ["id", "katz"]),
    "salsa": (salsa, ["id", "hub", "auth"]),
    "spreading": (_spreading, ["id", "label", "score"]),
}


def _scores(df):
    """{key: scores}: the float columns keyed by all the others."""
    floats = [f.name for f in df.schema.fields if f.dataType.typeName() == "double"]
    keys = [c for c in df.columns if c not in floats]
    return {
        tuple(r[k] for k in keys): tuple(r[f] for f in floats) for r in df.collect()
    }


@pytest.mark.parametrize("name", list(MATVEC))
def test_resume_equals_uninterrupted(spark, tmp_path, name):
    call, _ = MATVEC[name]
    triples = _random_edges(21, n=30, m=80)
    df = _edges_df(spark, triples)

    # uninterrupted: 10 supersteps
    full, _ = call(spark, df, tol=0.0, max_iter=10)
    want = _scores(full)

    # interrupted at 5, then resumed to 10 from the parquet checkpoint
    ck = str(tmp_path / "ck")
    call(spark, df, tol=0.0, max_iter=5, checkpoint_dir=ck,
         checkpoint_every=1, run_id="t")
    resumed, steps = call(spark, df, tol=0.0, max_iter=10,
                          checkpoint_dir=ck, checkpoint_every=1,
                          resume=True, run_id="t")
    got = _scores(resumed)
    assert steps == 10
    assert set(got) == set(want)
    for k in want:
        for g, w in zip(got[k], want[k]):
            assert math.isclose(g, w, rel_tol=0, abs_tol=1e-12), k


def test_checkpoint_artifacts_written(spark, tmp_path):
    triples = _random_edges(22, n=20, m=50)
    ck = str(tmp_path / "ck2")
    pagerank(spark, _edges_df(spark, triples), tol=0.0, max_iter=3,
             checkpoint_dir=ck, checkpoint_every=1, run_id="art")

    assert os.path.isdir(f"{ck}/state/superstep=3")
    metrics = spark.read.parquet(f"{ck}/metrics")
    names = {r.name for r in metrics.select("name").distinct().collect()}
    assert {"max_delta", "dangling_mass"} <= names
    assert metrics.filter("superstep = 2").count() > 0

    lineage = spark.read.parquet(f"{ck}/lineage")
    cols = set(lineage.columns)
    assert {"run_id", "superstep", "partition_id", "metric", "value"} <= cols
    metrics_present = {
        r.metric for r in lineage.select("metric").distinct().collect()
    }
    # content, not just counts: per-partition rank contributions + real
    # bytes written (the reference's per-core stream analogue)
    assert {"rows", "bytes", "sum_rank", "max_rank"} <= metrics_present

    state = spark.read.parquet(f"{ck}/state/superstep=3")
    last = lineage.filter("superstep = 3")

    def total(metric):
        return (
            last.filter(f"metric = '{metric}'").groupBy().sum("value").collect()[0][0]
        )

    # lineage must reconstruct the global state aggregates exactly
    assert total("rows") == state.count()
    assert math.isclose(total("sum_rank"), 1.0, abs_tol=1e-9)  # rank mass
    # bytes: sum of per-partition part files == actual on-disk state size
    on_disk = sum(
        os.path.getsize(os.path.join(f"{ck}/state/superstep=3", f))
        for f in os.listdir(f"{ck}/state/superstep=3")
        if f.startswith("part-") and f.endswith(".parquet")
    )
    assert total("bytes") == on_disk > 0
    # per-partition max contributions bound the global max
    gmax = state.groupBy().max("rank").collect()[0][0]
    lmax = (
        last.filter("metric = 'max_rank'").groupBy().max("value").collect()[0][0]
    )
    assert math.isclose(gmax, lmax, abs_tol=1e-15)


def test_release_checkpoint_walks_plan_leaves(spark):
    """A state frame is often a Project OVER the checkpointed LogicalRDD
    (pagerank returns newc.select(...)); release must find the leaf, not
    just a top-level LogicalRDD (r2 ADVICE: the leak this module exists
    to fix silently survived for projected states)."""
    from cim_framework_graph_partitioning_spark.plans.barrier import (
        release_checkpoint,
    )

    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    proj = spark.range(64).localCheckpoint(eager=True).selectExpr("id * 2 AS x")
    assert jsc.getPersistentRDDs().size() == before + 1
    release_checkpoint(proj)
    assert jsc.getPersistentRDDs().size() == before
    # non-checkpointed frames are a harmless no-op
    release_checkpoint(spark.range(5).selectExpr("id + 1 AS y"))


@pytest.mark.parametrize("name", list(MATVEC))
def test_pagerank_loop_releases_superseded_checkpoints(spark, name):
    """After a run of any matvec operator, no superseded per-superstep
    checkpoint RDD — nor any intermediate a superstep materialized — may
    stay pinned in SparkContext.persistentRdds (each pinned one drags
    its whole untruncated ancestry into the driver heap). Compared as
    RDD id sets: the context cleaner may unpin an earlier test's RDDs
    mid-call, which would hide a leak in a bare size difference."""
    call, _ = MATVEC[name]

    def pinned():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    before = pinned()
    df = _edges_df(spark, _random_edges(33, n=40, m=120))
    out, steps = call(spark, df, tol=0.0, max_iter=6)
    assert steps == 6
    leaked = pinned() - before
    # the returned final state may legitimately stay pinned; anything
    # beyond one frame's worth of RDDs is a leak.
    assert len(leaked) <= 1, f"leaked {len(leaked)} checkpoint RDDs"


@pytest.mark.parametrize("name", list(MATVEC))
def test_zero_supersteps_keep_the_callers_checkpoint(spark, name):
    """With max_iter=0 the final state is still a plan over the caller's
    edges, so what an operator releases after its loop (salsa's final
    hubs) must leave the caller's own checkpoint pinned."""
    call, _ = MATVEC[name]
    df = _edges_df(spark, _random_edges(34, n=20, m=50)).localCheckpoint(eager=True)
    theirs = checkpoint_leaf_ids(df)
    out, steps = call(spark, df, max_iter=0)
    pinned = set(spark.sparkContext._jsc.getPersistentRDDs().keys())
    assert steps == 0
    assert theirs and theirs <= pinned
    assert out.count() > 0
    release_checkpoint(out)
    release_checkpoint(df)
