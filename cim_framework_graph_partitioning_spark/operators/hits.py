"""HITS (hubs & authorities) as iterative DataFrame supersteps.

Kleinberg's algorithm generalized to weighted edges — the natural
companion to PageRank for a link-graph engine (the reference's
dependency graphs are directed, so hub/authority structure is
meaningful: a build-orchestration file is a hub, a widely-imported
utility is an authority; reference graph construction:
/root/reference/graph.py:12-23).

Update rule per superstep (weighted, L2-normalized — the classic
formulation):

    a_raw(v) = sum over edges (u, v) of hub(u) * w(u, v)
    auth     = a_raw / ||a_raw||_2
    t_raw(u) = sum over edges (u, v) of a_raw(v) * w(u, v)
    hub      = t_raw / ||t_raw||_2

``t_raw`` deliberately consumes the UN-normalized ``a_raw``: the L2
norm is a scalar, so hub = E @ (a_raw / na) / ||E @ (a_raw / na)|| =
t_raw / ||t_raw|| — one fewer normalization barrier per superstep,
bit-identical result (both the SQL oracle and the numpy test oracle
mirror this exact dataflow).

Each half-step is plans/matvec.py's shared matvec over its own cached
edge side (by src_id for auth, by dst_id for hub). The two raw tables
feed more than one consumer each, so each is materialized once per
superstep; the L2 norms re-enter the plan as a 1-row broadcast
aggregate (NOT literals — per-step literals defeat the
whole-stage-codegen cache, a measured serial recompile per step).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.matvec import edge_side, fixpoint, half_step
from ..plans.scale import auto_blocks
from ..plans.scope import loop_scope


def hits(
    spark: SparkSession,
    edges: DataFrame,
    tol: float = 1e-6,
    max_iter: int = 100,
    num_blocks: int | None = None,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 4,
    resume: bool = False,
    run_id: str = "hits",
    metrics_sink: list | None = None,
) -> tuple[DataFrame, int]:
    """Returns (scores(id, hub, auth), supersteps_run).

    Converges when max(L-inf delta of hub, L-inf delta of auth) < tol.
    Hub and auth vectors are each unit-L2-normalized.
    """
    sc = spark.sparkContext
    p = num_blocks or auto_blocks(edges.count(), sc.defaultParallelism)

    # loop-scoped conf BEFORE setup (same discipline as pagerank): the
    # cached static tables and the init land on hash(key, p) directly
    with loop_scope(spark, p) as scope:
        verts = scope.cache(
            edges.select(F.col("src_id").alias("id"))
            .unionByName(edges.select(F.col("dst_id").alias("id")))
            .distinct()
        )
        n = verts.count()
        if n == 0:
            return spark.createDataFrame([], "id long, hub double, auth double"), 0

        # lazy caches: step 1's two matvec jobs materialize each inside the
        # job that first scans it (two eager setup counts were two extra jobs)
        e_by_src = edge_side(scope, edges, p, "src_id")
        e_by_dst = edge_side(scope, edges, p, "dst_id")

        init = verts.select(
            "id",
            F.lit(1.0 / math.sqrt(n)).alias("hub"),
            F.lit(0.0).alias("auth"),
        )

        def update(state: DataFrame, cut) -> DataFrame:
            # -- auth half-step. The state IS the vertex table: joining it
            # carries prev_hub/prev_auth along for free.
            a_sums = half_step(state, "hub", e_by_src)
            a_tbl = cut(  # a_raw feeds two consumers
                state.join(a_sums.hint("shuffle_hash"), "id", "left").select(
                    "id",
                    F.coalesce(F.col("s"), F.lit(0.0)).alias("a_raw"),
                    F.col("hub").alias("prev_hub"),
                    F.col("auth").alias("prev_auth"),
                )
            )
            # -- hub half-step over the UN-normalized a_raw
            t_sums = half_step(a_tbl, "a_raw", e_by_dst, frm="dst_id", to="src_id")
            raw = cut(  # the raw state feeds the norms and the scores
                a_tbl.join(t_sums.hint("shuffle_hash"), "id", "left").select(
                    "id",
                    "a_raw",
                    F.coalesce(F.col("s"), F.lit(0.0)).alias("t_raw"),
                    "prev_hub",
                    "prev_auth",
                )
            )

            # both L2 norms ride a 1-row BROADCAST AGG over the checkpointed
            # raw state — in-plan, so there is no per-step norm collect and
            # no per-step createDataFrame driver RPC (F.sqrt and the python
            # math.sqrt it replaces are both IEEE correctly-rounded, so
            # scores are bit-identical). Degenerate norms (edgeless after
            # filtering) score to exact zeros via the when-guards.
            norm_df = F.broadcast(
                raw.agg(
                    F.sqrt(
                        F.coalesce(F.sum(F.col("a_raw") * F.col("a_raw")), F.lit(0.0))
                    ).alias("na"),
                    F.sqrt(
                        F.coalesce(F.sum(F.col("t_raw") * F.col("t_raw")), F.lit(0.0))
                    ).alias("nt"),
                )
            )
            hub = (F.when(F.col("nt") != 0.0, F.col("t_raw") / F.col("nt"))
                   .otherwise(F.lit(0.0)))
            auth = (F.when(F.col("na") != 0.0, F.col("a_raw") / F.col("na"))
                    .otherwise(F.lit(0.0)))
            # a zero norm makes the zero scores the fixpoint: compare the
            # degenerate state with itself so the loop stops now
            degenerate = (F.col("na") == 0.0) | (F.col("nt") == 0.0)
            return raw.crossJoin(norm_df).select(
                "id",
                hub.alias("hub"),
                auth.alias("auth"),
                F.when(degenerate, hub).otherwise(F.col("prev_hub")).alias("prev_hub"),
                F.when(degenerate, auth).otherwise(F.col("prev_auth")).alias("prev_auth"),
                "na",
                "nt",
            )

        return fixpoint(
            spark, init, update, tol=tol, max_iter=max_iter,
            checkpoint_dir=checkpoint_dir, checkpoint_every=checkpoint_every,
            resume=resume, run_id=run_id, metrics_sink=metrics_sink,
            metrics={"na": F.min("na"), "nt": F.min("nt")},
        )
