"""Katz centrality and SALSA as iterative DataFrame supersteps.

Two more members of the link-analysis family (alongside PageRank and
HITS — the reference's dependency graphs are directed, reference graph
construction: /root/reference/graph.py:12-23, so attenuated-path and
bipartite-walk scores are meaningful on them):

* **Katz centrality** (Katz 1953): x_{i+1}(v) = beta + alpha * sum over
  edges (u, v) of w(u, v) * x_i(u) — the attenuated count of all walks
  ending at v. Converges to the closed form (I - alpha*A^T)^-1 * beta*1
  when alpha < 1/lambda_max; the iterative form here supports both a
  fixed-step truncation (tol=0.0, exact SQL-replayable) and dynamic
  stop on the L-inf delta.
* **SALSA** (Lempel & Moran 2000): HITS' random-walk cousin — hub and
  authority chains are the two-step stochastic walks on the bipartite
  support graph. One superstep:

      a_i(v)     = sum over (u, v) of h_i(u)     * w(u, v) / wout(u)
      h_{i+1}(u) = sum over (u, v) of a_i(v)     * w(u, v) / win(v)

  Both transitions are column-stochastic, so starting from the uniform
  distribution over source-side vertices every iterate is exactly
  L1-normalized — no per-step norm scalar, one fewer barrier than
  HITS, and the SQL oracle replays the same dataflow verbatim.

Both are plans/matvec.py's weighted-matvec superstep: Katz over the raw
weights, SALSA over the two normalized transition tables (w/wout cached
by src_id, w/win by dst_id).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.barrier import checkpoint_leaf_ids, release_checkpoint
from ..plans.matvec import edge_side, fixpoint, half_step
from ..plans.scale import auto_blocks
from ..plans.scope import loop_scope


def katz_centrality(
    spark: SparkSession,
    edges: DataFrame,
    alpha: float = 0.005,
    beta: float = 1.0,
    tol: float = 1e-6,
    max_iter: int = 100,
    num_blocks: int | None = None,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 8,
    resume: bool = False,
    run_id: str = "katz",
    metrics_sink: list | None = None,
) -> tuple[DataFrame, int]:
    """Returns (scores(id, katz), supersteps_run).

    ``tol=0.0`` runs exactly ``max_iter`` supersteps (the fixed-step
    truncation the SQL oracle unrolls); otherwise stops at L-inf delta
    < tol. Caller is responsible for alpha < 1/lambda_max when running
    to convergence (divergence shows up as a growing delta — the
    metrics sink makes it visible, and max_iter bounds the loop).
    """
    sc = spark.sparkContext
    p = num_blocks or auto_blocks(edges.count(), sc.defaultParallelism)

    # loop-scoped conf BEFORE setup, so the cached static tables land on
    # hash(key, p) partitioning directly
    with loop_scope(spark, p) as scope:
        verts = scope.cache(
            edges.select(F.col("src_id").alias("id"))
            .unionByName(edges.select(F.col("dst_id").alias("id")))
            .distinct()
        )
        n = verts.count()
        if n == 0:
            return spark.createDataFrame([], "id long, katz double"), 0
        e_by_src = edge_side(scope, edges, p, "src_id")
        e_by_src.count()

        init = verts.select("id", F.lit(beta).alias("katz"))

        def update(state: DataFrame, _cut) -> DataFrame:
            # the state IS the vertex table — one left join with the sums
            # carries prev along
            sums = half_step(state, "katz", e_by_src)
            return state.join(sums.hint("shuffle_hash"), "id", "left").select(
                "id",
                (
                    F.lit(beta)
                    + F.lit(alpha) * F.coalesce(F.col("s"), F.lit(0.0))
                ).alias("katz"),
                F.col("katz").alias("prev_katz"),
            )

        return fixpoint(
            spark, init, update, tol=tol, max_iter=max_iter,
            checkpoint_dir=checkpoint_dir, checkpoint_every=checkpoint_every,
            resume=resume, run_id=run_id, metrics_sink=metrics_sink,
        )


def salsa(
    spark: SparkSession,
    edges: DataFrame,
    tol: float = 1e-6,
    max_iter: int = 100,
    num_blocks: int | None = None,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 8,
    resume: bool = False,
    run_id: str = "salsa",
    metrics_sink: list | None = None,
) -> tuple[DataFrame, int]:
    """Returns (scores(id, hub, auth), supersteps_run).

    hub is a distribution over vertices with out-edges, auth over
    vertices with in-edges (each sums to exactly 1 in exact
    arithmetic); vertices on neither side are omitted — SALSA is
    defined on the bipartite support graph. ``tol=0.0`` runs exactly
    ``max_iter`` supersteps (the SQL-oracle truncation).
    """
    sc = spark.sparkContext
    p = num_blocks or auto_blocks(edges.count(), sc.defaultParallelism)

    # loop-scoped conf BEFORE setup, so the cached static tables land on
    # hash(key, p) partitioning directly
    with loop_scope(spark, p) as scope:
        # static normalized transition fractions, each cached partitioned
        # by the join key of its half-step
        e_fwd = edge_side(scope, edges, p, "src_id", normalize=True)
        e_bwd = edge_side(scope, edges, p, "dst_id", normalize=True)
        e_fwd.count()
        e_bwd.count()

        srcs = edges.select("src_id").distinct()
        n_src = srcs.count()
        if n_src == 0:
            return spark.createDataFrame([], "id long, hub double, auth double"), 0
        init = srcs.select(
            F.col("src_id").alias("id"), F.lit(1.0 / n_src).alias("hub")
        )

        def update(state: DataFrame, cut) -> DataFrame:
            auth = cut(half_step(state, "hub", e_fwd))  # feeds the hub pass
            prev = state.select("id", F.col("hub").alias("prev_hub"))
            return (
                half_step(auth, "s", e_bwd, frm="dst_id", to="src_id")
                .select("id", F.col("s").alias("hub"))
                .join(prev, "id", "left")
            )

        # State is the hub distribution only (auth lives on the OTHER
        # bipartite side — a per-step full-outer merge would add a barrier
        # for nothing). The returned auth is the forward half-step induced
        # by the FINAL hubs — one extra constant-cost pass after the loop;
        # the SQL oracle replays this exact contract.
        hubs, steps = fixpoint(
            spark, init, update, tol=tol, max_iter=max_iter,
            checkpoint_dir=checkpoint_dir, checkpoint_every=checkpoint_every,
            resume=resume, run_id=run_id, metrics_sink=metrics_sink,
        )
        auth = half_step(hubs, "hub", e_fwd).select("id", F.col("s").alias("auth"))
        out = (
            hubs.join(auth, "id", "full_outer")
            .select(
                "id",
                F.coalesce(F.col("hub"), F.lit(0.0)).alias("hub"),
                F.coalesce(F.col("auth"), F.lit(0.0)).alias("auth"),
            )
            .localCheckpoint(eager=True)
        )
        # out no longer reads the final hubs; with max_iter=0 they are
        # still a plan over the caller's edges, whose checkpoints stay
        release_checkpoint(hubs, protect=checkpoint_leaf_ids(edges))
    return out, steps
