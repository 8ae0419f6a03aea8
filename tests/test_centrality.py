"""Katz centrality and SALSA: numpy linear-algebra oracles (a different
computation path than the DataFrame supersteps) + structural and
convergence properties."""

from __future__ import annotations

import random

import numpy as np
import pytest
from pyspark.sql import functions as F

from cim_framework_graph_partitioning_spark.operators.centrality import (
    katz_centrality,
    salsa,
)

from .test_superstep_checkpoint import MATVEC


def _edges_df(spark, triples):
    return spark.createDataFrame(
        [(int(u), int(v), float(w)) for u, v, w in triples],
        "src_id long, dst_id long, weight double",
    )


def _random_weighted_digraph(seed, n=30, m=90):
    rng = random.Random(seed)
    out = {}
    while len(out) < m:
        u, v = rng.randrange(n), rng.randrange(n)
        if u != v:
            out[(u, v)] = float(rng.randint(1, 5))
    return sorted((u, v, w) for (u, v), w in out.items())


def _adj(triples):
    ids = sorted({u for u, _, _ in triples} | {v for _, v, _ in triples})
    idx = {v: i for i, v in enumerate(ids)}
    A = np.zeros((len(ids), len(ids)))
    for u, v, w in triples:
        A[idx[u], idx[v]] = w
    return ids, idx, A


@pytest.mark.parametrize("seed", [1, 2])
def test_katz_fixed_steps_matches_numpy(spark, seed):
    triples = _random_weighted_digraph(seed)
    ids, idx, A = _adj(triples)
    alpha, beta, k = 0.02, 1.0, 4
    x = np.full(len(ids), beta)
    for _ in range(k):
        x = beta + alpha * (A.T @ x)
    got, steps = katz_centrality(
        spark, _edges_df(spark, triples), alpha=alpha, beta=beta,
        tol=0.0, max_iter=k,
    )
    assert steps == k
    rows = {r.id: r.katz for r in got.collect()}
    assert set(rows) == set(ids)
    for v in ids:
        assert rows[v] == pytest.approx(x[idx[v]], abs=1e-12)


def test_katz_converges_to_closed_form(spark):
    triples = _random_weighted_digraph(3, n=20, m=50)
    ids, idx, A = _adj(triples)
    # alpha safely below 1/spectral radius
    lam = max(abs(np.linalg.eigvals(A)))
    alpha = 0.5 / lam
    closed = np.linalg.solve(np.eye(len(ids)) - alpha * A.T, np.ones(len(ids)))
    got, steps = katz_centrality(
        spark, _edges_df(spark, triples), alpha=float(alpha), beta=1.0,
        tol=1e-10, max_iter=200,
    )
    assert steps < 200  # dynamic stop fired
    rows = {r.id: r.katz for r in got.collect()}
    for v in ids:
        assert rows[v] == pytest.approx(closed[idx[v]], rel=1e-7)


@pytest.mark.parametrize("seed", [1, 2])
def test_salsa_fixed_steps_matches_numpy(spark, seed):
    triples = _random_weighted_digraph(seed, n=25, m=70)
    ids, idx, A = _adj(triples)
    wo = A.sum(axis=1)
    wi = A.sum(axis=0)
    fwd = np.divide(A, wo[:, None], out=np.zeros_like(A), where=wo[:, None] > 0)
    bwd = np.divide(A, wi[None, :], out=np.zeros_like(A), where=wi[None, :] > 0)
    srcs = [v for v in ids if wo[idx[v]] > 0]
    h = np.zeros(len(ids))
    for v in srcs:
        h[idx[v]] = 1.0 / len(srcs)
    k = 3
    for _ in range(k):
        a = fwd.T @ h
        h = bwd @ a
    a_fin = fwd.T @ h  # operator contract: auth induced by final hubs
    got, steps = salsa(spark, _edges_df(spark, triples), tol=0.0, max_iter=k)
    assert steps == k
    rows = {r.id: (r.hub, r.auth) for r in got.collect()}
    for v, (hub, auth) in rows.items():
        assert hub == pytest.approx(h[idx[v]], abs=1e-12)
        assert auth == pytest.approx(a_fin[idx[v]], abs=1e-12)
    # both sides are probability distributions
    assert sum(h for h, _ in rows.values()) == pytest.approx(1.0, abs=1e-9)
    assert sum(a for _, a in rows.values()) == pytest.approx(1.0, abs=1e-9)


def test_salsa_bipartite_degree_proportional(spark):
    # Lempel-Moran: on a CONNECTED support graph the stationary SALSA
    # authority weight of v is indeg(v) / |E| (unweighted). Star-ish
    # connected bipartite graph, run to convergence.
    triples = [
        (1, 10, 1.0), (1, 11, 1.0), (2, 10, 1.0), (3, 10, 1.0), (3, 11, 1.0),
    ]
    got, steps = salsa(spark, _edges_df(spark, triples), tol=1e-12,
                       max_iter=500)
    assert steps < 500
    rows = {r.id: r.auth for r in got.collect()}
    assert rows[10] == pytest.approx(3 / 5, abs=1e-9)
    assert rows[11] == pytest.approx(2 / 5, abs=1e-9)


@pytest.mark.parametrize("name", list(MATVEC))
def test_katz_empty_graph(spark, name):
    """Katz and the other matvec operators on an edgeless graph: no
    superstep runs and the result is empty, with the usual columns."""
    call, columns = MATVEC[name]
    empty = spark.createDataFrame(
        [], "src_id long, dst_id long, weight double"
    )
    got, steps = call(spark, empty, max_iter=3)
    assert steps == 0 and got.count() == 0
    assert got.columns == columns
