"""The benchmark's workloads: inputs, timed operations and their checks.

A workload writes a seeded synthetic corpus to parquet during set-up,
so the engine only ever reads generated inputs. Each timed operation
is one call into an engine layer's public function, run until its
result is materialized; its output is checked afterwards, outside the
timed region, against ``reference`` computed without Spark.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass
from typing import Callable

import numpy as np
import pandas as pd
from pyspark.sql import Observation
from pyspark.sql import functions as F

from cim_framework_graph_partitioning_spark.functions.text import extract_refs
from cim_framework_graph_partitioning_spark.operators.components import (
    connected_components,
)
from cim_framework_graph_partitioning_spark.operators.edges import derive_edges
from cim_framework_graph_partitioning_spark.operators.hits import hits
from cim_framework_graph_partitioning_spark.operators.kcore import coreness
from cim_framework_graph_partitioning_spark.operators.labelprop import (
    label_propagation,
)
from cim_framework_graph_partitioning_spark.operators.pagerank import pagerank
from cim_framework_graph_partitioning_spark.operators.partitioner import (
    balanced_partition,
)
from cim_framework_graph_partitioning_spark.operators.triangles import triangle_count
from cim_framework_graph_partitioning_spark.plans.superstep import SuperstepRunner
from cim_framework_graph_partitioning_spark.sources.corpus import (
    synthesize_corpus,
    write_corpus,
)

import reference
from tests.util_oracles import cc_oracle, coreness_oracle, triangle_oracle

N_REPOS = 200
TOL = 1e-6
LPA_STEPS = 5
KCORE_STEPS = 12  # cap: uncapped, the seed moves the count from 11 to 25
PARTS = 8
PARTITION_ROUNDS = 3
STOP_STEP = 5
WARMUP_FILES = 100

# The import regexes of the corpus languages, written out once more so
# the DuckDB edge derivation does not borrow the engine's own patterns.
IMPORT_PATTERNS = {
    "python": r"(?m)^\s*(?:import|from)\s+([A-Za-z_][A-Za-z0-9_.]*)",
    "c": r'(?m)^\s*#\s*include\s*[<"]([^>"]+)[>"]',
    "go": r'(?m)^\s*import\s+"([^"]+)"',
    "javascript": r"""(?m)(?:\bfrom\s+|\brequire\(\s*|^\s*import\s+)['"]([^'"]+)['"]""",
    "java": r"(?m)^\s*import\s+(?:static\s+)?([A-Za-z_][A-Za-z0-9_.]*)\s*;",
    "rust": r"(?m)^\s*(?:pub\s+)?use\s+([A-Za-z_][A-Za-z0-9_:]*)",
}
MODULE_PATTERN = r"(?:#|//) module: ([A-Za-z0-9_.]+)"


@dataclass
class Op:
    """One timed call. ``run`` returns the materialized result;
    ``check`` returns None when the result is right, else the reason."""

    name: str
    layer: str
    run: Callable[[], dict]
    check: Callable[[dict], str | None]


def pad_bodies(files, lines: int):
    """Append ``lines`` plain code lines to every file body, so the
    import scan reads source-file-sized text. No padding line matches an
    import or module-declaration pattern, so the graph is unchanged."""
    body = F.concat_ws("\n", F.transform(
        F.sequence(F.lit(1), F.lit(lines)),
        lambda k: F.format_string(
            "    acc%d = acc%d * 31 + %d;  // fold step %d", k, k - 1,
            F.pmod(F.xxhash64(F.col("path"), k), F.lit(9973)), k),
    ))
    return files.withColumn("content", F.concat_ws("\n", "content", body))


def dir_size(path: str) -> tuple[float, int]:
    """(megabytes, file count) of every regular file under ``path``."""
    total, count = 0, 0
    for root, _, names in os.walk(path):
        for nm in names:
            total += os.path.getsize(os.path.join(root, nm))
            count += 1
    return total / 1e6, count


def graph_of(pdf: pd.DataFrame) -> reference.Graph:
    return reference.Graph(pdf["src_id"].to_numpy(np.int64),
                           pdf["dst_id"].to_numpy(np.int64),
                           pdf["weight"].to_numpy(np.float64))


def aligned(df, col: str, ids: np.ndarray) -> np.ndarray | None:
    """The result column ordered like ``ids``; None when the result's
    vertex set is not exactly ``ids`` (missing, extra or repeated)."""
    pdf = df.toPandas()
    if len(pdf) != len(ids) or pdf["id"].duplicated().any():
        return None
    s = pdf.set_index("id")[col].reindex(ids)
    return None if s.isna().any() else s.to_numpy()


def close(got, want) -> bool:
    return got is not None and bool(np.allclose(got, want, rtol=0.0, atol=TOL))


def check_ranks(out: dict, g, want: np.ndarray, want_steps: int) -> str | None:
    got = aligned(out["df"], "rank", g.ids)
    if got is None:
        return "rank vertex set differs from the edge list's"
    if abs(got.sum() - 1.0) > 1e-9:
        return f"ranks sum to {got.sum()!r}"
    if not close(got, want):
        return f"ranks off by {np.abs(got - want).max():.3g}"
    if abs(out["steps"] - want_steps) > 1:
        return f"{out['steps']} supersteps, reference took {want_steps}"
    return None


def check_exact(out: dict, g, col: str, want: np.ndarray) -> str | None:
    got = aligned(out["df"], col, g.ids)
    if got is None:
        return f"{col} vertex set differs from the edge list's"
    bad = int((got != want).sum())
    return f"{bad} vertices differ in {col}" if bad else None


class Workload:
    """Shared set-up and pass plumbing; subclasses name the operations."""

    name = ""
    n_files = 0
    pad_lines = 0
    min_passes = 1

    def __init__(self, spark, seed: int, work: str) -> None:
        self.spark = spark
        self.seed = seed
        self.work = work
        self.corpus_dir = os.path.join(work, "corpus")
        self.edges = None
        self.n_edges = 0
        self.corpus_write_s: list[float] = []
        self.last: dict = {}  # results of the sequence being checked, by op name

    # -- set-up ------------------------------------------------------------

    def write_corpus(self, path: str, n_files: int) -> None:
        files = synthesize_corpus(self.spark, n_files, n_repos=N_REPOS, seed=self.seed)
        if self.pad_lines:
            files = pad_bodies(files, self.pad_lines)
        write_corpus(files, path)

    def files(self, path: str | None = None):
        return self.spark.read.parquet(path or self.corpus_dir)

    def derive(self, path: str | None = None):
        """Corpus parquet -> cached, materialized edge table."""
        edges = derive_edges(self.files(path)).edges.persist()
        return edges, edges.count()

    def drop_edges(self) -> None:
        if self.edges is not None:
            self.edges.unpersist()
            self.edges = None

    def warmup(self, traced: bool) -> None:
        """Write, read and derive a tiny corpus and run the superstep
        runtime on it, so the fresh JVM's first-loop cost (class loading,
        code generation, JIT) lands in set-up instead of in the first timed
        call. Each operation's own first-call cost, about 0.3-2 s, stays
        in its first timed call: warming every operation would cost more
        set-up time than it moves. A traced run also warms the import-scan
        probe it makes after the passes."""
        path = os.path.join(self.work, "warmup")
        self.write_corpus(path, WARMUP_FILES)
        edges, _ = self.derive(path)
        self.warm_ops(edges)
        if traced:
            self.text_probe(path)
        edges.unpersist()
        shutil.rmtree(path, ignore_errors=True)

    def warm_ops(self, edges) -> None:
        raise NotImplementedError

    def setup_once(self) -> None:
        """One full set-up: corpus generation and parquet write, then
        whatever the workload pre-builds."""
        self.drop_edges()
        t0 = time.monotonic()
        self.write_corpus(self.corpus_dir, self.n_files)
        self.corpus_write_s.append(time.monotonic() - t0)
        self.prebuild()

    def prebuild(self) -> None:
        pass

    def corpus_mb(self) -> float:
        return dir_size(self.corpus_dir)[0]

    # -- references and operation sequences ---------------------------------

    def prepare_references(self) -> None:
        raise NotImplementedError

    def ops(self, seq: int) -> list[Op]:
        """The timed sequence, run back to back in every pass."""
        raise NotImplementedError

    def durable_ops(self, seq: int) -> list[Op]:
        """Checkpointed runs, made once in a traced run (they cost more
        than a whole pass, so untraced runs leave them out)."""
        return []

    def checkpoint_facts(self, seq: int) -> dict:
        return {}

    def end_sequence(self, seq: int) -> None:
        pass

    def text_probe(self, path: str | None = None) -> tuple[int, float]:
        """The import scan alone: explode ``extract_refs`` over the corpus
        into a no-op sink. Returns (references found, MB of file text
        the scan read)."""
        text, refs = Observation(), Observation()
        (self.files(path)
         .observe(text, F.sum(F.length("content")).alias("chars"))
         .select(F.explode(extract_refs(F.col("content"), F.col("lang"))).alias("ref"))
         .observe(refs, F.count(F.lit(1)).alias("refs"))
         .write.format("noop").mode("overwrite").save())
        return int(refs.get["refs"]), text.get["chars"] / 1e6

    # -- shared operations ---------------------------------------------------

    def run_pagerank(self, **kw):
        def run():
            sink: list = []
            df, steps = pagerank(self.spark, self.edges, metrics_sink=sink, **kw)
            df.count()
            return {"df": df, "steps": steps, "sink": sink}
        return run

    def run_cc(self, **kw):
        def run():
            df, steps = connected_components(self.spark, self.edges, **kw)
            df.count()
            return {"df": df, "steps": steps}
        return run


class SuperstepBound(Workload):
    """A small graph whose loops are bound by per-job fixed cost; its
    traced run adds the checkpointed runs and a stop-and-resume."""

    name = "superstep_bound"
    n_files = 2000

    def warm_ops(self, edges) -> None:
        s = self.spark
        pagerank(s, edges, tol=TOL, max_iter=2)[0].count()
        hits(s, edges, tol=TOL, max_iter=1)[0].count()

    def prebuild(self) -> None:
        self.edges, self.n_edges = self.derive()

    def prepare_references(self) -> None:
        g = self.g = graph_of(self.edges.toPandas())
        self.ref_rank, self.ref_rank_steps = reference.pagerank(g, tol=TOL)
        self.ref_hub, self.ref_auth, self.ref_hits_steps = reference.hits(g, tol=TOL)
        self.ref_cc = g.by_id(cc_oracle(g.pairs()))
        self.ref_lpa, self.ref_lpa_steps = reference.label_propagation(g, LPA_STEPS)
        self.ref_core = g.by_id(coreness_oracle(g.pairs()))
        self.ref_h, self.ref_h_steps = reference.h_index_rounds(g, KCORE_STEPS)
        u, v, w = g.undirected()
        keep = u < v
        self.und = (u[keep], v[keep], w[keep])

    def check_ranks(self, out):
        return check_ranks(out, self.g, self.ref_rank, self.ref_rank_steps)

    def check_cc(self, out):
        return check_exact(out, self.g, "component", self.ref_cc)

    def ops(self, seq: int) -> list[Op]:
        g, s = self.g, self.spark

        def run_hits():
            sink: list = []
            df, steps = hits(s, self.edges, tol=TOL, metrics_sink=sink)
            df.count()
            return {"df": df, "steps": steps, "sink": sink}

        def check_hits(out):
            hub = aligned(out["df"], "hub", g.ids)
            auth = aligned(out["df"], "auth", g.ids)
            if not (close(hub, self.ref_hub) and close(auth, self.ref_auth)):
                return "hub or authority scores differ from the reference by more than 1e-6"
            if abs(out["steps"] - self.ref_hits_steps) > 1:
                return f"{out['steps']} supersteps, reference took {self.ref_hits_steps}"
            return None

        def run_lpa():
            df, steps = label_propagation(s, self.edges, max_iter=LPA_STEPS)
            df.count()
            return {"df": df, "steps": steps}

        def check_lpa(out):
            if out["steps"] != self.ref_lpa_steps:
                return f"{out['steps']} supersteps, reference took {self.ref_lpa_steps}"
            return check_exact(out, g, "label", self.ref_lpa)

        def run_kcore():
            df, steps = coreness(s, self.edges, max_iter=KCORE_STEPS)
            df.count()
            return {"df": df, "steps": steps}

        def check_kcore(out):
            if out["steps"] != self.ref_h_steps:
                return f"{out['steps']} supersteps, reference took {self.ref_h_steps}"
            err = check_exact(out, g, "core", self.ref_h)
            if err or self.ref_h_steps == KCORE_STEPS:
                return err
            # converged early: that must be the coreness itself
            return check_exact(out, g, "core", self.ref_core)

        def run_partition():
            df, history = balanced_partition(s, self.edges, k=PARTS,
                                             max_rounds=PARTITION_ROUNDS)
            df.count()
            return {"df": df, "steps": len(history) - 1, "history": history}

        def check_partition(out):
            got = aligned(out["df"], "part", g.ids)
            if got is None:
                return "partition does not cover every vertex exactly once"
            if got.min() < 0 or got.max() >= PARTS:
                return f"part outside [0, {PARTS})"
            objs = [h["objective"] for h in out["history"]]
            if any(b > a for a, b in zip(objs, objs[1:])):
                return f"round objective increased: {objs}"
            u, v, w = self.und
            cut = float(w[got[u] != got[v]].sum())
            if cut != out["history"][-1]["cut"]:
                return f"reported cut {out['history'][-1]['cut']} != {cut}"
            return None

        return [
            Op("pagerank", "operators.pagerank", self.run_pagerank(tol=TOL),
               self.check_ranks),
            Op("hits", "operators.hits", run_hits, check_hits),
            Op("cc", "operators.components", self.run_cc(), self.check_cc),
            Op("lpa", "operators.labelprop", run_lpa, check_lpa),
            Op("kcore", "operators.kcore", run_kcore, check_kcore),
            Op("partition", "operators.partitioner", run_partition, check_partition),
        ]

    def ckpt(self, seq: int, what: str = "") -> str:
        return os.path.join(self.work, f"ckpt-{seq}", what)

    def durable_ops(self, seq: int) -> list[Op]:
        """PageRank and CC with a checkpoint dir at the operators' default
        cadence, then a fresh PageRank stopped at step 5 and resumed."""
        g, s = self.g, self.spark

        def run_stop():
            df, steps = pagerank(s, self.edges, tol=TOL, max_iter=STOP_STEP,
                                 checkpoint_dir=self.ckpt(seq, "resume"))
            df.count()
            # the resume call adds snapshots, so look now
            last = SuperstepRunner(s, self.ckpt(seq, "resume")).latest_step()
            return {"df": df, "steps": steps, "snapshot": last}

        def check_stop(out):
            if out["steps"] != STOP_STEP or out["snapshot"] != STOP_STEP:
                return (f"stopped run ended at step {out['steps']}, "
                        f"last snapshot {out['snapshot']}")
            return None

        def check_resume(out):
            err = self.check_ranks(out)
            if err:
                return err
            full = self.last.get("durable_pagerank")
            if not isinstance(full, dict):
                return "no uninterrupted durable run to compare with"
            want = aligned(full["df"], "rank", g.ids)
            if not close(aligned(out["df"], "rank", g.ids), want):
                return "resumed ranks differ from the uninterrupted durable run"
            if out["steps"] != full["steps"]:
                return (f"resumed run ended at step {out['steps']}, "
                        f"uninterrupted at {full['steps']}")
            return None

        def check_durable_cc(out):
            err = self.check_cc(out)
            full = self.last.get("cc")
            if err or not isinstance(full, dict):
                return err
            want = aligned(full["df"], "component", g.ids)
            if not np.array_equal(aligned(out["df"], "component", g.ids), want):
                return "checkpointed CC labels differ from the in-memory run"
            return None

        return [
            Op("durable_pagerank", "plans.superstep",
               self.run_pagerank(tol=TOL, checkpoint_dir=self.ckpt(seq, "pagerank")),
               self.check_ranks),
            Op("durable_cc", "plans.superstep",
               self.run_cc(checkpoint_dir=self.ckpt(seq, "cc")), check_durable_cc),
            Op("stop", "plans.superstep", run_stop, check_stop),
            Op("resume", "plans.superstep",
               self.run_pagerank(tol=TOL, resume=True,
                                 checkpoint_dir=self.ckpt(seq, "resume")),
               check_resume),
        ]

    def checkpoint_facts(self, seq: int) -> dict:
        mb, files = dir_size(self.ckpt(seq))
        return {"checkpoint_mb": mb, "checkpoint_files": files}

    def end_sequence(self, seq: int) -> None:
        shutil.rmtree(self.ckpt(seq), ignore_errors=True)


class DataBound(Workload):
    """A larger graph from source-file-sized bodies: the import scan, the
    edge derivation and CC's joins carry about half of a pass. PageRank's
    supersteps here cost the same fixed time as on the small graph, but
    a larger share of it is task time."""

    name = "data_bound"
    n_files = 16000  # smaller graphs take 3 or 4 CC supersteps by seed
    pad_lines = 48
    pagerank_steps = 8
    # its operations keep the cores busier, so a burst of neighbour load
    # stretches a pass more; the median (mean) of two passes halves the weight
    # of a burst that hits one of them
    min_passes = 2

    def warm_ops(self, edges) -> None:
        pagerank(self.spark, edges, tol=0.0, max_iter=2)[0].count()

    def prepare_references(self) -> None:
        """Derive the edge table a second way — DuckDB's RE2 regexes
        over the same parquet, keyed by path — and map it onto the
        engine's vertex ids (Spark's built-in xxhash64 of repo and path)."""
        import duckdb

        ids = (self.files().select(F.xxhash64("repo", "path").alias("id"), "path")
               .toPandas())
        con = duckdb.connect()
        try:
            con.execute("SET threads TO 2")
            con.register("rx", pd.DataFrame(
                list(IMPORT_PATTERNS.items()), columns=["lang", "rx"]))
            con.register("ids", ids)
            glob = os.path.join(self.corpus_dir, "*.parquet")
            self.ref_edges = con.execute(f"""
                WITH f AS (SELECT path, lang, content FROM read_parquet('{glob}')),
                defs AS (
                  SELECT path AS dst, regexp_extract(content, '{MODULE_PATTERN}', 1) AS sym
                  FROM f WHERE regexp_extract(content, '{MODULE_PATTERN}', 1) <> ''),
                refs AS (
                  SELECT f.path AS src, unnest(regexp_extract_all(f.content, rx.rx, 1)) AS sym
                  FROM f JOIN rx ON f.lang = rx.lang OR (f.lang = 'typescript' AND rx.lang = 'javascript')),
                e AS (
                  SELECT src, dst, CAST(count(*) AS DOUBLE) AS weight
                  FROM refs JOIN defs USING (sym) WHERE src <> dst GROUP BY 1, 2)
                SELECT s.id AS src_id, d.id AS dst_id, e.weight
                FROM e JOIN ids s ON s.path = e.src JOIN ids d ON d.path = e.dst
                ORDER BY 1, 2
            """).df()
        finally:
            con.close()
        g = self.g = graph_of(self.ref_edges)
        self.ref_rank, self.ref_rank_steps = reference.pagerank(
            g, tol=0.0, max_iter=self.pagerank_steps)
        pairs = g.pairs()
        self.ref_cc = g.by_id(cc_oracle(pairs))
        self.ref_triangles = triangle_oracle(pairs)

    def ops(self, seq: int) -> list[Op]:
        g = self.g

        def run_derive():
            self.drop_edges()
            self.edges, self.n_edges = self.derive()
            return {"n": self.n_edges}

        def check_derive(out):
            got = (self.edges.toPandas().sort_values(["src_id", "dst_id"])
                   .reset_index(drop=True))
            want = self.ref_edges
            if len(got) != len(want):
                return f"{len(got)} edges, reference derived {len(want)}"
            for col in ("src_id", "dst_id", "weight"):
                if not np.array_equal(got[col].to_numpy(), want[col].to_numpy()):
                    return f"edge table differs from the reference in {col}"
            return None

        def run_triangles():
            return {"n": int(triangle_count(self.edges).collect()[0][0])}

        def check_triangles(out):
            if out["n"] != self.ref_triangles:
                return f"{out['n']} triangles, reference counted {self.ref_triangles}"
            return None

        return [
            Op("derive_edges", "operators.edges", run_derive, check_derive),
            Op("triangles", "operators.triangles", run_triangles, check_triangles),
            Op("pagerank", "operators.pagerank",
               self.run_pagerank(tol=0.0, max_iter=self.pagerank_steps),
               lambda out: check_ranks(out, g, self.ref_rank, self.ref_rank_steps)),
            Op("cc", "operators.components", self.run_cc(),
               lambda out: check_exact(out, g, "component", self.ref_cc)),
        ]


WORKLOADS = {w.name: w for w in (SuperstepBound, DataBound)}
