from __future__ import annotations

import duckdb
from pyspark.sql import functions as F

from cim_framework_graph_partitioning_spark.operators.edges import (
    assert_content_integrity,
    derive_edges,
)
from cim_framework_graph_partitioning_spark.sources.corpus import synthesize_corpus


def test_corpus_schema_and_determinism(spark):
    f1 = synthesize_corpus(spark, n_files=100, n_repos=4, seed=7)
    assert [f.name for f in f1.schema.fields] == [
        "repo", "path", "commit", "lang", "content",
    ]
    f2 = synthesize_corpus(spark, n_files=100, n_repos=4, seed=7)
    assert f1.exceptAll(f2).count() == 0
    assert f2.exceptAll(f1).count() == 0
    # different seed → different content
    f3 = synthesize_corpus(spark, n_files=100, n_repos=4, seed=8)
    assert f1.exceptAll(f3).count() > 0


def test_edge_derivation_hand_checked(spark):
    """10-file corpus with hand-computable edges (SURVEY §5.2#1)."""
    rows = [
        ("r0", f"src/a{i}.py", "c", "python",
         f"# module: mod_{i}\n" + "".join(f"import mod_{j}\n" for j in imports))
        for i, imports in enumerate([[1, 2], [2], [0, 0], [], [1]])
    ]
    files = spark.createDataFrame(rows, "repo string, path string, commit string, lang string, content string")
    g = derive_edges(files)
    ids = {r.path: r.id for r in g.vertices.collect()}
    got = {(r.src_id, r.dst_id): r.weight for r in g.edges.collect()}
    def vid(i):
        return ids[f"src/a{i}.py"]
    expected = {
        (vid(0), vid(1)): 1.0,
        (vid(0), vid(2)): 1.0,
        (vid(1), vid(2)): 1.0,
        (vid(2), vid(0)): 2.0,  # duplicate import aggregates to weight 2
        (vid(4), vid(1)): 1.0,
    }
    assert got == expected


def test_vertex_ids_collision_free_and_integrity(spark):
    files = synthesize_corpus(spark, n_files=2000, n_repos=20, seed=42)
    g = derive_edges(files)
    n = g.vertices.count()
    assert g.vertices.select("id").distinct().count() == n == 2000
    assert_content_integrity(files, g.vertices)
    # edges reference real vertices only
    dangling_refs = (
        g.edges.join(g.vertices.select(F.col("id").alias("src_id")), "src_id", "left_anti").count()
        + g.edges.join(g.vertices.select(F.col("id").alias("dst_id")), "dst_id", "left_anti").count()
    )
    assert dangling_refs == 0


def test_power_law_hub_exists(spark):
    files = synthesize_corpus(spark, n_files=500, n_repos=5, seed=42)
    g = derive_edges(files)
    degs = [r.in_degree for r in g.in_degrees().orderBy(F.desc("in_degree")).limit(5).collect()]
    # hub should dominate: top in-degree well above the mean
    mean = g.in_degrees().agg(F.avg("in_degree")).collect()[0][0]
    assert degs[0] > 10 * mean


def test_extract_refs_jvm_matches_pandas_reference(spark):
    """The JVM CASE/regexp_extract_all extractor (hot path since r6)
    must agree with the pandas-UDF reference implementation on every
    language, edge syntax, and the no-match/unknown-lang cases."""
    from cim_framework_graph_partitioning_spark.functions.text import (
        extract_refs,
        extract_refs_pandas,
    )

    rows = [
        ("python", "# module: m\nimport a.b\nfrom c import d\n  import e_f\nx=1"),
        ("c", '#include <stdio.h>\n # include "lib/x.h"\nint main(){}'),
        ("go", 'package p\nimport "fmt"\n  import "net/http"\n'),
        ("javascript", "import x from 'mod-a'\nconst y = require('mod/b')\nimport 'side.css'\n"),
        ("typescript", "import {z} from \"mod-c\";\nrequire('d')\n"),
        ("java", "import static a.b.C;\nimport d.e.F ;\nclass X{}"),
        ("rust", "pub use a::b;\nuse c_d::e;\nfn main(){}"),
        ("haskell", "import Data.List\n"),  # unsupported lang -> []
        ("python", "no imports here"),
        ("python", ""),
    ]
    df = spark.createDataFrame(rows, "lang string, content string")
    got = df.select(
        "lang", extract_refs(F.col("content"), F.col("lang")).alias("r")
    ).collect()
    want = df.select(
        "lang", extract_refs_pandas(F.col("content"), F.col("lang")).alias("r")
    ).collect()
    assert [(r.lang, r.r) for r in got] == [(r.lang, r.r) for r in want]

    # Line-break and whitespace edge cases. The DuckDB oracle's RE2 is the
    # spec: \s is [\t\n\f\r ] (no \x0B, no U+00A0) and ^ follows only \n.
    edge_rows = [
        ("x = 1\rimport os", []),
        ("\u00a0import sys", []),
        ("a\u2028import json", []),
        ("\x0bimport vt", []),
        ("\x0cimport ff", ["ff"]),
    ]
    edf = spark.createDataFrame(
        [("python", c) for c, _ in edge_rows], "lang string, content string"
    )
    jvm = [r.r for r in edf.select(
        extract_refs(F.col("content"), F.col("lang")).alias("r")
    ).collect()]
    pdf = [r.r for r in edf.select(
        extract_refs_pandas(F.col("content"), F.col("lang")).alias("r")
    ).collect()]
    # the python pattern of queries.py _SQL_CORPUS_EDGES, verbatim
    oracle_rx = r"(?m)^\s*(?:import|from)\s+([A-Za-z_][A-Za-z0-9_.]*)"
    con = duckdb.connect()
    duck = [
        con.execute("SELECT regexp_extract_all(?, ?, 1)", [c, oracle_rx]).fetchone()[0]
        for c, _ in edge_rows
    ]
    want_edge = [w for _, w in edge_rows]
    assert duck == want_edge
    assert jvm == want_edge
    assert pdf == want_edge

    # and on the full synthesized corpus, all 7 languages at once
    files = synthesize_corpus(spark, n_files=300, n_repos=6, seed=11)
    a = files.select(
        "repo", "path", extract_refs(F.col("content"), F.col("lang")).alias("r")
    )
    b = files.select(
        "repo", "path", extract_refs_pandas(F.col("content"), F.col("lang")).alias("r")
    )
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
