"""Operators that run no Python code start no Python worker: their
constant and seed tables are JVM literals (``spark.range`` plus
``F.lit``), not ``createDataFrame`` over a list, which PySpark ships
through ``SparkContext.parallelize`` and reads back in a Python
worker."""

from __future__ import annotations

from pyspark import SparkContext
from pyspark.sql import functions as F

from simdgraphprocessing_spark.algorithms import pagerank
from simdgraphprocessing_spark.corpus import extract_edges, make_corpus
from simdgraphprocessing_spark.functions.ranking import global_row_number
from simdgraphprocessing_spark.graph import Graph
from simdgraphprocessing_spark.operators import bfs_levels, clique_count, triangle_count
from simdgraphprocessing_spark.operators.motifs import fish_count
from simdgraphprocessing_spark.operators.stats import degree_stats_full
from simdgraphprocessing_spark.sources.edgelist import write_ligra_text


def test_jvm_only_operators_parallelize_nothing(spark, monkeypatch, tmp_path):
    def refuse(*args, **kwargs):
        raise AssertionError("SparkContext.parallelize called")

    monkeypatch.setattr(SparkContext, "parallelize", refuse)
    raw = extract_edges(make_corpus(spark, n_files=60, seed=7))
    g = Graph.from_edge_list_degree_ordered(raw).persist()
    try:
        e = g.edges
        ranked = global_row_number(spark.range(50), [F.col("id").desc()], out_col="r")
        assert {r["id"]: r["r"] for r in ranked.collect()} == {i: 49 - i for i in range(50)}

        write_ligra_text(e, str(tmp_path / "graph.adj"))
        assert (tmp_path / "graph.adj").read_text().startswith("AdjacencyGraph\n")

        csr = triangle_count(e, method="csr")
        assert csr.dtypes == [("triangles", "bigint")]
        assert csr.collect() == triangle_count(e, method="join").collect()
        cliques = clique_count(e, 4)
        assert cliques.dtypes == [("cliques", "bigint")]
        assert cliques.collect() == clique_count(e, 4, method="join").collect()
        assert fish_count(e).dtypes == [("fishes", "bigint")]
        stats = degree_stats_full(e)
        assert stats.count() == 1
        assert {t for c, t in stats.dtypes if c.startswith("skew")} == {"double"}
        assert {t for c, t in stats.dtypes if not c.startswith("skew")} == {"bigint"}
        levels = bfs_levels(e, start=0)
        assert levels.filter(F.col("level") == 0).collect()[0]["id"] == 0

        empty = spark.range(0).select(F.col("id").alias("src"), F.col("id").alias("dst"))
        res = pagerank(empty)
        assert res.iterations == 0 and res.state.count() == 0
        assert res.state.schema.simpleString() == "struct<id:bigint,rank:double>"
    finally:
        g.unpersist()
