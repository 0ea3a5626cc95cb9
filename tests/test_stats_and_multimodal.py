"""Unit coverage for round-2 additions: induced_subgraph (node
attributes), degree_stats_full (dataset-stats parity), and the
multimodal feature-sum / frame-sample plumbing."""

from __future__ import annotations

import hashlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from tests.conftest import edge_df, k5_pairs, two_triangles_bridge_pairs


def test_induced_subgraph_triangles(spark):
    from simdgraphprocessing_spark.graph import induced_subgraph
    from simdgraphprocessing_spark.operators import triangle_count

    # two triangles + bridge; keep vertices {0,1,2,3} → one triangle
    e = edge_df(spark, two_triangles_bridge_pairs())
    keep = spark.createDataFrame([(0,), (1,), (2,), (3,)], "id long")
    sub = induced_subgraph(e, keep)
    assert triangle_count(sub).collect()[0]["triangles"] == 1
    # and the bridge edge 2-3 survives (both endpoints kept)
    assert sub.filter((F.col("src") == 2) & (F.col("dst") == 3)).count() == 1
    # vertex 4 dropped entirely
    assert sub.filter((F.col("src") == 4) | (F.col("dst") == 4)).count() == 0


def test_degree_stats_full_k5(spark):
    from simdgraphprocessing_spark.operators import degree_stats_full

    row = degree_stats_full(edge_df(spark, k5_pairs())).collect()[0]
    # K5: every vertex degree 4, range max(nbr)-min(nbr)
    assert row["num_vertices"] == 5
    assert row["num_directed_edges"] == 20
    assert row["avg_degree_micros"] == 4_000_000
    assert row["max_degree"] == 4 and row["min_degree"] == 4
    assert row["median_degree"] == 4 and row["mode_degree"] == 4
    assert row["var_degree_micros"] == 0
    # ranges: vertex 0 → nbrs 1..4 → rng 3; v1 → 0..4 → 4 ... hand sum:
    # v0:4-1=3, v1:4-0=4, v2:4, v3:4, v4:3 → sum 18
    assert row["max_range"] == 4
    assert row["avg_range_micros"] == (18 * 1_000_000) // 5
    # densities: card 4 / (rng+1): v0 → 4/4=1e6 v1 → 4/5=800000 ...
    dm = [1_000_000, 800_000, 800_000, 800_000, 1_000_000]
    assert row["avg_density_micros"] == sum(dm) // 5
    assert row["median_density_micros"] == sorted(dm)[len(dm) // 2]
    assert row["skew1_pearson"] != row["skew1_pearson"]  # NaN (var 0)


def test_feature_sums_match_numpy(spark):
    from simdgraphprocessing_spark.pipeline import (
        extract_feature_sums,
        media_from_documents,
    )

    docs = spark.createDataFrame(
        [(0, "hello world this is a doc"), (1, "x" * 50)], "doc_id long, text string"
    )
    out = {
        r["media_id"]: r
        for r in extract_feature_sums(media_from_documents(docs)).collect()
    }
    for doc_id, text in [(0, "hello world this is a doc"), (1, "x" * 50)]:
        b = np.frombuffer(text.encode(), dtype=np.uint8).astype(np.int64)
        expect = [int(c.sum()) for c in np.array_split(b, 8)]
        got = [out[doc_id][f"f{i}"] for i in range(8)]
        assert got == expect
        assert out[doc_id]["content_sha"] == hashlib.sha256(text.encode()).hexdigest()


def test_frame_sample_grid(spark):
    from simdgraphprocessing_spark.pipeline import (
        frame_sample,
        media_from_documents,
        verify_media_sha,
    )

    docs = spark.createDataFrame(
        [(i, f"doc number {i}") for i in range(9)], "doc_id long, text string"
    )
    media = media_from_documents(docs)
    fs = frame_sample(media, every_ms=500)
    rows = fs.collect()
    # only doc_id % 3 == 2 are videos; duration (doc_id%7+1)*750
    ids = {r["media_id"] for r in rows}
    assert ids == {2, 5, 8}
    for mid in ids:
        dur = (mid % 7 + 1) * 750
        ts = sorted(r["frame_ts_ms"] for r in rows if r["media_id"] == mid)
        assert ts == list(range(0, dur, 500))
    # sha invariant holds
    assert verify_media_sha(fs, media) == 0


def test_binary_reader_rejects_wrong_flag():
    from simdgraphprocessing_spark.sources.binary import _parse_adjacency_binary

    # undirected layout: u64 num_nodes; per node u64 external id,
    # u64 row_size, u32[row_size] neighbor internal indices
    def node(ext_id, row):
        return np.array([ext_id, len(row)], np.uint64).tobytes() + np.array(row, np.uint32).tobytes()

    buf = np.array([3], np.uint64).tobytes() + node(10, [1, 2]) + node(20, [0]) + node(30, [0])
    src, dst = _parse_adjacency_binary(buf, directed=False)
    assert list(zip(src, dst)) == [(10, 20), (10, 30), (20, 10), (30, 10)]
    with pytest.raises(ValueError):
        _parse_adjacency_binary(buf, directed=True)


def test_neighbors_exist_foreach_until(spark):
    from pyspark.sql import functions as F

    from simdgraphprocessing_spark.graph import adjacency
    from simdgraphprocessing_spark.operators.neighbors import neighbors_exist

    e = edge_df(spark, two_triangles_bridge_pairs())
    adj = adjacency(e)
    got = {
        r["id"]: r["found"]
        for r in neighbors_exist(adj, lambda n: n >= 4).collect()
    }
    # vertices adjacent to 4 or 5: 3,4,5 (triangle 3-4-5); 2 only sees 0,1,3
    assert got == {0: False, 1: False, 2: False, 3: True, 4: True, 5: True}
