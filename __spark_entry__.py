"""Driver contract for the spark-graft builder (PySpark target).

Graph queries run over deterministic graphs derived from the driver's
TPC-H-ish testdata (FIXTURES.md §F4):

* ``eparts``   — parts co-ordered in the same order (dense, ~2k V /
  ~116k oriented E at sf0.01); primary pattern-query fixture.
* ``esparse``  — same construction restricted to quantity>49
  lineitems (41 V / 44 E, 38 components); CC fixture.
* ``efollow``  — DIRECTED user graph from events (same event_type,
  consecutive hours); symbiosity fixture.

Every Spark implementation lives in ``simdgraphprocessing_spark``;
every oracle below derives the identical graph in ANSI SQL. Column
names/aliases match exactly (the driver hash-compares after sorting
columns by name).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


# --------------------------------------------------------------------- SQL
# Shared CTE prologues (DuckDB views: region nation customer supplier
# part orders lineitem events documents embeddings).

EPARTS = """
li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
eparts AS (SELECT DISTINCT a.p AS src, b.p AS dst
           FROM li a JOIN li b ON a.o = b.o AND a.p < b.p),
sym AS (SELECT src, dst FROM eparts UNION SELECT dst, src FROM eparts)
"""

ESPARSE = """
lis AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
        FROM lineitem WHERE l_quantity > 49),
esparse AS (SELECT DISTINCT a.p AS src, b.p AS dst
            FROM lis a JOIN lis b ON a.o = b.o AND a.p < b.p),
ssym AS (SELECT src, dst FROM esparse UNION SELECT dst, src FROM esparse)
"""

EFOLLOW = """
ev AS (SELECT DISTINCT user_id, event_type, date_trunc('hour', ts) AS h
       FROM events),
efollow AS (SELECT DISTINCT a.user_id AS src, b.user_id AS dst
            FROM ev a JOIN ev b
            ON a.event_type = b.event_type
            AND b.h = a.h + INTERVAL 1 HOUR
            AND a.user_id <> b.user_id)
"""


def _sym_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from simdgraphprocessing_spark.graph import normalize_edges
    from simdgraphprocessing_spark.sources import parts_cooccurrence_edges

    return normalize_edges(parts_cooccurrence_edges(spark, sf_dir))


def _sym_sparse(spark: SparkSession, sf_dir: str) -> DataFrame:
    from simdgraphprocessing_spark.graph import normalize_edges
    from simdgraphprocessing_spark.sources import sparse_parts_edges

    return normalize_edges(sparse_parts_edges(spark, sf_dir))


# ----------------------------------------------------------------- queries


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: triangle count over the sf0.001 parts graph
    (125,968 triangles) — ETL → normalize → orient → count."""
    from simdgraphprocessing_spark.operators import triangle_count

    return triangle_count(_sym_parts(spark, "/root/testdata/sf0.001"))


def _q_edges(spark, sf_dir):
    from simdgraphprocessing_spark.sources import parts_cooccurrence_edges

    return parts_cooccurrence_edges(spark, sf_dir)


def _q_degrees(spark, sf_dir):
    return (
        _sym_parts(spark, sf_dir)
        .groupBy(F.col("src").alias("id"))
        .agg(F.count("*").alias("degree"))
    )


def _q_degree_stats(spark, sf_dir):
    # avg as exact integer micros (sum·10⁶ div count) — double rounding
    # differs across engines, integer division does not.
    deg = _q_degrees(spark, sf_dir)
    return deg.agg(
        F.count("*").alias("num_vertices"),
        F.sum("degree").alias("num_directed_edges"),
        F.expr("CAST((sum(degree) * 1000000) DIV count(*) AS BIGINT)").alias(
            "avg_degree_micros"
        ),
        F.max("degree").alias("max_degree"),
        F.min("degree").alias("min_degree"),
    )


def _q_max_degree_vertex(spark, sf_dir):
    from simdgraphprocessing_spark.operators import max_degree_vertex

    return max_degree_vertex(_sym_parts(spark, sf_dir))


def _q_tri_join(spark, sf_dir):
    from simdgraphprocessing_spark.operators import triangle_count

    return triangle_count(_sym_parts(spark, sf_dir), method="join")


def _q_tri_csr(spark, sf_dir):
    from simdgraphprocessing_spark.operators import triangle_count

    return triangle_count(_sym_parts(spark, sf_dir), method="csr")


def _q_tri_auto(spark, sf_dir):
    # default path (the relational join plan) — the plan a user gets
    # when they don't pick a method; driver-verified against the same
    # oracle
    from simdgraphprocessing_spark.operators import triangle_count

    return triangle_count(_sym_parts(spark, sf_dir), method="auto")


def _q_tri_per_edge_hist(spark, sf_dir):
    from simdgraphprocessing_spark.operators import triangles_per_edge

    per_edge = triangles_per_edge(_sym_parts(spark, sf_dir))
    return per_edge.groupBy(F.col("tri_cnt")).agg(F.count("*").alias("num_edges"))


def _q_clique4(spark, sf_dir):
    from simdgraphprocessing_spark.operators import clique_count

    return clique_count(_sym_parts(spark, sf_dir), k=4)


def _q_similar_nodes(spark, sf_dir):
    from simdgraphprocessing_spark.operators import similar_nodes

    return similar_nodes(_sym_parts(spark, sf_dir), threshold=10)


def _q_symbiosity(spark, sf_dir):
    from simdgraphprocessing_spark.graph import Graph
    from simdgraphprocessing_spark.operators import symbiosity
    from simdgraphprocessing_spark.sources import follow_edges

    g = Graph(edges=follow_edges(spark, sf_dir), directed=True)
    return symbiosity(g.out_edges(), g.in_edges(), threshold=0.5)


def _q_cn_histogram(spark, sf_dir):
    from simdgraphprocessing_spark.operators import common_neighbors

    cn = common_neighbors(_sym_parts(spark, sf_dir))
    return cn.groupBy("cn").agg(F.count("*").alias("num_pairs"))


def _q_jaccard_count(spark, sf_dir):
    from simdgraphprocessing_spark.operators.neighbors import jaccard_pairs

    j = jaccard_pairs(_sym_parts(spark, sf_dir))
    return j.filter(F.col("jac") > 0.5).agg(F.count("*").alias("num_similar_pairs"))


def _q_bfs_levels(spark, sf_dir):
    from simdgraphprocessing_spark.operators import bfs_levels

    lv = bfs_levels(_sym_parts(spark, sf_dir), max_depth=6)
    return lv.groupBy("level").agg(F.count("*").alias("cnt"))


def _q_components(spark, sf_dir):
    from simdgraphprocessing_spark.algorithms import connected_components

    return connected_components(_sym_sparse(spark, sf_dir)).state


def _q_component_sizes(spark, sf_dir):
    from simdgraphprocessing_spark.algorithms import connected_components

    st = connected_components(_sym_sparse(spark, sf_dir)).state
    return st.groupBy("component").agg(F.count("*").alias("size"))


def _q_pagerank(spark, sf_dir):
    from simdgraphprocessing_spark.algorithms import pagerank

    res = pagerank(_sym_parts(spark, sf_dir), max_iterations=10, tol=0.0)
    return res.state.select("id", F.round(F.col("rank"), 6).alias("rank6"))


def _q_label_propagation(spark, sf_dir):
    from simdgraphprocessing_spark.algorithms import label_propagation

    res = label_propagation(_sym_parts(spark, sf_dir), max_iterations=4)
    return res.state


def _q_tadpole(spark, sf_dir):
    from simdgraphprocessing_spark.operators.motifs import tadpole_count

    return tadpole_count(_sym_sparse(spark, sf_dir))


def _q_fish(spark, sf_dir):
    from simdgraphprocessing_spark.operators.motifs import fish_count

    return fish_count(_sym_sparse(spark, sf_dir))


def _q_lollipop(spark, sf_dir):
    from simdgraphprocessing_spark.operators import lollipop_count

    return lollipop_count(_sym_sparse(spark, sf_dir))


def _q_bfs_directed(spark, sf_dir):
    from simdgraphprocessing_spark.operators import bfs_levels
    from simdgraphprocessing_spark.sources import follow_edges

    lv = bfs_levels(follow_edges(spark, sf_dir), max_depth=6)
    return lv.groupBy("level").agg(F.count("*").alias("cnt"))


def _q_triangles_year_filtered(spark, sf_dir):
    """edge_selection with an attribute predicate (the reference's
    ``attr == 2012 && src < dst`` pattern, fish_counting.cpp:33-36):
    parts co-ordered within orders of one year only."""
    from simdgraphprocessing_spark.graph import normalize_edges
    from simdgraphprocessing_spark.operators import triangle_count

    li = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .join(
            spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
                F.year("o_orderdate") == 1995
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    a, b = li.alias("a"), li.alias("b")
    e = (
        a.join(b, "o")
        .filter(F.col("a.p") < F.col("b.p"))
        .select(F.col("a.p").alias("src"), F.col("b.p").alias("dst"))
        .distinct()
    )
    return triangle_count(normalize_edges(e))


def _q_n_path_length(spark, sf_dir):
    """The n_path app's scalar output (apps/n_path.cpp:86-90): BFS path
    length from the max-out-degree vertex, capped at query depth 4."""
    from simdgraphprocessing_spark.operators import bfs_levels
    from simdgraphprocessing_spark.sources import follow_edges

    lv = bfs_levels(follow_edges(spark, sf_dir), max_depth=4)
    return lv.agg(F.max("level").cast("long").alias("path_length"))


def _q_symbiosity_undirected(spark, sf_dir):
    """symbiosity in undirected mode (symbiosity_test.cpp:16-22):
    row == column per vertex, so the count is every non-isolated
    vertex — the app's exact undirected output."""
    from simdgraphprocessing_spark.operators import symbiosity

    sym = _sym_parts(spark, sf_dir)
    return symbiosity(sym, sym, threshold=0.5)


def _q_triangles_node_filtered(spark, sf_dir):
    """node_selection on a vertex ATTRIBUTE (the reference loads a
    per-node attribute file, MutableGraph.hpp:403-404, and filters
    while packing, SparseMatrix.hpp:240): keep parts with p_size <= 25,
    induce the subgraph, count triangles."""
    from simdgraphprocessing_spark.graph import induced_subgraph
    from simdgraphprocessing_spark.operators import triangle_count

    keep = (
        spark.read.parquet(f"{sf_dir}/part.parquet")
        .filter(F.col("p_size") <= 25)
        .select(F.col("p_partkey").alias("id"))
    )
    return triangle_count(induced_subgraph(_sym_parts(spark, sf_dir), keep))


def _q_triangles_attr_adjacency(spark, sf_dir):
    """edge attributes carried INTO the adjacency (the reference's
    ``*FromAttributeList`` loaders keep per-edge attrs aligned with the
    sorted neighbor lists, MutableGraph.hpp:493-513, so edge_selection
    predicates run against the built graph, fish_counting.cpp:33-36):
    parts co-order edges attributed with the EARLIEST co-order year;
    the ``yr == 1995`` predicate runs per-row inside the adjacency
    (narrow higher-order filter — no re-grouping of E), then triangles
    are counted straight from the filtered adjacency."""
    from simdgraphprocessing_spark.graph import adjacency, filter_adjacency_attrs
    from simdgraphprocessing_spark.operators import triangles_from_adjacency

    li = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .join(
            spark.read.parquet(f"{sf_dir}/orders.parquet"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select(
            F.col("l_orderkey").alias("o"),
            F.col("l_partkey").alias("p"),
            F.year("o_orderdate").alias("yr"),
        )
        .distinct()
    )
    a, b = li.alias("a"), li.alias("b")
    ea = (
        a.join(b, "o")
        .filter(F.col("a.p") < F.col("b.p"))
        .groupBy(F.col("a.p").alias("src"), F.col("b.p").alias("dst"))
        .agg(F.min(F.col("a.yr")).alias("yr"))
    )
    sym = ea.union(ea.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "yr"))
    adj = adjacency(sym, attr="yr")
    filtered = filter_adjacency_attrs(adj, lambda y: y == F.lit(1995))
    return triangles_from_adjacency(filtered)


def _q_directed_attr_degrees(spark, sf_dir):
    """directedFromAttributeList end-to-end (MutableGraph.hpp:724-892):
    DIRECTED follow edges attributed with their event_type, attrs
    carried aligned into the out-adjacency, the ``et == 'click'``
    predicate applied per-row INSIDE the adjacency (no re-grouping of
    E), out-degrees read straight from the filtered neighbor arrays."""
    from simdgraphprocessing_spark.graph import adjacency, filter_adjacency_attrs
    from simdgraphprocessing_spark.sources import follow_edges_attributed

    adj = adjacency(follow_edges_attributed(spark, sf_dir), attr="et")
    filtered = filter_adjacency_attrs(adj, lambda a: a == F.lit("click"))
    return filtered.select(
        "id", F.col("degree").cast("long").alias("out_degree")
    )


def _q_degree_stats_full(spark, sf_dir):
    from simdgraphprocessing_spark.operators import degree_stats_full

    full = degree_stats_full(_sym_parts(spark, sf_dir))
    # integer columns only — the skewness doubles are for humans
    return full.drop("skew1_pearson", "skew2_pearson")


# ------------------------------------------------- pipeline queries

def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _embs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _q_dedup_exact(spark, sf_dir):
    from simdgraphprocessing_spark.pipeline import exact_dedup

    return exact_dedup(_docs(spark, sf_dir))


def _q_token_counts(spark, sf_dir):
    from simdgraphprocessing_spark.pipeline import token_counts

    return token_counts(_docs(spark, sf_dir))


def _q_quality(spark, sf_dir):
    from simdgraphprocessing_spark.pipeline import quality_scores

    return quality_scores(_docs(spark, sf_dir))


def _q_langid(spark, sf_dir):
    from simdgraphprocessing_spark.pipeline import lang_id

    return lang_id(_docs(spark, sf_dir))


def _q_fingerprints(spark, sf_dir):
    from simdgraphprocessing_spark.pipeline import doc_fingerprints

    return doc_fingerprints(_docs(spark, sf_dir))


def _q_ngram_jaccard(spark, sf_dir):
    from simdgraphprocessing_spark.pipeline import ngram_jaccard_pairs

    # max_token_df=None: the DuckDB oracle's jac_all CTE has no df guard,
    # so the oracle-facing query must compute over the identical token set
    # (the guarded default is the production path; see ngram_jaccard_pairs
    # docstring and tests/test_pipeline.py for its coverage).
    return ngram_jaccard_pairs(_docs(spark, sf_dir), threshold=0.8, max_token_df=None)


def _q_minhash_lsh(spark, sf_dir):
    from simdgraphprocessing_spark.pipeline import minhash_lsh_pairs

    return minhash_lsh_pairs(_docs(spark, sf_dir), threshold=0.8)


def _q_minhash_direct(spark, sf_dir):
    """The PRODUCTION MinHash configuration (hash_mode='direct': ONE
    xxhash64 per token posting, k affine MINHASH_AB permutations of
    that value — no vocabulary dictionary, no token-id range shuffle;
    see dedup.py). The oracle asserts this
    path's verified output equals the exact token-Jaccard pair set —
    i.e. banding recall is total at this threshold/band geometry, the
    same guarantee the dict-mode twin demonstrates."""
    from simdgraphprocessing_spark.pipeline import minhash_lsh_pairs

    return minhash_lsh_pairs(_docs(spark, sf_dir), threshold=0.8, hash_mode="direct")


def _q_stream_running_degree(spark, sf_dir):
    """The stateful-streaming operator (applyInPandasWithState)
    through the driver gate: ONE input file → one micro-batch, so the
    cumulative per-vertex state after the availableNow run is exactly
    the batch GROUP BY — SQL-reproducible."""
    import os
    import tempfile

    from simdgraphprocessing_spark.streaming import (
        materialize_stream,
        read_edge_stream,
        running_degree,
    )

    tmp = os.path.join(
        tempfile.gettempdir(), "sgp_stream_state_in", os.path.basename(sf_dir)
    )
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        F.col("user_id").alias("src"),
        F.col("event_id").alias("dst"),
        F.col("ts"),
    )
    ev.coalesce(1).write.mode("overwrite").parquet(tmp)
    stream = read_edge_stream(spark, tmp)
    return materialize_stream(running_degree(stream), output_mode="update")


def _q_simhash(spark, sf_dir):
    from simdgraphprocessing_spark.pipeline import simhash_codes

    return simhash_codes(_docs(spark, sf_dir))


def _q_simhash_pairs(spark, sf_dir):
    from simdgraphprocessing_spark.pipeline import simhash_near_pairs

    return simhash_near_pairs(_docs(spark, sf_dir), max_hamming=3)


ANN_QUERY_IDS = [0, 1, 2, 3, 4]


def _q_ann_topk(spark, sf_dir):
    from simdgraphprocessing_spark.pipeline import brute_force_topk

    return brute_force_topk(_embs(spark, sf_dir), ANN_QUERY_IDS, k=10)


def _q_ann_topk_matmul(spark, sf_dir):
    from simdgraphprocessing_spark.pipeline import topk_matmul

    return topk_matmul(_embs(spark, sf_dir), ANN_QUERY_IDS, k=10)


def _q_lsh_buckets(spark, sf_dir):
    from simdgraphprocessing_spark.pipeline import lsh_buckets

    return lsh_buckets(_embs(spark, sf_dir))


def _q_lsh_topk(spark, sf_dir):
    from simdgraphprocessing_spark.pipeline import lsh_topk

    return lsh_topk(_embs(spark, sf_dir), ANN_QUERY_IDS, k=5)


def _q_embedding_cosine_dups(spark, sf_dir):
    from simdgraphprocessing_spark.pipeline import embedding_cosine_dups

    return embedding_cosine_dups(_embs(spark, sf_dir), thr_num=2, thr_den=5)


def _q_media_frame_sample(spark, sf_dir):
    from simdgraphprocessing_spark.pipeline import frame_sample, media_from_documents

    return frame_sample(media_from_documents(_docs(spark, sf_dir)), every_ms=500)


def _q_media_feature_sums(spark, sf_dir):
    from simdgraphprocessing_spark.pipeline import (
        extract_feature_sums,
        media_from_documents,
    )

    return extract_feature_sums(media_from_documents(_docs(spark, sf_dir)))


def _q_stream_windowed_degree(spark, sf_dir):
    """Structured Streaming through the driver gate: events → edge
    stream (ONE file → one micro-batch, so the availableNow watermark
    is deterministic: final watermark = max(ts) − 2h, and append mode
    emits exactly the windows whose end ≤ that watermark)."""
    import os
    import tempfile

    from simdgraphprocessing_spark.streaming import (
        materialize_stream,
        read_edge_stream,
        windowed_degree_counts,
    )

    tmp = os.path.join(tempfile.gettempdir(), "sgp_stream_in", os.path.basename(sf_dir))
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        F.col("user_id").alias("src"),
        F.col("event_id").alias("dst"),
        F.col("ts"),
    )
    ev.coalesce(1).write.mode("overwrite").parquet(tmp)
    stream = read_edge_stream(spark, tmp)
    out = windowed_degree_counts(stream, window="1 hour", watermark="2 hours")
    res = materialize_stream(out)
    return res.select(
        F.unix_timestamp("window_start").alias("window_start_epoch"),
        "id",
        "degree",
    )


# -- SQL generation helpers (same constants as the Spark pipeline) --

_TOKS = "list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x != '')"

_DOC_CTES = f"""
toks AS (SELECT doc_id, {_TOKS} AS tl FROM documents),
tokdict AS (
  SELECT token, dense_rank() OVER (ORDER BY token) AS tid
  FROM (SELECT DISTINCT unnest(tl) AS token FROM toks)
),
post AS (SELECT doc_id, unnest(list_distinct(tl)) AS token FROM toks),
postid AS (SELECT p.doc_id, d.tid FROM post p JOIN tokdict d USING (token)),
sizes AS (SELECT doc_id, count(*) AS sz FROM post GROUP BY doc_id),
inter AS (
  SELECT l.doc_id AS a, r.doc_id AS b, count(*) AS i
  FROM post l JOIN post r ON l.token = r.token AND l.doc_id < r.doc_id
  GROUP BY 1, 2
),
jac_all AS (
  SELECT inter.a, inter.b,
         round(CAST(inter.i AS DOUBLE) / (sa.sz + sb.sz - inter.i), 6) AS jac
  FROM inter
  JOIN sizes sa ON sa.doc_id = inter.a
  JOIN sizes sb ON sb.doc_id = inter.b
)
"""


def _minhash_sig_sql() -> str:
    from simdgraphprocessing_spark.pipeline.dedup import MINHASH_AB, P

    cols = ", ".join(
        f"min(({a}*tid + {b}) % {P}) AS h{i}" for i, (a, b) in enumerate(MINHASH_AB)
    )
    return f"sigs AS (SELECT doc_id, {cols} FROM postid GROUP BY doc_id)"


def _minhash_cand_sql(bands: int = 16, rows: int = 2) -> str:
    parts = []
    for bi in range(bands):
        conds = " AND ".join(
            f"l.h{bi * rows + r} = r.h{bi * rows + r}" for r in range(rows)
        )
        parts.append(
            f"SELECT l.doc_id AS a, r.doc_id AS b FROM sigs l JOIN sigs r "
            f"ON {conds} AND l.doc_id < r.doc_id"
        )
    return "cand AS (" + " UNION ".join(parts) + ")"


def _simhash_code_sql() -> str:
    from simdgraphprocessing_spark.pipeline.dedup import SIMHASH_AB, P

    sums = ", ".join(
        f"sum(2*((({a}*tid + {b}) % {P}) % 2) - 1) AS s{i}"
        for i, (a, b) in enumerate(SIMHASH_AB)
    )
    code = " + ".join(
        f"CASE WHEN s{i} > 0 THEN CAST({1 << i} AS BIGINT) ELSE 0 END"
        for i in range(len(SIMHASH_AB))
    )
    return (
        f"ssum AS (SELECT doc_id, {sums} FROM postid GROUP BY doc_id),\n"
        f"scode AS (SELECT doc_id, {code} AS simhash FROM ssum)"
    )


_QVEC = "list_transform(embedding, x -> CAST(round(x * 10000) AS BIGINT))"


def _lsh_bucket_sql(n_planes: int = 8) -> str:
    dots = ", ".join(
        f"CAST(list_sum(list_transform(qvec, (x, j) -> "
        f"x * ((((1009*{kk}) + 9176*(j-1) + 31) % 7) - 3))) AS BIGINT) AS d{kk}"
        for kk in range(n_planes)
    )
    code = " + ".join(
        f"CASE WHEN d{kk} > 0 THEN CAST({1 << kk} AS BIGINT) ELSE 0 END"
        for kk in range(n_planes)
    )
    return (
        f"qv AS (SELECT vec_id, {_QVEC} AS qvec FROM embeddings),\n"
        f"dots AS (SELECT vec_id, qvec, {dots} FROM qv),\n"
        f"bkt AS (SELECT vec_id, qvec, {code} AS bucket FROM dots)"
    )


def _media_feature_sums_sql(d: int = 8) -> str:
    """np.array_split chunk SUMS of the text bytes: first L%d chunks
    get one extra element (exactly numpy's rule)."""
    feats = ",\n       ".join(
        f"CAST(sum(CASE WHEN ck = {k} THEN b ELSE 0 END) AS BIGINT) AS f{k}"
        for k in range(d)
    )
    return f"""
WITH lens AS (SELECT doc_id, text, length(text) AS L FROM documents),
chars AS (
  SELECT doc_id, L,
         generate_subscripts(string_split(text, ''), 1) - 1 AS i,
         unnest(list_transform(string_split(text, ''), c -> ord(c))) AS b
  FROM lens
),
chunked AS (
  SELECT doc_id,
         CASE WHEN i < (L % {d}) * (L // {d} + 1)
              THEN i // (L // {d} + 1)
              ELSE (L % {d}) + (i - (L % {d}) * (L // {d} + 1)) // (L // {d})
         END AS ck,
         b
  FROM chars
)
SELECT c.doc_id AS media_id, sha256(dd.text) AS content_sha,
       {feats}
FROM chunked c JOIN documents dd USING (doc_id)
GROUP BY c.doc_id, dd.text
"""


def _pipeline_oracles() -> dict[str, str]:
    from simdgraphprocessing_spark.pipeline.text import FP_MOD, STOPWORDS

    langs = sorted(STOPWORDS)
    score_cols = ", ".join(
        "(" + " + ".join(
            f"CASE WHEN list_contains(list_distinct(tl), '{w}') THEN 1 ELSE 0 END"
            for w in STOPWORDS[lang]
        ) + f") AS s_{lang}"
        for lang in langs
    )
    # first-wins tie-break, alphabetical lang order (matches Spark struct max)
    pred_chain = "CASE " + " ".join(
        f"WHEN s_{lang} >= greatest({', '.join('s_' + o for o in langs if o != lang)}) THEN '{lang}'"
        for lang in langs[:-1]
    ) + f" ELSE '{langs[-1]}' END"

    qids = ", ".join(str(q) for q in ANN_QUERY_IDS)
    ann_sql = f"""
WITH q AS (SELECT vec_id, {_QVEC} AS qvec FROM embeddings WHERE vec_id IN ({qids})),
b AS (SELECT vec_id, {_QVEC} AS qvec FROM embeddings),
s AS (
  SELECT q.vec_id AS query_id, b.vec_id AS neighbor_id,
         CAST(list_dot_product(q.qvec, b.qvec) AS BIGINT) AS score
  FROM q, b WHERE q.vec_id <> b.vec_id
),
r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC) AS rank FROM s)
SELECT query_id, rank, neighbor_id, score FROM r WHERE rank <= 10
"""
    return {
        "dedup_exact": """
SELECT min(doc_id) AS doc_id, count(*) AS dupes FROM documents GROUP BY text
""",
        "token_counts": f"""
WITH {_DOC_CTES}
SELECT doc_id, len(tl) AS n_tokens, len(list_distinct(tl)) AS n_distinct_tokens
FROM toks
""",
        "text_quality": f"""
WITH {_DOC_CTES}
SELECT d.doc_id,
       len(t.tl) AS n_tokens,
       length(d.text) AS n_chars,
       round(CAST(len(list_distinct(t.tl)) AS DOUBLE) / len(t.tl), 6) AS distinct_ratio,
       round(CAST(length(regexp_replace(lower(d.text), '[^a-z]', '', 'g')) AS DOUBLE) / length(d.text), 6) AS alpha_ratio,
       (len(t.tl) >= 10
        AND CAST(len(list_distinct(t.tl)) AS DOUBLE) / len(t.tl) > 0.2
        AND CAST(length(regexp_replace(lower(d.text), '[^a-z]', '', 'g')) AS DOUBLE) / length(d.text) > 0.5) AS quality
FROM documents d JOIN toks t USING (doc_id)
""",
        "lang_id": f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS tl FROM documents),
scored AS (SELECT doc_id, {score_cols} FROM toks)
SELECT doc_id, {pred_chain} AS pred_lang FROM scored
""",
        "doc_fingerprints": f"""
WITH {_DOC_CTES},
post_pos AS (
  SELECT doc_id, unnest(tl) AS token, generate_subscripts(tl, 1) AS pos1 FROM toks
)
SELECT p.doc_id,
       CAST(sum(p.pos1 * d.tid) % {FP_MOD} AS BIGINT) AS fingerprint
FROM post_pos p JOIN tokdict d USING (token)
GROUP BY p.doc_id
""",
        "ngram_jaccard_pairs": f"""
WITH {_DOC_CTES}
SELECT a, b, jac FROM jac_all WHERE jac >= 0.8
""",
        "minhash_lsh_pairs": f"""
WITH {_DOC_CTES},
{_minhash_sig_sql()},
{_minhash_cand_sql()}
SELECT j.a, j.b, j.jac
FROM cand c JOIN jac_all j ON j.a = c.a AND j.b = c.b
WHERE j.jac >= 0.8
""",
        # direct mode's xxhash64 signatures are not reproducible in
        # DuckDB, but its VERIFIED output is: candidates are filtered
        # by exact token Jaccard, so with total banding recall the
        # result is the full exact-Jaccard pair set
        "minhash_direct_pairs": f"""
WITH {_DOC_CTES}
SELECT a, b, jac FROM jac_all WHERE jac >= 0.8
""",
        "stream_running_degree": """
SELECT user_id AS id, count(*) AS degree, count(*) AS batch_edges
FROM events GROUP BY user_id
""",
        "simhash_codes": f"""
WITH {_DOC_CTES},
{_simhash_code_sql()}
SELECT doc_id, simhash FROM scode
""",
        "simhash_near_pairs": f"""
WITH {_DOC_CTES},
{_simhash_code_sql()}
SELECT l.doc_id AS a, r.doc_id AS b,
       bit_count(xor(l.simhash, r.simhash)) AS hamming
FROM scode l JOIN scode r ON l.doc_id < r.doc_id
WHERE bit_count(xor(l.simhash, r.simhash)) <= 3
""",
        "ann_topk": ann_sql,
        "ann_topk_matmul": ann_sql,
        "embedding_lsh_buckets": f"""
WITH {_lsh_bucket_sql()}
SELECT vec_id, bucket FROM bkt
""",
        "embedding_lsh_topk": f"""
WITH {_lsh_bucket_sql()},
q AS (SELECT vec_id AS query_id, qvec AS q_qvec, bucket FROM bkt WHERE vec_id IN ({qids})),
s AS (
  SELECT q.query_id, b.vec_id AS neighbor_id,
         CAST(list_dot_product(q.q_qvec, b.qvec) AS BIGINT) AS score
  FROM q JOIN bkt b ON b.bucket = q.bucket AND b.vec_id <> q.query_id
),
r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC) AS rank FROM s)
SELECT query_id, rank, neighbor_id, score FROM r WHERE rank <= 5
""",
        # cosine ≥ 2/5 within one shared LSH bucket, int64-exact:
        # dot>0 ∧ 25·dot² ≥ 4·na·nb (quant=1000 keeps all terms <2^63)
        "embedding_cosine_dups": f"""
WITH {_lsh_bucket_sql()},
qv1 AS (SELECT vec_id, list_transform(embedding, x -> CAST(round(x * 1000) AS BIGINT)) AS q1
        FROM embeddings),
base AS (SELECT b.vec_id, q1, bucket,
                CAST(list_sum(list_transform(q1, x -> x * x)) AS BIGINT) AS norm2
         FROM bkt b JOIN qv1 USING (vec_id)),
pairs AS (SELECT l.vec_id AS a, r.vec_id AS b,
                 CAST(list_dot_product(l.q1, r.q1) AS BIGINT) AS dot,
                 l.norm2 AS na, r.norm2 AS nb
          FROM base l JOIN base r ON l.bucket = r.bucket AND l.vec_id < r.vec_id)
SELECT a, b, dot, na, nb FROM pairs
WHERE dot > 0 AND 25 * dot * dot >= 4 * na * nb
""",
        # multimodal plumbing over fake media derived from documents:
        # blob = utf-8 text bytes (ASCII corpus → byte == ord(char)),
        # content_sha = sha256(blob) — the per-row identity invariant
        "media_frame_sample": """
SELECT doc_id AS media_id,
       unnest(range(0, (doc_id % 7 + 1) * 750, 500)) AS frame_ts_ms,
       sha256(text) AS content_sha
FROM documents WHERE doc_id % 3 = 2
""",
        "media_feature_sums": _media_feature_sums_sql(),
        # batch semantics of the streaming windowed-degree query:
        # 1-hour tumbling windows == date_trunc hour; append mode under
        # a 2h watermark emits exactly the windows whose END <= final
        # watermark (max ts - 2h). Timestamps exported as epoch seconds
        # (both engines UTC).
        "stream_windowed_degree": """
WITH mx AS (SELECT max(ts) AS m FROM events),
w AS (SELECT date_trunc('hour', ts) AS ws, user_id FROM events)
SELECT CAST(epoch(ws) AS BIGINT) AS window_start_epoch,
       user_id AS id, count(*) AS degree
FROM w, mx
WHERE ws + INTERVAL 1 HOUR <= m - INTERVAL 2 HOUR
GROUP BY ws, user_id
""",
    }


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "graph_edges": _q_edges,
        "graph_degrees": _q_degrees,
        "graph_degree_stats": _q_degree_stats,
        "graph_max_degree_vertex": _q_max_degree_vertex,
        "triangle_count_join": _q_tri_join,
        "triangle_count_csr": _q_tri_csr,
        "triangle_count_auto": _q_tri_auto,
        "triangles_per_edge_hist": _q_tri_per_edge_hist,
        "clique4_count": _q_clique4,
        "similar_nodes": _q_similar_nodes,
        "symbiosity_directed": _q_symbiosity,
        "common_neighbors_hist": _q_cn_histogram,
        "jaccard_gt_half_count": _q_jaccard_count,
        "bfs_levels": _q_bfs_levels,
        "connected_components": _q_components,
        "component_sizes": _q_component_sizes,
        "pagerank": _q_pagerank,
        "label_propagation": _q_label_propagation,
        "tadpole_count": _q_tadpole,
        "fish_count": _q_fish,
        "lollipop_count": _q_lollipop,
        "bfs_directed_levels": _q_bfs_directed,
        "triangles_year_filtered": _q_triangles_year_filtered,
        "n_path_length": _q_n_path_length,
        "symbiosity_undirected": _q_symbiosity_undirected,
        "triangles_node_filtered": _q_triangles_node_filtered,
        "triangles_attr_adjacency": _q_triangles_attr_adjacency,
        "directed_attr_out_degrees": _q_directed_attr_degrees,
        "graph_degree_stats_full": _q_degree_stats_full,
        # training-data pipeline ops (documents / embeddings tables)
        "dedup_exact": _q_dedup_exact,
        "token_counts": _q_token_counts,
        "text_quality": _q_quality,
        "lang_id": _q_langid,
        "doc_fingerprints": _q_fingerprints,
        "ngram_jaccard_pairs": _q_ngram_jaccard,
        "minhash_lsh_pairs": _q_minhash_lsh,
        "minhash_direct_pairs": _q_minhash_direct,
        "stream_running_degree": _q_stream_running_degree,
        "simhash_codes": _q_simhash,
        "simhash_near_pairs": _q_simhash_pairs,
        "ann_topk": _q_ann_topk,
        "ann_topk_matmul": _q_ann_topk_matmul,
        "embedding_lsh_buckets": _q_lsh_buckets,
        "embedding_lsh_topk": _q_lsh_topk,
        "embedding_cosine_dups": _q_embedding_cosine_dups,
        "media_frame_sample": _q_media_frame_sample,
        "media_feature_sums": _q_media_feature_sums,
        "stream_windowed_degree": _q_stream_windowed_degree,
    }


def _lpa_sql(iters: int = 4) -> str:
    """Unrolled synchronous label propagation (min tie-break) — the
    SQL oracle for the fixed-iteration LPA query. Early Spark-side
    convergence is safe: once no label changes, the map is a fixed
    point, so extra unrolled iterations are identity."""
    ctes = [
        "v AS (SELECT DISTINCT src AS id FROM sym)",
        "l0 AS (SELECT id, id AS label FROM v)",
    ]
    for i in range(1, iters + 1):
        ctes.append(
            f"c{i} AS (SELECT e.dst AS id, l.label AS l, count(*) AS cnt\n"
            f"       FROM sym e JOIN l{i-1} l ON e.src = l.id GROUP BY 1, 2)"
        )
        ctes.append(
            f"r{i} AS (SELECT id, l, row_number() OVER "
            f"(PARTITION BY id ORDER BY cnt DESC, l ASC) AS rn FROM c{i})"
        )
        ctes.append(
            f"l{i} AS (SELECT p.id, coalesce(b.l, p.label) AS label\n"
            f"       FROM l{i-1} p LEFT JOIN (SELECT id, l FROM r{i} WHERE rn = 1) b USING (id))"
        )
    return ",\n".join(ctes) + f"\nSELECT id, label FROM l{iters}"


def oracle_sql() -> dict[str, str]:
    tri_sql = f"""
WITH {EPARTS}
SELECT count(*) AS triangles
FROM eparts e1
JOIN eparts e2 ON e1.dst = e2.src
JOIN eparts e3 ON e3.src = e1.src AND e3.dst = e2.dst
"""
    return {
        "graph_edges": f"WITH {EPARTS} SELECT src, dst FROM eparts",
        "graph_degrees": f"""
WITH {EPARTS}
SELECT src AS id, count(*) AS degree FROM sym GROUP BY src
""",
        "graph_degree_stats": f"""
WITH {EPARTS},
deg AS (SELECT src AS id, count(*) AS degree FROM sym GROUP BY src)
SELECT CAST(count(*) AS BIGINT) AS num_vertices,
       CAST(sum(degree) AS BIGINT) AS num_directed_edges,
       CAST((sum(degree) * 1000000) // count(*) AS BIGINT) AS avg_degree_micros,
       CAST(max(degree) AS BIGINT) AS max_degree,
       CAST(min(degree) AS BIGINT) AS min_degree
FROM deg
""",
        "graph_max_degree_vertex": f"""
WITH {EPARTS}
SELECT src AS id, count(*) AS degree FROM sym GROUP BY src
ORDER BY degree DESC, id ASC LIMIT 1
""",
        "triangle_count_join": tri_sql,
        "triangle_count_csr": tri_sql,
        "triangle_count_auto": tri_sql,
        "triangles_per_edge_hist": f"""
WITH {EPARTS},
per_edge AS (
  SELECT e1.src, e1.dst, count(*) AS tri_cnt
  FROM eparts e1
  JOIN eparts e2 ON e1.dst = e2.src
  JOIN eparts e3 ON e3.src = e1.src AND e3.dst = e2.dst
  GROUP BY e1.src, e1.dst
)
SELECT tri_cnt, count(*) AS num_edges FROM per_edge GROUP BY tri_cnt
""",
        "clique4_count": f"""
WITH {EPARTS},
tri AS (
  SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
  FROM eparts e1
  JOIN eparts e2 ON e1.dst = e2.src
  JOIN eparts e3 ON e3.src = e1.src AND e3.dst = e2.dst
)
SELECT count(*) AS cliques
FROM tri
JOIN eparts e4 ON e4.src = tri.c
JOIN eparts e5 ON e5.src = tri.b AND e5.dst = e4.dst
JOIN eparts e6 ON e6.src = tri.a AND e6.dst = e4.dst
""",
        "similar_nodes": f"""
WITH {EPARTS},
deg AS (SELECT src AS id, count(*) AS degree FROM sym GROUP BY src),
m AS (SELECT id FROM deg ORDER BY degree DESC, id ASC LIMIT 1),
nm AS (SELECT dst AS w FROM sym WHERE src = (SELECT id FROM m)),
cn AS (SELECT s.src AS v, count(*) AS c
       FROM sym s JOIN nm ON s.dst = nm.w GROUP BY s.src)
SELECT count(*) AS similar FROM cn WHERE c > 10
""",
        "symbiosity_directed": f"""
WITH {EFOLLOW},
outd AS (SELECT src AS id, count(*) AS outd FROM efollow GROUP BY src),
ind  AS (SELECT dst AS id, count(*) AS ind  FROM efollow GROUP BY dst),
both_ AS (SELECT a.src AS id, count(*) AS both_cnt
          FROM efollow a JOIN efollow b ON a.src = b.dst AND a.dst = b.src
          GROUP BY a.src),
j AS (
  SELECT coalesce(o.id, i.id) AS id,
         coalesce(o.outd, 0) AS od, coalesce(i.ind, 0) AS idg,
         coalesce(b.both_cnt, 0) AS bo
  FROM outd o FULL JOIN ind i ON o.id = i.id
  LEFT JOIN both_ b ON coalesce(o.id, i.id) = b.id
)
SELECT count(*) AS symbiotic
FROM j
WHERE od + idg - bo > 0
  AND CAST(bo AS DOUBLE) / (od + idg - bo) > 0.5
""",
        "common_neighbors_hist": f"""
WITH {EPARTS},
wedge AS (
  SELECT e1.src AS u, e2.src AS v, count(*) AS cn
  FROM sym e1 JOIN sym e2 ON e1.dst = e2.dst AND e1.src < e2.src
  GROUP BY e1.src, e2.src
)
SELECT cn, count(*) AS num_pairs FROM wedge GROUP BY cn
""",
        "jaccard_gt_half_count": f"""
WITH {EPARTS},
deg AS (SELECT src AS id, count(*) AS degree FROM sym GROUP BY src),
wedge AS (
  SELECT e1.src AS u, e2.src AS v, count(*) AS cn
  FROM sym e1 JOIN sym e2 ON e1.dst = e2.dst AND e1.src < e2.src
  GROUP BY e1.src, e2.src
)
SELECT count(*) AS num_similar_pairs
FROM wedge
JOIN deg du ON du.id = wedge.u
JOIN deg dv ON dv.id = wedge.v
WHERE CAST(cn AS DOUBLE) / (du.degree + dv.degree - cn) > 0.5
""",
        "bfs_levels": f"""
WITH RECURSIVE {EPARTS},
deg AS (SELECT src AS id, count(*) AS degree FROM sym GROUP BY src),
start AS (SELECT id FROM deg ORDER BY degree DESC, id ASC LIMIT 1),
lv(id, level) AS (
  SELECT id, 0 FROM start
  UNION
  SELECT s.dst, lv.level + 1 FROM lv JOIN sym s ON s.src = lv.id
  WHERE lv.level < 6
)
SELECT level, count(*) AS cnt
FROM (SELECT id, min(level) AS level FROM lv GROUP BY id)
GROUP BY level
""",
        "connected_components": f"""
WITH RECURSIVE {ESPARSE},
comp(id, comp) AS (
  SELECT id, min(m) FROM (
    SELECT src AS id, dst AS m FROM ssym
    UNION ALL SELECT src, src FROM ssym
  ) GROUP BY id
  UNION
  SELECT s.dst, min(c.comp) FROM comp c JOIN ssym s ON s.src = c.id
  GROUP BY s.dst
)
SELECT id, min(comp) AS component FROM comp GROUP BY id
""",
        "component_sizes": f"""
WITH RECURSIVE {ESPARSE},
comp(id, comp) AS (
  SELECT id, min(m) FROM (
    SELECT src AS id, dst AS m FROM ssym
    UNION ALL SELECT src, src FROM ssym
  ) GROUP BY id
  UNION
  SELECT s.dst, min(c.comp) FROM comp c JOIN ssym s ON s.src = c.id
  GROUP BY s.dst
),
assign AS (SELECT id, min(comp) AS component FROM comp GROUP BY id)
SELECT component, count(*) AS size FROM assign GROUP BY component
""",
        "label_propagation": f"WITH {EPARTS},\n{_lpa_sql(4)}",
        "pagerank": f"""
WITH RECURSIVE {EPARTS},
verts AS (SELECT DISTINCT src AS id FROM sym),
deg AS (SELECT src AS id, count(*) AS outdeg FROM sym GROUP BY src),
nv AS (SELECT count(*) AS n FROM verts),
pr(iter, id, rank) AS (
  SELECT 0, id, CAST(1.0 AS DOUBLE) / (SELECT n FROM nv) FROM verts
  UNION ALL
  SELECT pr.iter + 1, v.id,
         CAST(0.15 AS DOUBLE) / (SELECT n FROM nv)
         + CAST(0.85 AS DOUBLE) * coalesce(sum(pr.rank / d.outdeg), CAST(0 AS DOUBLE))
  FROM pr
  JOIN deg d ON d.id = pr.id
  JOIN sym s ON s.src = pr.id
  RIGHT JOIN verts v ON v.id = s.dst
  WHERE pr.iter < 10
  GROUP BY pr.iter, v.id
)
SELECT id, round(rank, 6) AS rank6 FROM pr WHERE iter = 10
""",
        # x=e1.src y=e1.dst z=e2.dst w=e3.dst a=e5.dst b=e6.dst
        "tadpole_count": f"""
WITH {ESPARSE}
SELECT count(*) AS tadpoles
FROM ssym e1
JOIN ssym e2 ON e2.src = e1.dst AND e2.dst <> e1.src
JOIN ssym e3 ON e3.src = e1.src
JOIN ssym e4 ON e4.src = e2.dst AND e4.dst = e3.dst
JOIN ssym e5 ON e5.src = e1.src
            AND e5.dst <> e1.dst AND e5.dst <> e3.dst AND e5.dst <> e2.dst
JOIN ssym e6 ON e6.src = e5.dst AND e6.dst <> e1.src
WHERE e3.dst < e1.dst
""",
        # x=e1.src y=e1.dst z=e2.dst w=e4.dst a=e5.dst b=e6.dst
        "fish_count": f"""
WITH {ESPARSE}
SELECT count(*) AS fishes
FROM ssym e1
JOIN ssym e2 ON e2.src = e1.src AND e2.dst < e1.dst
JOIN ssym e3 ON e3.src = e1.dst AND e3.dst = e2.dst
JOIN ssym e4 ON e4.src = e1.src AND e4.dst <> e1.dst AND e4.dst <> e2.dst
JOIN ssym e5 ON e5.src = e4.dst
            AND e5.dst <> e1.src AND e5.dst <> e1.dst AND e5.dst <> e2.dst
JOIN ssym e6 ON e6.src = e1.src
JOIN ssym e7 ON e7.src = e5.dst AND e7.dst = e6.dst
WHERE e6.dst < e4.dst AND e6.dst <> e2.dst AND e6.dst <> e1.dst
""",
        "lollipop_count": f"""
WITH {ESPARSE},
tri AS (
  SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
  FROM esparse e1
  JOIN esparse e2 ON e1.dst = e2.src
  JOIN esparse e3 ON e3.src = e1.src AND e3.dst = e2.dst
),
tpv AS (
  SELECT id, count(*) AS tri FROM (
    SELECT a AS id FROM tri UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri
  ) GROUP BY id
),
deg AS (SELECT src AS id, count(*) AS deg FROM ssym GROUP BY src)
SELECT CAST(coalesce(sum(tpv.tri * deg.deg), 0) AS BIGINT) AS lollipops
FROM tpv JOIN deg USING (id)
""",
        "bfs_directed_levels": f"""
WITH RECURSIVE {EFOLLOW},
deg AS (SELECT src AS id, count(*) AS degree FROM efollow GROUP BY src),
start AS (SELECT id FROM deg ORDER BY degree DESC, id ASC LIMIT 1),
lv(id, level) AS (
  SELECT id, 0 FROM start
  UNION
  SELECT s.dst, lv.level + 1 FROM lv JOIN efollow s ON s.src = lv.id
  WHERE lv.level < 6
)
SELECT level, count(*) AS cnt
FROM (SELECT id, min(level) AS level FROM lv GROUP BY id)
GROUP BY level
""",
        "n_path_length": f"""
WITH RECURSIVE {EFOLLOW},
deg AS (SELECT src AS id, count(*) AS degree FROM efollow GROUP BY src),
start AS (SELECT id FROM deg ORDER BY degree DESC, id ASC LIMIT 1),
lv(id, level) AS (
  SELECT id, 0 FROM start
  UNION
  SELECT s.dst, lv.level + 1 FROM lv JOIN efollow s ON s.src = lv.id
  WHERE lv.level < 4
)
SELECT CAST(max(level) AS BIGINT) AS path_length
FROM (SELECT id, min(level) AS level FROM lv GROUP BY id)
""",
        "symbiosity_undirected": f"""
WITH {EPARTS},
d AS (SELECT src AS id, count(*) AS dg FROM sym GROUP BY src)
SELECT count(*) AS symbiotic FROM d WHERE CAST(dg AS DOUBLE) / dg > 0.5
""",
        "triangles_node_filtered": f"""
WITH {EPARTS},
keep AS (SELECT p_partkey AS id FROM part WHERE p_size <= 25),
fe AS (SELECT src, dst FROM eparts
       JOIN keep a ON eparts.src = a.id
       JOIN keep b ON eparts.dst = b.id)
SELECT count(*) AS triangles
FROM fe e1 JOIN fe e2 ON e1.dst = e2.src
JOIN fe e3 ON e3.src = e1.src AND e3.dst = e2.dst
""",
        "graph_degree_stats_full": f"""
WITH {EPARTS},
pv AS (SELECT src AS id, count(*) AS card, max(dst) - min(dst) AS rng
       FROM sym GROUP BY src),
pv2 AS (SELECT *, CASE WHEN card > 1
                       THEN least(1000000, (card * 1000000) // (rng + 1)) END AS dm
        FROM pv),
t AS (SELECT count(*) AS n, sum(card) AS m, sum(card * card) AS c2,
             max(card) AS max_card, min(card) AS min_card,
             sum(rng) AS sum_rng, max(rng) AS max_range,
             sum(dm) AS sum_dm, count(dm) AS n_dense
      FROM pv2),
hist AS (SELECT card, count(*) AS cnt FROM pv2 GROUP BY card),
mode_ AS (SELECT card AS mode_degree FROM hist ORDER BY cnt DESC, card ASC LIMIT 1),
cum AS (SELECT card, sum(cnt) OVER (ORDER BY card) AS c FROM hist),
median_ AS (SELECT min(card) AS median_degree FROM cum, t WHERE c >= t.n // 2 + 1),
dhist AS (SELECT dm, count(*) AS cnt FROM pv2 WHERE dm IS NOT NULL GROUP BY dm),
dcum AS (SELECT dm, sum(cnt) OVER (ORDER BY dm) AS c FROM dhist),
dmedian_ AS (SELECT coalesce(min(dm), 0) AS mdm FROM dcum, t
             WHERE c >= t.n_dense // 2 + 1)
SELECT CAST(t.n AS BIGINT) AS num_vertices,
       CAST(t.m AS BIGINT) AS num_directed_edges,
       CAST((t.m * 1000000) // t.n AS BIGINT) AS avg_degree_micros,
       CAST(t.max_card AS BIGINT) AS max_degree,
       CAST(t.min_card AS BIGINT) AS min_degree,
       CAST(median_.median_degree AS BIGINT) AS median_degree,
       CAST(mode_.mode_degree AS BIGINT) AS mode_degree,
       CAST((t.c2 * 1000000) // t.n
            - ((t.m * 1000) // t.n) * ((t.m * 1000) // t.n) AS BIGINT)
         AS var_degree_micros,
       CAST((t.sum_rng * 1000000) // t.n AS BIGINT) AS avg_range_micros,
       CAST(t.max_range AS BIGINT) AS max_range,
       CAST(coalesce(t.sum_dm, 0) // t.n AS BIGINT) AS avg_density_micros,
       CAST(dmedian_.mdm AS BIGINT) AS median_density_micros
FROM t, mode_, median_, dmedian_
""",
        "triangles_year_filtered": """
WITH li AS (
  SELECT DISTINCT l_orderkey AS o, l_partkey AS p
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE year(o_orderdate) = 1995
),
e AS (SELECT DISTINCT a.p AS src, b.p AS dst
      FROM li a JOIN li b ON a.o = b.o AND a.p < b.p)
SELECT count(*) AS triangles
FROM e e1 JOIN e e2 ON e1.dst = e2.src
JOIN e e3 ON e3.src = e1.src AND e3.dst = e2.dst
""",
        # attributed adjacency: edges carry the EARLIEST co-order year;
        # predicate yr = 1995 selects edges whose first co-order was
        # 1995 (distinct from triangles_year_filtered's "existed in
        # 1995" semantics — this one exercises the attr-in-adjacency
        # mechanism end to end)
        "triangles_attr_adjacency": """
WITH li AS (
  SELECT DISTINCT l_orderkey AS o, l_partkey AS p, year(o_orderdate) AS yr
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
ea AS (SELECT a.p AS src, b.p AS dst, min(a.yr) AS yr
       FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
       GROUP BY a.p, b.p),
e AS (SELECT src, dst FROM ea WHERE yr = 1995)
SELECT count(*) AS triangles
FROM e e1 JOIN e e2 ON e1.dst = e2.src
JOIN e e3 ON e3.src = e1.src AND e3.dst = e2.dst
""",
        "directed_attr_out_degrees": """
WITH ev AS (SELECT DISTINCT user_id, event_type, date_trunc('hour', ts) AS h
            FROM events),
efa AS (SELECT DISTINCT a.user_id AS src, b.user_id AS dst,
               a.event_type AS et
        FROM ev a JOIN ev b
        ON a.event_type = b.event_type
        AND b.h = a.h + INTERVAL 1 HOUR
        AND a.user_id <> b.user_id),
ef AS (SELECT src, dst, min(et) AS et FROM efa GROUP BY src, dst)
SELECT src AS id, CAST(count(*) AS BIGINT) AS out_degree
FROM ef WHERE et = 'click' GROUP BY src
""",
        **_pipeline_oracles(),
    }
