"""Motif counts beyond triangles — lollipop / tadpole / fish
(``apps/undirected_lollipop_counting.cpp``,
``undirected_tadpole_counting.cpp``, ``undirected_fish_counting.cpp``).

Lollipop semantics (from the reference core loop, lollipop ``:50-67``):
for each vertex x, each triangle {x,y,z} incident to x contributes
deg(x). Summed over all x: lollipops = Σ_triangles (deg(x)+deg(y)+deg(z)).
Relational plan: per-vertex triangle participation t(v) (from the
per-edge triangle join), then Σ t(v)·deg(v) — two shuffles total.

Scale note: the default ``method="factorized"`` never materializes
the instance stream. Both motifs reduce to aggregates over one shared
structure, the CO-PAIR TABLE ``P(x,z) = (k, D)`` with
``k = |N(x)∩N(z)|`` and ``D = Σ_{c∈N(x)∩N(z)} deg(c)``, built by one
groupBy over the wedge stream (Σ deg² rows — the same asymptotic cost
the reference pays to intersect every adjacent pair). The enumerating
6-way joins (``method="enumerate"``) are kept as oracles: exact on
dense input (tests/test_motifs_dense.py, K12 vs literal-loop goldens)
but they pay the instance stream, which reaches ~10^13 tadpoles on
the sf0.01 co-order graph where only the factorized path finishes.

Factorization derivations (checked vs enumerators in
tests/test_motifs.py on K5/bridge/zipf fixtures):

* tadpole loop (y∈N(x); z∈N(y),z≠x; w∈N(x)∩N(z),w<y;
  a∈N(x)∖{y,w,z}; b∈N(a),b≠x): y∈N(x)∧z∈N(y) ⟺ y∈N(x)∩N(z), so y
  and w BOTH range over C=N(x)∩N(z) with w<y; the (a,b) tail counts
  Σ_{a∈N(x)∖{y,w,z}}(deg(a)−1) = S(x)−(deg(y)−1)−(deg(w)−1)
  −[z~x](deg(z)−1) with S(x)=Σ_{a∈N(x)}(deg(a)−1). Summing over the
  C(k,2) pairs {w<y}⊂C (each c∈C appears in k−1 pairs):

    tadpoles = Σ_{x≠z} C(k,2)·(S(x) − [z~x]·(deg(z)−1))
                        − (k−1)·(D−k)

* fish loop (oriented triangle x,y,z with z<y; w∈N(x)∖{y,z};
  a∈N(w)∖{x,y,z}; b∈N(x)∩N(a),b<w,b∉{y,z}): the (w,a,b) tail is an
  anchored 4-cycle x–w–a–b–x with sides {b<w}⊂C(x,a), a≠x, minus
  cycles touching {y,z}. With CY(x)=Σ_{a≠x} C(k(x,a),2) anchored
  cycles, T(x)=½Σ_{v~x} k(x,v) anchored triangles, and
  inclusion–exclusion over {y,z}∩{w,a,b}:

    fish = Σ_x T(x)·CY(x)                                   (all pairs)
         − Σ_{directed edges (x,v)} k(x,v)·[C(k(x,v),2) + h(x,v)]
                                                    (≥1 of y,z in cycle)
         + 3·Σ_{unordered edges e} k(e)·(k(e)−1)    (both in — re-add)

  where h(x,v) = Σ_{a∈N(v)∖{x}} (k(x,a)−1) counts cycles with v as a
  side vertex (every a∈N(v)∖{x} has v∈C(x,a), so k(x,a)≥1), and the
  both-in term telescopes: cycles containing both y,z of an anchored
  triangle number (k(y,z)−1)+(k(x,z)−1)+(k(x,y)−1), whose sum over
  anchored triangles is 3·Σ_{unordered edges} k(e)·(k(e)−1) because
  every anchored triangle sees all three of its edges and each
  unordered edge e lies in k(e) triangles × 3 anchors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from simdgraphprocessing_spark.operators.cliques import cliques


def triangles_per_vertex(edges: DataFrame) -> DataFrame:
    """(id, tri) — number of triangles each vertex participates in."""
    verts = cliques(edges, 3).select(F.explode(F.array("v1", "v2", "v3")).alias("id"))
    return verts.groupBy("id").agg(F.count("*").alias("tri"))


def _degrees(edges: DataFrame) -> DataFrame:
    return edges.groupBy(F.col("src").alias("id")).agg(F.count("*").alias("deg"))


def co_pair_stats(edges: DataFrame) -> DataFrame:
    """The co-pair table ``(x, z, k, d)``: for every ordered pair of
    distinct vertices with at least one common neighbor,
    ``k = |N(x)∩N(z)|`` and ``d = Σ_{c∈N(x)∩N(z)} deg(c)``.

    One wedge-stream aggregation: self-join the symmetric edge table
    on the wedge CENTER c (rows = Σ_c deg(c)², the same volume the
    reference touches intersecting all adjacent pairs), groupBy the
    unordered endpoints, then mirror — the shuffle moves the unordered
    half only. Hub centers are exactly the skew AQE's skew-join
    splitting handles; degree-ordering upstream keeps them bounded.
    """
    deg = _degrees(edges)
    c1 = edges.select(F.col("src").alias("c"), F.col("dst").alias("x"))
    c2 = edges.select(F.col("src").alias("c"), F.col("dst").alias("z"))
    half = (
        c1.join(c2, "c")
        .filter(F.col("x") < F.col("z"))
        .join(deg.withColumnRenamed("id", "c"), "c")
        .groupBy("x", "z")
        .agg(F.count("*").alias("k"), F.sum("deg").alias("d"))
    )
    return half.union(
        half.select(F.col("z").alias("x"), F.col("x").alias("z"), "k", "d")
    )


def tadpole_count(edges: DataFrame, method: str = "factorized") -> DataFrame:
    """Tadpole motif count (``apps/undirected_tadpole_counting.cpp:67-100``).

    Exact loop semantics (x..b over the full symmetric adjacency):
    y∈N(x); z∈N(y), z≠x; w∈N(x)∩N(z), w<y; a∈N(x)∖{y,w,z};
    b∈N(a), b≠x — each assignment counts 1.

    ``method="factorized"`` (default): the closed form from the module
    docstring — one co-pair aggregation + vertex-level S(x), never the
    instance stream. ``method="enumerate"``: the literal 6-way
    conjunctive self-join (oracle; pays the instance count).
    Single row ``(tadpoles bigint)``.
    """
    if method == "factorized":
        return _tadpole_factorized(edges)
    e = edges

    def sel(x, y):
        return e.select(F.col("src").alias(x), F.col("dst").alias(y))

    q = (
        sel("x", "y")
        .join(sel("y", "z"), "y")
        .filter(F.col("z") != F.col("x"))
        .join(sel("x", "w"), "x")
        .join(sel("z", "w"), ["z", "w"], "left_semi")
        .filter(F.col("w") < F.col("y"))
        .join(sel("x", "a"), "x")
        .filter((F.col("a") != F.col("y")) & (F.col("a") != F.col("w")) & (F.col("a") != F.col("z")))
        .join(sel("a", "b"), "a")
        .filter(F.col("b") != F.col("x"))
    )
    return q.agg(F.count("*").alias("tadpoles"))


def _tadpole_factorized(edges: DataFrame) -> DataFrame:
    """tadpoles = Σ_{x≠z} C(k,2)·(S(x) − [z~x](deg(z)−1)) − (k−1)(D−k)
    over the co-pair table (module docstring derivation)."""
    deg = _degrees(edges)
    s = (
        edges.join(deg.withColumnRenamed("id", "dst"), "dst")
        .groupBy(F.col("src").alias("id"))
        .agg(F.sum(F.col("deg") - F.lit(1)).alias("s"))
    )
    pairs = (
        co_pair_stats(edges)
        .join(s.withColumnRenamed("id", "x"), "x")
        .join(
            deg.select(F.col("id").alias("z"), F.col("deg").alias("deg_z")), "z"
        )
        .join(
            edges.select(
                F.col("src").alias("x"), F.col("dst").alias("z"), F.lit(1).alias("adj")
            ),
            ["x", "z"],
            "left",
        )
    )
    # k(k−1) is even — DIV keeps the whole chain in exact int64
    kk2 = F.expr("k * (k - 1) DIV 2")
    contrib = kk2 * (
        F.col("s")
        - F.when(F.col("adj").isNotNull(), F.col("deg_z") - 1).otherwise(F.lit(0))
    ) - (F.col("k") - 1) * (F.col("d") - F.col("k"))
    return pairs.agg(
        F.coalesce(F.sum(contrib), F.lit(0)).cast("long").alias("tadpoles")
    )


def fish_count(edges: DataFrame, method: str = "factorized") -> DataFrame:
    """Fish motif count (``apps/undirected_fish_counting.cpp:80-117``).

    Loop semantics: y∈N(x); z∈N(x)∩N(y), z<y (oriented triangle
    x,y,z); w∈N(x)∖{y,z}; a∈N(w)∖{x,y,z}; b∈N(x)∩N(a) with b<w,
    b∉{z,y}. Single row ``(fishes bigint)``.

    ``method="factorized"`` (default): triangle × anchored-4-cycle
    closed form over the co-pair table (module docstring);
    ``method="enumerate"``: the literal 6-way join oracle.
    """
    if method == "factorized":
        return _fish_factorized(edges)
    e = edges

    def sel(x, y):
        return e.select(F.col("src").alias(x), F.col("dst").alias(y))

    q = (
        sel("x", "y")
        .join(sel("x", "z"), "x")
        .join(sel("y", "z"), ["y", "z"], "left_semi")
        .filter(F.col("z") < F.col("y"))
        .join(sel("x", "w"), "x")
        .filter((F.col("w") != F.col("y")) & (F.col("w") != F.col("z")))
        .join(sel("w", "a"), "w")
        .filter((F.col("a") != F.col("x")) & (F.col("a") != F.col("y")) & (F.col("a") != F.col("z")))
        .join(sel("x", "b"), "x")
        .join(sel("a", "b"), ["a", "b"], "left_semi")
        .filter((F.col("b") < F.col("w")) & (F.col("b") != F.col("z")) & (F.col("b") != F.col("y")))
    )
    return q.agg(F.count("*").alias("fishes"))


def _fish_factorized(edges: DataFrame) -> DataFrame:
    """fish = Σ_x T(x)·CY(x) − corr1 + term3 (module docstring).

    Every term is an aggregate over the co-pair table P(x,z,k,d) or a
    wedge-sized join against it — the 4-cycle/triangle instance
    streams are never materialized.
    """
    deg = _degrees(edges)
    p = co_pair_stats(edges).drop("d").persist()
    try:
        # co-pair rows restricted to edges: k(x,v) for v~x
        pe = p.join(
            edges.select(F.col("src").alias("x"), F.col("dst").alias("z")),
            ["x", "z"],
            "left_semi",
        ).persist()

        # T(x) = ½ Σ_{v~x} k(x,v); CY(x) = Σ_{a≠x} C(k(x,a),2)
        t = pe.groupBy("x").agg(F.expr("sum(k) DIV 2").alias("t"))
        cy = p.groupBy("x").agg(F.sum(F.expr("k * (k - 1) DIV 2")).alias("cy"))
        main = (
            t.join(cy, "x")
            .agg(F.coalesce(F.sum(F.col("t") * F.col("cy")), F.lit(0)).alias("v"))
        )

        # h(x,v) = Σ_{a∈N(v)∖{x}} k(x,a) − (deg(v)−1)  for edges (x,v):
        # wedge join (x,v,a) ⋈ P(x,a) — every a∈N(v)∖{x} has k(x,a)≥1
        # (v itself is a common neighbor), so the inner join is lossless
        wedge = (
            edges.select(F.col("src").alias("x"), F.col("dst").alias("v"))
            .join(edges.select(F.col("src").alias("v"), F.col("dst").alias("a")), "v")
            .filter(F.col("a") != F.col("x"))
        )
        hsum = (
            wedge.join(p.withColumnRenamed("z", "a"), ["x", "a"])
            .groupBy("x", "v")
            .agg(F.sum("k").alias("hk"))
        )
        corr1 = (
            pe.withColumnRenamed("z", "v")
            .join(hsum, ["x", "v"])
            .join(deg.select(F.col("id").alias("v"), F.col("deg").alias("deg_v")), "v")
            .select(
                (
                    F.col("k")
                    * (
                        F.expr("k * (k - 1) DIV 2")
                        + F.col("hk")
                        - (F.col("deg_v") - 1)
                    )
                ).alias("c")
            )
            .agg(F.coalesce(F.sum("c"), F.lit(0)).alias("v"))
        )

        # term3 = 3 · Σ_{unordered edges} k(k−1)  (directed sum DIV 2)
        term3 = pe.agg(
            F.coalesce(F.expr("3 * (sum(k * (k - 1)) DIV 2)"), F.lit(0)).alias("v")
        )

        # ONE driver action for the whole tail: the three single-row
        # aggregates cross-join into one row and collect together
        # (three separate collects = three jobs re-walking the shared
        # persisted co-pair subtree's scan)
        row = (
            main.select(F.col("v").alias("m"))
            .crossJoin(corr1.select(F.col("v").alias("c1")))
            .crossJoin(term3.select(F.col("v").alias("t3")))
            .collect()[0]
        )
    finally:
        pe.unpersist()
        p.unpersist()
    fishes = int(row["m"]) - int(row["c1"]) + int(row["t3"])
    spark = edges.sparkSession
    return spark.createDataFrame([(fishes,)], "fishes long")


def lollipop_count(edges: DataFrame) -> DataFrame:
    """Single row ``(lollipops bigint)`` = Σ_v tri(v)·deg(v)
    (reference golden: 713,455,740 on ego-Facebook)."""
    tpv = triangles_per_vertex(edges)
    deg = edges.groupBy(F.col("src").alias("id")).agg(F.count("*").alias("deg"))
    return (
        tpv.join(deg, "id")
        .agg(F.coalesce(F.sum(F.col("tri") * F.col("deg")), F.lit(0)).alias("lollipops"))
    )
