"""Iterative link-analysis over edge DataFrames — the joins-and-aggregates
form of PageRank that scales the way Spark wants (GraphX without GraphX).

Companion to ``dedup.connected_components`` (the other iterative graph
primitive): components answers "which rows are the same thing", PageRank
answers "which nodes matter", the centrality signal a crawl-style corpus
pipeline uses for source weighting alongside ``text_url_dedup``.

Engine-portability rules (same discipline as ``op_kmeans_refine``):
- damping constants enter as DOUBLE literals on both engines (never
  ``1 - 0.85`` in Python — that's 0.15000000000000002, while SQL's
  decimal arithmetic yields exact 0.15);
- ranks are ROUNDED (default 8 dp) after every iteration so the next
  iteration consumes engine-identical inputs;
- per-node contribution is written ``r * (w / w_out)`` — one operand
  order, exactly-rounded IEEE ops only.

Scale shape per iteration: one shuffle keyed on src (edges ⋈ ranks), one
map-side-combined aggregation keyed on dst, one left join back to the node
list. Edges are never collected; the only driver-side action is the
node-count scalar (one number, same class as the IVF centroid fetch).
Dangling mass is NOT redistributed (the "leaky" formulation) — ranks then
sum to < 1, which is fine for ordering/weighting uses and keeps every
iteration a pure edge-local message pass; redistributing would add a
scalar aggregate per iteration, not a new shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .. import fence


def triangle_count(edges: DataFrame) -> DataFrame:
    """Per-node triangle counts over an undirected graph given as
    ``edges(src, dst)`` (direction, duplicates and self-loops ignored).

    Degree-oriented enumeration (the published O(m^1.5) shape): every
    edge is directed from its lower-(degree, id) endpoint to the higher
    one, wedges are enumerated only from each node's out-edges, and a
    wedge closes iff its (v, w) pair is itself an oriented edge. A node
    of degree d contributes C(out_deg, 2) wedges with out_deg bounded by
    O(sqrt(m)) under this orientation — a celebrity hub with 10^7
    neighbours generates candidate pairs from its *low-degree* incident
    edges only, which is what keeps the self-join from going quadratic
    at 100 TB. Every step is an equi-join keyed on a node id plus a
    residual tuple-order predicate; nothing is collected.

    Returns ``(node, triangles)`` for nodes in >= 1 triangle.
    """
    # The edge list is read by degree counting, orientation, wedge
    # enumeration AND the closing-edge probe — fence it once or every
    # self-join branch re-runs the caller's (possibly expensive) edge
    # derivation. localCheckpoint rather than persist: a cached plan is
    # frozen WITHOUT adaptive execution, so under a default session its
    # shuffles keep all 200 static partitions and the tiny-graph case
    # pays thousands of no-op tasks; the eager checkpoint materializes
    # with AQE-coalesced partitioning and truncates lineage (the
    # dedup.connected_components discipline).
    und = fence.checkpoint(
        edges.where(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .distinct()
    )
    deg = (
        und.select(F.col("a").alias("node"))
        .union(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    # Degree table is |V|-sized — broadcast it onto the edge list (at
    # 100 TB, |V| is the node count, orders smaller than |E|; if even V
    # outgrows the broadcast threshold Spark falls back to shuffle).
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("node").alias("b"), F.col("deg").alias("deg_b"))
    wd = und.join(F.broadcast(da), "a").join(F.broadcast(db), "b")
    a_first = (F.col("deg_a") < F.col("deg_b")) | (
        (F.col("deg_a") == F.col("deg_b")) & (F.col("a") < F.col("b"))
    )
    oriented = fence.checkpoint(  # read 3x: wedge sides + closing probe
        wd.where(a_first)
        .select(
            F.col("a").alias("u"), F.col("b").alias("v"), F.col("deg_b").alias("dv")
        )
        .union(
            wd.where(~a_first).select(
                F.col("b").alias("u"),
                F.col("a").alias("v"),
                F.col("deg_a").alias("dv"),
            )
        )
    )
    wedges = (
        oriented.alias("e1")
        .join(
            oriented.select(
                F.col("u"), F.col("v").alias("w"), F.col("dv").alias("dw")
            ).alias("e2"),
            "u",
        )
        .where(
            (F.col("dv") < F.col("dw"))
            | ((F.col("dv") == F.col("dw")) & (F.col("v") < F.col("w")))
        )
        .select("u", "v", "w")
    )
    closing = oriented.select(F.col("u").alias("v"), F.col("v").alias("w"))
    tris = wedges.join(closing, ["v", "w"])
    # one explode pass, NOT a 3-way union of selects — a union would
    # re-run the wedge+closing joins once per corner
    return (
        tris.select(F.explode(F.array("u", "v", "w")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )


def pagerank(
    edges: DataFrame,
    iterations: int = 2,
    damping: float = 0.85,
    teleport: float = 0.15,
    intermediate_round: int = 8,
) -> DataFrame:
    """Weighted PageRank over ``edges(src, dst, weight)``.

    Returns ``(node, rank)`` after ``iterations`` synchronous updates from
    a uniform start. ``teleport`` is passed explicitly rather than derived
    as ``1 - damping`` (see module docstring — decimal-vs-binary drift).
    """
    edges = edges.select(
        F.col("src"), F.col("dst"), F.col("weight").cast("double").alias("w")
    )
    nodes = fence.persist(
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    n = nodes.count()  # scalar action: one number, metadata-sized
    out_w = edges.groupBy("src").agg(F.sum("w").alias("w_out"))
    ranks = nodes.select("node", F.lit(1.0 / n).alias("r"))
    for _ in range(iterations):
        contrib = (
            edges.join(out_w, "src")
            .join(ranks, edges["src"] == ranks["node"])
            .select("dst", (F.col("r") * (F.col("w") / F.col("w_out"))).alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("s"))
        )
        ranks = (
            nodes.join(contrib, nodes["node"] == contrib["dst"], "left")
            .select(
                "node",
                F.round(
                    F.lit(teleport / n)
                    + F.lit(damping) * F.coalesce(F.col("s"), F.lit(0.0)),
                    intermediate_round,
                ).alias("r"),
            )
        )
    return ranks.select("node", F.col("r").alias("rank"))


def label_propagation(
    edges: DataFrame, iterations: int = 2
) -> DataFrame:
    """Weighted synchronous label propagation (community detection) over
    ``edges(src, dst, weight)``, treated as undirected.

    Classic LPA (Raghavan et al. 2007) made deterministic: every node
    starts labelled with its own id; each synchronous round it adopts the
    label with the LARGEST total incident edge weight among its
    neighbours, ties broken by the smallest label. The random visit order
    of the published algorithm is replaced by synchronous updates plus the
    total tie order, so reruns (and engine replays) are bit-identical.

    Per iteration: one src-keyed equi-join (labels onto edges), one
    map-side-combined (node, label) weight aggregation, then the argmax
    as a second map-side-combinable aggregation — ``min(struct(-v,
    label))`` picks the largest vote with ties to the smallest label
    (negating a positive double is exact and order-reversing; votes are
    sums of positive weights, so NaN/-0.0 never occur) — no window, no
    per-iteration sort, nothing collected. The same argmax-as-aggregate
    rewrite as ``op_skew_report``: a ``row_number`` window here would
    sort every (node, label) vote each round, a per-iteration data-sized
    sort at 100 TB. Labels are node ids, so the shuffled payload stays
    two id columns wide; this is the shape GraphX/Pregel LPA lowers to.
    """
    und = edges.select(
        F.col("src"), F.col("dst"), F.col("weight").cast("double").alias("w")
    )
    und = fence.checkpoint(  # read every iteration; truncate lineage
        und.union(und.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w"))
    )
    labels = (
        und.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )
    for _ in range(iterations):
        votes = (
            und.join(labels, und["src"] == labels["node"])
            .groupBy("dst", "label")
            .agg(F.sum("w").alias("v"))
        )
        labels = (
            votes.groupBy("dst")
            .agg(
                F.min(
                    F.struct((-F.col("v")).alias("nv"), F.col("label"))
                ).alias("b")
            )
            .select(F.col("dst").alias("node"), F.col("b.label").alias("label"))
        )
    return labels
