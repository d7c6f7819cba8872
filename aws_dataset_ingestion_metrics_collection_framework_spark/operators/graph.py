"""Distributed connected components for near-duplicate cluster assignment.

A training-data dedup pipeline needs more than the pair list the similarity
joins emit (``dedup.ngram_jaccard_pairs`` / ``minhash_dedup_pairs`` /
``embedding_near_dup_pairs``): to keep one document per duplicate *group* the
pairs must be closed into components (A~B, B~C ⇒ {A,B,C} even when A~C was
never emitted). This module assigns every vertex the minimum id of its
component — the conventional "cluster representative" contract.

Two algorithms, one surface:

- ``hash_to_min`` (default): label propagation as a DataFrame loop — each
  round is one shuffle (edge join → groupBy min). Rounds = graph diameter.
  Near-dup graphs are dense small-diameter clusters (quasi-cliques), so 2-3
  rounds converge in practice; ``max_iter`` bounds adversarial chains and
  exhaustion RAISES (never a silent partial assignment — a partial label
  would make ``dedup_keep_per_cluster`` keep >1 doc per true group).
- ``star``: alternating large-star/small-star edge contraction (the
  public MapReduce connected-components construction of Kiveris et al.,
  "Connected Components in MapReduce and Beyond", SoCC'14): O(log n)
  rounds regardless of diameter — the scale path for graphs with genuinely
  long chains, where hash-to-min would need diameter rounds.

Lineage is truncated per round with ``localCheckpoint`` — without it the
iterative plan doubles every round and the driver dies re-optimizing it
long before the executors break a sweat.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


class ConvergenceError(RuntimeError):
    """Raised when an iterative graph algorithm exhausts ``max_iter`` before
    reaching a fixpoint; the partial result is never returned silently."""


def connected_components(
    vertices: DataFrame,
    edges: DataFrame,
    *,
    id_col: str = "id",
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iter: int = 25,
    algorithm: str = "hash_to_min",
) -> DataFrame:
    """Return ``(id, component)`` where ``component`` is the min vertex id
    reachable from ``id`` over undirected ``edges``.

    ``vertices`` rows absent from every edge come out as singletons
    (``component = id``), so the result is a total assignment over the
    corpus — directly joinable back to keep/drop documents per group.

    ``algorithm='hash_to_min'`` converges in diameter rounds (right for the
    quasi-clique graphs near-dup pairs form); ``'star'`` converges in
    O(log n) rounds independent of diameter (right for long chains). Both
    RAISE :class:`ConvergenceError` if ``max_iter`` rounds pass without a
    fixpoint rather than returning partial labels.
    """
    if algorithm == "star":
        return _connected_components_star(
            vertices, edges, id_col=id_col, src_col=src_col, dst_col=dst_col,
            max_iter=max_iter,
        )
    if algorithm != "hash_to_min":
        raise ValueError(f"unknown algorithm {algorithm!r}: use 'hash_to_min' or 'star'")

    sym = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).union(edges.select(F.col(dst_col).alias("src"), F.col(src_col).alias("dst")))
    sym = sym.localCheckpoint(eager=False)

    # Iterate over edge-TOUCHED vertices only: labels of edge-less vertices
    # can never change, so shuffling the whole corpus through every round
    # would make loop cost O(|corpus| * diameter) instead of
    # O(|edges| * diameter). In a near-dup graph the touched set is a small
    # fraction of the corpus; singletons get their total assignment from
    # the single left join at the end (same contract as the star path).
    comp = (
        sym.select(F.col("src").alias("id"))
        .distinct()
        .select("id", F.col("id").alias("component"))
        .localCheckpoint(eager=True)
    )

    for _ in range(max_iter):
        # Carry each vertex's OLD label through the union (`_old` is
        # non-null on exactly the one comp row per id, null on neighbor
        # rows; min() skips nulls), so the convergence check below is a
        # filter over the round's own rows — no join of two stored tables
        # per round. The checkpoint is lazy: the count of changed rows is
        # the job that materialises it, so a round runs no extra job for
        # its check. (A LIMIT in the check would compile new classes on
        # every call.)
        neighbor_min = (
            sym.join(comp, sym["src"] == comp["id"])
            .select(
                F.col("dst").alias("id"),
                "component",
                F.lit(None).cast(comp.schema["component"].dataType).alias("_old"),
            )
        )
        new_comp = (
            comp.select("id", "component", F.col("component").alias("_old"))
            .unionByName(neighbor_min)
            .groupBy("id")
            .agg(
                F.min("component").alias("component"),
                F.min("_old").alias("_old"),
            )
            .localCheckpoint(eager=False)
        )
        changed = new_comp.filter(F.col("component") != F.col("_old")).count()
        comp = new_comp.select("id", "component")
        if changed == 0:
            return (
                vertices.select(F.col(id_col).alias("id"))
                .join(comp, "id", "left")
                .select("id", F.coalesce("component", "id").alias("component"))
            )
    raise ConvergenceError(
        f"hash_to_min did not converge in {max_iter} rounds (graph diameter "
        f"exceeds max_iter); raise max_iter or use algorithm='star' "
        f"(O(log n) rounds, diameter-independent)"
    )


def _large_star(e: DataFrame) -> DataFrame:
    """Large-star: every node connects its strictly-larger neighbors to the
    minimum of its neighborhood (incl. itself). One shuffle (groupBy min) +
    one slim join; edges stay (long, long) pairs throughout."""
    sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = (
        sym.groupBy("u")
        .agg(F.min("v").alias("mn"))
        .select("u", F.least("u", "mn").alias("m"))
    )
    return (
        sym.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Small-star: direct every edge from its larger to its smaller endpoint,
    then attach each node and its smaller neighbors to the neighborhood min."""
    directed = e.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).filter(F.col("u") != F.col("v"))
    mins = directed.groupBy("u").agg(F.min("v").alias("m"))
    return (
        directed.join(mins, "u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .union(mins.select(F.col("u"), F.col("m").alias("v")))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _connected_components_star(
    vertices: DataFrame,
    edges: DataFrame,
    *,
    id_col: str,
    src_col: str,
    dst_col: str,
    max_iter: int,
) -> DataFrame:
    """Alternating large-star/small-star contraction. At the fixpoint the
    edge set is a forest of stars, each centered at its component's minimum
    id — so the final edges ARE the (id, component) assignment for non-root
    vertices; roots and edge-less vertices label themselves."""
    e = (
        edges.select(F.col(src_col).alias("u"), F.col(dst_col).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_edges = e.count()
    for _ in range(max_iter):
        if n_edges == 0:
            break
        e_new = _small_star(_large_star(e)).localCheckpoint(eager=False)
        # One action materialises the round and counts its edges and the
        # ones not in the previous round. Both sides are distinct sets:
        # equal count + no new edge ⇔ equal.
        n_new, n_added = (
            e_new.join(e.withColumn("_old", F.lit(True)), ["u", "v"], "left")
            .agg(F.count(F.lit(1)), F.count_if(F.col("_old").isNull()))
            .first()
        )
        if n_new == n_edges and n_added == 0:
            e = e_new
            break
        e, n_edges = e_new, n_new
    else:
        raise ConvergenceError(
            f"star contraction did not converge in {max_iter} rounds — "
            f"theoretically O(log n); raise max_iter"
        )
    # Fixpoint edges point child → component root (the min id).
    assign = e.select(F.col("u").alias("id"), F.col("v").alias("component"))
    return (
        vertices.select(F.col(id_col).alias("id"))
        .join(assign, "id", "left")
        .select("id", F.coalesce("component", "id").alias("component"))
    )


def dedup_keep_per_cluster(
    df: DataFrame, components: DataFrame, id_col: str
) -> DataFrame:
    """Keep exactly the cluster representatives: rows of ``df`` whose id IS
    its component's minimum (one survivor per duplicate group)."""
    reps = components.filter(F.col("id") == F.col("component")).select("id")
    return df.join(reps, df[id_col] == reps["id"], "left_semi")


def pagerank(
    edges: DataFrame,
    *,
    src_col: str = "src",
    dst_col: str = "dst",
    damping_pct: int = 85,
    iterations: int = 10,
    scale: int = 10**12,
) -> DataFrame:
    """PageRank over a directed link graph — the link-quality signal web
    corpus curation ranks hosts by (Common Crawl publishes exactly this as
    its harmonic-centrality/rank host lists; a crawl-frontier prioritizer
    is the same loop).

    Fixed-point INTEGER arithmetic throughout: ranks are BIGINT
    micro-units (``scale`` = 1.0), every step is integer multiply/divide —

        rank_0  = scale // N
        contrib = Σ_{(u,v) ∈ E} rank(u) // out_deg(u)
        rank'   = (100-d)·scale // (100·N)
                  + d · (contrib + dangling_sum // N) // 100

    — so results are bit-exact across engines, partitionings and retries
    (double summation is order-dependent; an iterated float loop is not
    hash-stable). Truncation loss per step is < 1 unit per term — at
    scale=1e12 that is 1e-12 of rank mass, far below any ranking decision.

    Shape per iteration: one join edges⨝ranks on src (AQE picks broadcast
    iff ranks measure small — at web scale both sides shuffle on src,
    co-partitioned after round 1), one groupBy dst (map-side combined), a
    1-row dangling aggregate carried by crossJoin (never a driver collect
    inside the loop), and a localCheckpoint to truncate lineage — the same
    discipline as ``connected_components``. ``iterations`` is fixed (the
    production convention: rank lists ship at k iterations; a convergence
    test would need a global delta pass per round).

    Returns (id, rank_units BIGINT, rank DOUBLE) for every node appearing
    as source or destination; rows sum to ~scale.
    """
    src, dst = F.col(src_col), F.col(dst_col)
    e = edges.select(src.alias("src"), dst.alias("dst"))
    nodes = (
        e.select(F.col("src").alias("id"))
        .union(e.select(F.col("dst").alias("id")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    n = nodes.count()
    if n == 0:
        raise ValueError("pagerank: empty edge set")
    deg = e.groupBy("src").agg(F.count("*").alias("deg"))
    # (id, deg) for every node; deg NULL marks dangling nodes
    node_deg = nodes.join(deg, nodes["id"] == deg["src"], "left").select("id", "deg")
    node_deg = node_deg.localCheckpoint(eager=False)
    ed = e.join(deg, "src")  # (src, dst, deg) — deg rides the edge

    base = ((100 - damping_pct) * scale) // (100 * n)
    rank = node_deg.select("id", "deg", F.lit(scale // n).alias("rank"))
    for _ in range(iterations):
        slim = rank.select("id", "rank")  # drop deg: ed carries its own
        contrib = (
            slim.join(ed, slim["id"] == ed["src"])
            .select(F.col("dst").alias("id"), F.expr("rank DIV deg").alias("share"))
            .groupBy("id")
            .agg(F.sum("share").alias("contrib"))
        )
        dangling = rank.filter(F.col("deg").isNull()).agg(
            F.coalesce(F.sum("rank"), F.lit(0)).alias("dang")
        )
        rank = (
            node_deg.join(contrib, "id", "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "id",
                "deg",
                (
                    F.lit(base)
                    + F.expr(
                        f"({damping_pct} * (coalesce(contrib, 0L) + dang DIV {n}))"
                        " DIV 100"
                    )
                ).alias("rank"),
            )
            .localCheckpoint(eager=False)
        )
    return rank.select(
        "id",
        F.col("rank").alias("rank_units"),
        F.round(F.col("rank") / F.lit(float(scale)), 9).alias("rank"),
    )


def label_propagation(
    edges: DataFrame,
    *,
    src_col: str = "src",
    dst_col: str = "dst",
    iterations: int = 3,
    directed: bool = False,
) -> DataFrame:
    """Synchronous label propagation (Raghavan et al. 2007) — community
    detection over the link graph: denser-than-chance neighborhoods
    converge onto one label, the clustering signal between
    per-component closure (``connected_components`` — too coarse: one
    label per component) and modularity solvers (not DataFrame-shaped).

    Deterministic by construction, unlike textbook LPA (random order +
    random tie-break): updates are SYNCHRONOUS over a FIXED iteration
    count, and each node adopts the neighbor label with the highest count,
    ties broken toward the SMALLEST label — a total order, so the result
    is bit-stable across engines/partitionings/retries and an unrolled-CTE
    SQL oracle can match it exactly (same contract as ``pagerank``; pure
    integer counts, no float drift). Nodes with no in-neighbors keep their
    current label each round; initial label = node id.

    Shape per iteration: one join edges⨝labels on src (co-partitioned
    after round 1), one (dst, label) count with map-side combine, one
    ``max_by`` argmax per node, and a ``localCheckpoint`` truncating
    lineage — identical discipline to the other iterative operators here.
    ``directed=False`` (default) symmetrizes the edge list first:
    communities are an undirected notion.
    """
    e = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    if not directed:
        e = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    e = e.distinct().localCheckpoint(eager=False)
    nodes = (
        e.select(F.col("src").alias("id"))
        .union(e.select(F.col("dst").alias("id")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    labels = nodes.select("id", F.col("id").alias("lab"))
    for _ in range(iterations):
        votes = (
            labels.join(e, labels["id"] == e["src"])
            .groupBy(F.col("dst").alias("id"), "lab")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        winner = votes.groupBy("id").agg(
            F.max_by("lab", F.struct(F.col("c"), -F.col("lab"))).alias("new_lab")
        )
        labels = (
            labels.join(winner, "id", "left")
            .select("id", F.coalesce("new_lab", "lab").alias("lab"))
            .localCheckpoint(eager=False)
        )
    return labels.select("id", F.col("lab").alias("label"))


def triangle_counts(
    edges: DataFrame, *, src_col: str = "src", dst_col: str = "dst"
) -> DataFrame:
    """Per-node triangle counts over the undirected graph — the local
    clustering signal (spam link-farms and template networks triangle
    far above organic link graphs; the clustering-coefficient numerator).

    Scale shape is the compact-forward / degree-ordering algorithm: orient
    every edge from its (degree, id)-smaller endpoint to the larger, then
    a triangle is exactly one wedge (a→b, a→c) whose closing edge b→c is
    also oriented — so each triangle is found ONCE, and the wedge join's
    fan-out per node is bounded by its ORIENTED out-degree ≤ O(√m) on any
    graph (a hub of degree 10⁶ contributes ~0 oriented wedges instead of
    10¹² unordered ones — the difference between a plan that finishes and
    one that doesn't). Self-loops and duplicate/reverse edges dropped.

    Output: (id, n_triangles) for every node of the graph, zeros
    included. Integer counts — deterministic everywhere.
    """
    e = edges.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b"))
    und = (
        e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    canon = und.filter(F.col("a") < F.col("b"))
    deg = und.groupBy("a").agg(F.count(F.lit(1)).alias("d")).select(
        F.col("a").alias("id"), "d"
    )
    da = deg.select(F.col("id").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("id").alias("b"), F.col("d").alias("db"))
    oriented = (
        canon.join(da, "a").join(db, "b")
        .select(
            F.when(
                (F.col("da") < F.col("db"))
                | ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))),
                F.struct(F.col("a").alias("u"), F.col("b").alias("v")),
            )
            .otherwise(F.struct(F.col("b").alias("u"), F.col("a").alias("v")))
            .alias("e")
        )
        .select("e.u", "e.v")
    )
    oriented = oriented.localCheckpoint(eager=False)
    w1 = oriented.select(F.col("u").alias("a"), F.col("v").alias("b"))
    w2 = oriented.select(F.col("u").alias("a"), F.col("v").alias("c"))
    wedges = w1.join(w2, "a").filter(F.col("b") < F.col("c"))
    # closing edge may be oriented b→c or c→b; join on the CANONICAL form
    closing = oriented.select(
        F.least("u", "v").alias("b"), F.greatest("u", "v").alias("c")
    )
    tris = wedges.join(closing, ["b", "c"]).select("a", "b", "c")
    per_node = (
        tris.select(F.explode(F.array("a", "b", "c")).alias("id"))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    nodes = und.select(F.col("a").alias("id")).distinct()
    return nodes.join(per_node, "id", "left").select(
        "id", F.coalesce("n_triangles", F.lit(0)).alias("n_triangles")
    )
