"""Link-graph operators for crawl prioritization.

PageRank over a directed edge list, in FIXED-POINT integer arithmetic:
ranks are BIGINT multiples of 1e-12 (SCALE = 10^12), damping d = 17/20,
and every division is integer division.  Why not float: partial
aggregation order varies with partitioning, and float sums are not
associative — integer sums are, so the result is bit-identical at any
parallelism AND bit-replayable in a DuckDB oracle (the same reason
`clustering.kmeans` sums in DECIMAL).  The quantization error is
≤ out-degree ulps per node per iteration — 1e-12-scale noise on a
statistic used for ORDERING crawl frontiers.

Scale shape: each iteration is one equi-join of the rank table onto the
edge list (both partitioned by node id — co-partitioned at scale via
bucketing on the stored edge table) plus one map-side-combined sum
exchange on dst.  State per iteration = one (node, rank) table; lineage
is truncated with localCheckpoint so iteration k does not replay 1..k-1.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

SCALE = 10**12  # fixed-point unit: rank stored as BIGINT multiples of 1e-12
D_NUM, D_DEN = 17, 20  # damping factor d = 0.85 as an exact rational


def pagerank_fixed(
    nodes: DataFrame,
    edges: DataFrame,
    iters: int = 3,
    node_col: str = "node",
    src_col: str = "src",
    dst_col: str = "dst",
    out_deg: int | None = None,
) -> DataFrame:
    """Fixed-point PageRank: returns (node, rank) with rank in SCALE units.

    r0 = SCALE // N; r_{t+1}(v) = (1-d)·SCALE//N + (d_num · Σ_{u→v} r_t(u)//deg(u)) // d_den.
    ``out_deg``: pass the constant out-degree if the generator guarantees
    one (skips the degree join); otherwise it is computed from the edges.
    Dangling mass (edges to nodes outside ``nodes``, or nodes with no
    in-links) follows the standard drop-and-baseline convention.
    """
    n_df = nodes.agg(F.count("*").alias("_n"))
    base = nodes.select(F.col(node_col).alias("node")).crossJoin(
        F.broadcast(n_df)
    )
    rank = base.select(
        "node", F.expr(f"CAST({SCALE} DIV _n AS BIGINT)").alias("rank")
    ).localCheckpoint(eager=True)

    if out_deg is None:
        deg = edges.groupBy(F.col(src_col).alias("node")).agg(
            F.count("*").alias("deg")
        )
        e = edges.select(F.col(src_col).alias("_src"), F.col(dst_col).alias("_dst")).join(
            deg, F.col("_src") == deg["node"]
        ).select("_src", "_dst", "deg")
    else:
        e = edges.select(
            F.col(src_col).alias("_src"),
            F.col(dst_col).alias("_dst"),
            F.lit(out_deg).alias("deg"),
        )

    for _ in range(iters):
        contrib = (
            e.join(rank, e["_src"] == rank["node"])
            .select(F.col("_dst").alias("node"), F.expr("rank DIV deg").alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("m"))
        )
        rank = (
            base.join(contrib, "node", "left")
            .select(
                "node",
                F.expr(
                    f"CAST(({D_DEN - D_NUM} * {SCALE}) DIV ({D_DEN} * _n) "
                    f"+ ({D_NUM} * coalesce(m, 0)) DIV {D_DEN} AS BIGINT)"
                ).alias("rank"),
            )
            .localCheckpoint(eager=True)
        )
    return rank


def triangle_counts(
    edges: DataFrame, src_col: str = "src", dst_col: str = "dst"
) -> DataFrame:
    """Per-node triangle counts over an UNDIRECTED simple graph given as
    an edge list (either direction, duplicates and self-loops tolerated
    — canonicalized internally).  Returns (node, n_triangles) for every
    node in at least one triangle.

    Algorithm (the distributed node-iterator++ / degree-ordered
    orientation): orient every canonical edge from the endpoint that is
    SMALLER in the total order (degree, id) to the larger.  Every
    wedge-center then has out-degree O(sqrt(m)) regardless of hub skew —
    a hub of degree d is the CENTER of no wedge unless both spokes have
    even higher degree, so the self-join that enumerates wedges is
    bounded by sum(outdeg^2) = O(m^1.5) total work, the classical bound,
    instead of the d^2 blow-up a raw adjacency self-join suffers on hot
    nodes.  Pipeline = 2 exchanges for degree + orientation, one
    self-join on the wedge center, one equi-join of wedges onto the
    oriented edge set to close them, and one count exchange per node —
    every join key is (node pair), never a crossJoin.

    The closing edge of a wedge (b, c) out of center a is oriented
    b -> c whenever the wedge enumerates spokes in orientation order
    (asserted by the strict rank inequality below), so closure is ONE
    equi-join on the pair — no OR-of-directions join condition.
    """
    u, v = F.col(src_col), F.col(dst_col)
    canon = (
        edges.where(u != v)
        .select(F.least(u, v).alias("a"), F.greatest(u, v).alias("b"))
        .dropDuplicates(["a", "b"])
    )
    deg = (
        canon.select(F.col("a").alias("node"))
        .unionAll(canon.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("_dega"))
    db = deg.select(F.col("node").alias("b"), F.col("deg").alias("_degb"))
    ranked = canon.join(da, "a").join(db, "b")
    # total order: (deg, id) — a precedes b iff (dega, a) < (degb, b)
    a_first = (F.col("_dega") < F.col("_degb")) | (
        (F.col("_dega") == F.col("_degb")) & (F.col("a") < F.col("b"))
    )
    oriented = ranked.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("lo"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("hi"),
        F.when(a_first, F.col("_dega")).otherwise(F.col("_degb")).alias("_dlo"),
        F.when(a_first, F.col("_degb")).otherwise(F.col("_dega")).alias("_dhi"),
    )
    e1 = oriented.select(
        F.col("lo").alias("ctr"), F.col("hi").alias("w1"),
        F.col("_dhi").alias("_d1"),
    )
    e2 = oriented.select(
        F.col("lo").alias("ctr"), F.col("hi").alias("w2"),
        F.col("_dhi").alias("_d2"),
    )
    # spokes in orientation order: (d1, w1) < (d2, w2) strictly — each
    # unordered wedge once, and the closing edge is oriented w1 -> w2
    wedges = e1.join(e2, "ctr").where(
        (F.col("_d1") < F.col("_d2"))
        | ((F.col("_d1") == F.col("_d2")) & (F.col("w1") < F.col("w2")))
    ).select("ctr", "w1", "w2")
    closing = oriented.select(F.col("lo").alias("w1"), F.col("hi").alias("w2"))
    tris = wedges.join(closing, ["w1", "w2"])
    per_node = (
        tris.select(F.col("ctr").alias("node"))
        .unionAll(tris.select(F.col("w1").alias("node")))
        .unionAll(tris.select(F.col("w2").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("n_triangles"))
    )
    return per_node


def cooccurrence_pairs(df: DataFrame, basket_col: str, item_col: str,
                       min_support: int = 3, k: int = 25) -> DataFrame:
    """Top-``k`` item pairs by basket co-occurrence — the market-basket
    affinity edge builder (parts ordered together, tags co-applied,
    tokens co-occurring per document).

    Shape for 100 TB: baskets collapse to ONE row each
    (``collect_set`` — the exchange is on the basket key, data-volume
    sized), pairs explode MAP-SIDE from the sorted item array
    (C(b,2) rows per basket, bounded by the basket width — never an
    item-table self-join), and the pair count aggregates with partial
    combine.  The final ranking is TakeOrderedAndProject over the
    ``min_support``-pruned pair table — no global window.  A degenerate
    mega-basket (a crawl bucket with 10^5 items) would explode C(10^5,2)
    pairs; production pipelines should pre-filter baskets to a width cap
    BEFORE this operator — the cap is a semantic choice (dropping a
    basket drops its pairs), so it is not silently applied here.

    Items are deduplicated per basket (set semantics: a basket containing
    an item twice supports a pair once) and pairs are emitted in sorted
    order (item_a < item_b).  Output:
    (item_a, item_b, n_baskets), ordered n_baskets DESC, item_a, item_b.
    """
    baskets = df.groupBy(basket_col).agg(
        F.array_sort(F.collect_set(item_col)).alias("items")
    )
    pairs = (
        baskets.where(F.size("items") >= 2)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(sequence(0, size(items) - 2), "
                    "i -> transform(sequence(i + 1, size(items) - 1), "
                    "j -> struct(items[i] AS item_a, items[j] AS item_b))))"
                )
            ).alias("p")
        )
        .select("p.item_a", "p.item_b")
    )
    return (
        pairs.groupBy("item_a", "item_b")
        .agg(F.count("*").alias("n_baskets"))
        .where(F.col("n_baskets") >= min_support)
        .orderBy(F.desc("n_baskets"), "item_a", "item_b")
        .limit(k)
    )


def common_neighbor_scores(edges: DataFrame, src: str = "src",
                           dst: str = "dst",
                           min_common: int = 1) -> DataFrame:
    """Common-neighbor link prediction over an undirected graph: for
    every NON-adjacent node pair sharing ≥ ``min_common`` neighbors,
    the common-neighbor count and Jaccard score |N(a)∩N(b)| /
    |N(a)∪N(b)| — the classic missing-link / entity-merge candidate
    generator (two suppliers serving the same customers, two documents
    citing the same sources).

    Shape for 100 TB: wedge pairs explode MAP-SIDE from each midpoint's
    sorted neighbor array (the :func:`cooccurrence_pairs` shape — a
    C(deg,2) explode bounded by the midpoint degree, never an
    edge-table self-join); the pair count aggregates with partial
    combine; existing edges leave via one anti-join on the canonical
    pair key; degrees join back on the node-sized degree table.  A hub
    of degree d contributes C(d,2) wedges — cap degrees upstream if
    the graph is scale-free (the same semantic-cap contract as
    ``cooccurrence_pairs``).

    Output: (node_a, node_b, n_common, deg_a, deg_b, jaccard) — the
    Jaccard denominator ``deg_a + deg_b − n_common`` counts each
    endpoint's OTHER edges too, per the standard neighborhood-Jaccard
    definition.  Integer columns are exact; the one double division is
    oracle-mirrorable."""
    a, b = F.least(F.col(src), F.col(dst)), F.greatest(F.col(src), F.col(dst))
    ce = (
        edges.where(F.col(src) != F.col(dst))
        .select(a.alias("a"), b.alias("b"))
        .distinct()
    )
    adj = ce.select(F.col("a").alias("node"), F.col("b").alias("nb")).union(
        ce.select(F.col("b").alias("node"), F.col("a").alias("nb"))
    )
    deg = adj.groupBy("node").agg(F.count("*").alias("degree"))
    nbrs = adj.groupBy("node").agg(
        F.array_sort(F.collect_set("nb")).alias("items")
    )
    wedges = (
        nbrs.where(F.size("items") >= 2)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(sequence(0, size(items) - 2), "
                    "i -> transform(sequence(i + 1, size(items) - 1), "
                    "j -> struct(items[i] AS u, items[j] AS v))))"
                )
            ).alias("p")
        )
        .select("p.u", "p.v")
    )
    cn = (
        wedges.groupBy("u", "v")
        .agg(F.count("*").alias("n_common"))
        .where(F.col("n_common") >= min_common)
    )
    non_edges = cn.join(
        ce, (cn["u"] == ce["a"]) & (cn["v"] == ce["b"]), "left_anti"
    )
    da = deg.select(F.col("node").alias("u"), F.col("degree").alias("deg_a"))
    db = deg.select(F.col("node").alias("v"), F.col("degree").alias("deg_b"))
    out = non_edges.join(da, "u").join(db, "v")
    return out.select(
        F.col("u").alias("node_a"), F.col("v").alias("node_b"),
        "n_common", "deg_a", "deg_b",
        (
            F.col("n_common").cast("double")
            / (F.col("deg_a") + F.col("deg_b") - F.col("n_common"))
            .cast("double")
        ).alias("jaccard"),
    )


def kcore(edges: DataFrame, k: int, src: str = "src", dst: str = "dst",
          max_iters: int = 30) -> DataFrame:
    """k-core decomposition membership: the maximal subgraph in which
    every node keeps degree ≥ ``k`` — the standard dense-community /
    spam-farm screen (a link ring survives peeling; organic periphery
    does not).

    Classic iterative peel: drop nodes with degree < k, drop their
    incident edges, repeat to fixpoint.  Each round is ONE degree
    aggregation + one semi-join back onto the edge set — the pagerank
    loop shape (driver-side bounded iteration, ``localCheckpoint``
    lineage truncation every round, one ``count()`` action as the
    fixpoint probe).  Convergence takes the peel depth of the graph
    (≪ ``max_iters`` for any real degree distribution) plus one
    confirming round, which may run past the cap: a graph of peel depth
    up to ``max_iters`` converges, a deeper one raises rather than
    return a non-fixpoint.

    Output: (node, core_degree) for every member of the k-core, with
    its degree INSIDE the core subgraph (≥ k by construction).
    Integer-only — bit-exact at any parallelism."""
    a = F.least(F.col(src), F.col(dst))
    b = F.greatest(F.col(src), F.col(dst))
    cur = (
        edges.where(F.col(src) != F.col(dst))
        .select(a.alias("a"), b.alias("b"))
        .distinct()
        .localCheckpoint()
    )
    n_edges = cur.count()
    for peels in range(max_iters + 1):
        deg = (
            cur.select(F.col("a").alias("node"))
            .union(cur.select(F.col("b").alias("node")))
            .groupBy("node")
            .agg(F.count("*").alias("deg"))
        )
        keep = deg.where(F.col("deg") >= k).select("node")
        nxt = (
            cur.join(keep.withColumnRenamed("node", "a"), "a", "left_semi")
            .join(keep.withColumnRenamed("node", "b"), "b", "left_semi")
            .select("a", "b")
            .localCheckpoint()
        )
        n_next = nxt.count()
        if n_next == n_edges:
            cur = nxt
            break
        if peels == max_iters:  # this round only confirms, yet it peeled
            raise RuntimeError(f"kcore: no fixpoint within {max_iters} rounds")
        cur, n_edges = nxt, n_next
    return (
        cur.select(F.col("a").alias("node"))
        .union(cur.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("core_degree"))
    )
