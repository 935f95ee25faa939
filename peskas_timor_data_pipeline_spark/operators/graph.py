"""Graph operators over edge-list DataFrames.

Connected components live in ``llm/cluster.py`` (recursive halving); this
module holds the rank-propagation family. Everything is expressed as
joins + partial-aggregated groupBys per iteration — the classic Spark
graph idiom (GraphX's Pregel is RDD-era; edge-list joins keep Catalyst,
AQE, and whole-stage codegen in play).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

NANO = 1_000_000_000


def pagerank_fixed_point(
    edges: DataFrame,
    src_col: str,
    dst_col: str,
    weight_col: str,
    n_iter: int = 3,
    damping_pct: int = 85,
) -> DataFrame:
    """Weighted PageRank in FIXED-POINT integer arithmetic: ranks are
    integers in nano-units (sum ~ 1e9), every per-edge contribution is
    ``(r_u * w_uv) div out_w_u`` and the damping update is
    ``base + (damping_pct * s_v) div 100`` — pure integer div/sum, so the
    result is bit-identical on any engine (an IEEE-float PageRank's
    per-node contribution sum is summation-order dependent, which flips
    discrete rankings between engines). The deliberate truncation loss is
    at most 1 nano-unit per edge per iteration — noise at rank scale 1e9.

    Dangling-node mass is dropped (the standard simplification; totals
    shrink slightly per iteration rather than redistributing).

    Scale shape per iteration: one broadcast-or-shuffle join of the rank
    frame (|V| rows) to the edge list on src, one partial-aggregated
    groupBy(dst), one outer join back to the node set. The weighted edge
    list and node set are MATERIALIZED once and each iteration's rank
    frame cuts its lineage too — without that, iteration k's plan
    re-derives the edge build k times over (the e17 power-iteration
    lesson; measured 16s -> 2s on the 5-node fixture graph). Contract:
    ``r_u * w_uv`` must stay under 2^63 — with nano-unit ranks that allows
    edge weights up to ~9e9. Weights are POSITIVE INTEGERS by contract:
    they are cast to long per edge before any summing, and edges whose
    truncated weight is <= 0 (fractional sub-1 weights, zeros, negatives)
    are dropped up front rather than poisoning out-weight sums.

    Returns (node, rank_nanos, n_iter).
    """
    from peskas_timor_data_pipeline_spark.llm.ckpt import (
        materialize,
        materialize_many,
    )

    src = edges.select(F.col(src_col).alias("node"))
    dst = edges.select(F.col(dst_col).alias("node"))
    # integer-weight-> 0 contract enforced up front: cast BEFORE summing
    # (summing fractional weights then truncating the total would count
    # mass the per-edge truncated __w__ never carries), and drop edges
    # whose truncated weight is <= 0 — out-weight sums are then always
    # positive, so no '__r__ * __w__ div __ow__' can NULL out and silently
    # drop a node's outgoing mass
    typed = edges.select(
        F.col(src_col).alias("__src__"),
        F.col(dst_col).alias("__dst__"),
        F.col(weight_col).cast("long").alias("__w__"),
    ).filter(F.col("__w__") > 0)
    out_w = typed.groupBy("__src__").agg(F.sum("__w__").alias("__ow__"))
    # the node set and the weighted edge list are independent edge-scale
    # passes — checkpoint them as concurrent jobs (guide §2.6)
    nodes, e = materialize_many(
        [src.union(dst).distinct(), typed.join(out_w, "__src__")]
    )
    n_nodes = nodes.count()
    if n_nodes == 0:
        # empty edge list: no nodes, no ranks — return the typed empty frame
        return nodes.select(
            "node",
            F.lit(None).cast("long").alias("rank_nanos"),
            F.lit(n_iter).alias("n_iter"),
        )
    base = (15 if damping_pct == 85 else 100 - damping_pct) * NANO // (100 * n_nodes)
    ranks = nodes.select("node", F.lit(NANO // n_nodes).cast("long").alias("__r__"))
    for _ in range(n_iter):
        ranks = materialize(ranks)
        contrib = (
            e.join(ranks.withColumnRenamed("node", "__src__"), "__src__")
            .select(
                F.col("__dst__").alias("node"),
                F.expr("__r__ * __w__ div __ow__").alias("__c__"),
            )
            .groupBy("node")
            .agg(F.sum("__c__").alias("__s__"))
        )
        ranks = nodes.join(contrib, "node", "left").select(
            "node",
            (
                F.lit(base)
                + F.expr(f"{damping_pct}L * coalesce(__s__, 0L) div 100L")
            ).cast("long").alias("__r__"),
        )
    return ranks.select(
        "node", F.col("__r__").alias("rank_nanos"), F.lit(n_iter).alias("n_iter")
    )


def triangle_count(
    edges: DataFrame, src_col: str, dst_col: str
) -> DataFrame:
    """Exact global triangle count via the DEGREE-ORDERED node-iterator
    (Schank & Wagner 2005; the MapReduce form is Suri & Vassilvitskii
    2011) — the only triangle algorithm that survives power-law graphs at
    scale: every undirected edge is oriented from its (degree, id)-smaller
    endpoint to the larger, which provably bounds each node's OUT-degree
    by O(sqrt(m)); the wedge-generating self-join then produces
    O(m^{3/2}) candidate wedges total instead of sum(deg^2) (quadratic in
    the max hub degree). A hub with 10^6 neighbors contributes zero
    wedges as a wedge CENTER unless its ordered out-degree earns it.

    Input is treated as an undirected simple graph: direction, self-loops
    and duplicate edges are normalized away first.

    Shape: one distinct on canonicalized edges, one degree aggregation
    (broadcast-or-shuffle joined back), the wedge self-join on the shared
    center key, and one semi-join of wedges against the directed edge set.
    Returns one row: (n_nodes, n_edges, n_triangles)."""
    und = (
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("a"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    from peskas_timor_data_pipeline_spark.llm.ckpt import materialize

    und = materialize(und)
    deg = (
        und.select(F.col("a").alias("n")).unionAll(und.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    directed = materialize(
        und.join(deg.withColumnRenamed("n", "a").withColumnRenamed("d", "da"), "a")
        .join(deg.withColumnRenamed("n", "b").withColumnRenamed("d", "db"), "b")
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
    wedges = (
        directed.select(F.col("u").alias("c"), F.col("v").alias("x"))
        .join(
            directed.select(F.col("u").alias("c"), F.col("v").alias("y")),
            "c",
        )
        .filter(F.col("x") < F.col("y"))
    )
    tri = wedges.join(
        directed.select(
            F.col("u").alias("x"), F.col("v").alias("y")
        ).unionAll(
            directed.select(F.col("v").alias("x"), F.col("u").alias("y"))
        ),
        ["x", "y"],
        "left_semi",
    )
    # node/edge totals ride the SAME action as broadcast 1-row subtrees
    # instead of two sequential driver count() jobs — both aggregate the
    # already-checkpointed `und`, and inside one job their stages overlap
    # with the wedge join rather than serializing before it
    n_nodes = deg.agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
    n_edges = und.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    return (
        tri.agg(F.count(F.lit(1)).alias("n_triangles"))
        .crossJoin(F.broadcast(n_nodes))
        .crossJoin(F.broadcast(n_edges))
        .select(
            "n_nodes",
            "n_edges",
            F.col("n_triangles").cast("long"),
        )
    )


def k_core(
    edges: DataFrame,
    src_col: str,
    dst_col: str,
    k: int,
    n_rounds: int = 4,
) -> DataFrame:
    """k-core peeling (Seidman 1983) over an undirected simple graph:
    repeatedly delete nodes of degree < k; what survives ``n_rounds``
    rounds is (a superset converging to) the k-core — the standard dense
    subgraph primitive for spam-farm / boilerplate-hub detection in link
    graphs and for trimming weakly-connected noise before community
    passes. The round count is PINNED (not run-to-fixpoint) so any two
    engines replay the identical prefix of the peeling sequence; each
    round removes a monotone set, so n_rounds only truncates convergence,
    never changes what the converged core would be.

    Scale shape per round: one partial-aggregated degree groupBy on the
    surviving edge list and two semi-joins (src-alive, dst-alive) — all on
    the same node key, no cartesian anywhere; the surviving edge frame is
    materialized each round to cut the k-deep lineage (the g1 lesson).
    Degree-0 isolation is implicit: a node with no surviving edge simply
    stops appearing.

    Input is normalized to undirected-simple first (direction, self-loops,
    duplicates dropped). Returns the surviving nodes as
    (node, degree, k, n_rounds).
    """
    from peskas_timor_data_pipeline_spark.llm.ckpt import materialize

    e = materialize(
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("a"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    for _ in range(n_rounds):
        deg = (
            e.select(F.col("a").alias("n"))
            .unionAll(e.select(F.col("b").alias("n")))
            .groupBy("n")
            .agg(F.count(F.lit(1)).alias("d"))
        )
        alive = deg.filter(F.col("d") >= k).select("n")
        e = materialize(
            e.join(alive.withColumnRenamed("n", "a"), "a", "left_semi")
            .join(alive.withColumnRenamed("n", "b"), "b", "left_semi")
        )
    deg = (
        e.select(F.col("a").alias("node"))
        .unionAll(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    return deg.filter(F.col("degree") >= k).select(
        "node",
        F.col("degree").cast("long").alias("degree"),
        F.lit(k).cast("int").alias("k"),
        F.lit(n_rounds).cast("int").alias("n_rounds"),
    )


def label_propagation(
    edges: DataFrame,
    src_col: str,
    dst_col: str,
    n_rounds: int = 3,
) -> DataFrame:
    """Deterministic synchronous label propagation (Raghavan et al. 2007
    made engine-replayable): labels start as the node id; each round every
    node adopts its neighbors' most frequent label, ties broken by the
    SMALLEST label — the two determinism pins (synchronous update + total
    tie order) that turn LPA's usual run-to-run jitter into a pure
    function of the graph. Round count is PINNED like :func:`k_core`.
    Unlike connected components, LPA can split a component into several
    communities — it is the cheap community primitive for near-dup
    cluster refinement and link-farm grouping.

    Scale shape per round: one edge->label equi-join (labels frame is
    |V| rows), one (node, label) partial-aggregated count, one rank-1
    window per node (bounded by the node's distinct neighbor labels) —
    no cartesian; the label frame is materialized per round to cut the
    k-deep lineage. Nodes exist only as endpoints of non-self-loop
    edges: a node with no such edge (isolated, or self-loops only)
    does not appear in the output at all — singleton communities are
    the caller's complement set, not rows here.

    Returns (node, label, n_rounds).
    """
    from pyspark.sql.window import Window

    from peskas_timor_data_pipeline_spark.llm.ckpt import materialize

    und = edges.select(
        F.least(F.col(src_col), F.col(dst_col)).alias("a"),
        F.greatest(F.col(src_col), F.col(dst_col)).alias("b"),
    ).filter(F.col("a") != F.col("b")).distinct()
    und = materialize(und)
    both = und.select(F.col("a").alias("u"), F.col("b").alias("v")).unionAll(
        und.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    nodes = both.select(F.col("u").alias("node")).distinct()
    labels = nodes.select("node", F.col("node").alias("label"))
    w = Window.partitionBy("node").orderBy(
        F.col("__c__").desc(), F.col("label").asc()
    )
    for _ in range(n_rounds):
        labels = materialize(labels)
        nbr = both.join(
            labels.withColumnRenamed("node", "u"), "u"
        ).select(F.col("v").alias("node"), "label")
        voted = (
            nbr.groupBy("node", "label")
            .agg(F.count(F.lit(1)).alias("__c__"))
            .withColumn("__rn__", F.row_number().over(w))
            .filter(F.col("__rn__") == 1)
            .select("node", "label")
        )
        # every non-isolated node has >= 1 neighbor vote, so the vote
        # frame covers all of `nodes`; keep the select explicit anyway
        labels = voted
    return labels.select(
        "node", "label", F.lit(n_rounds).cast("int").alias("n_rounds")
    )


def k_truss(
    edges: DataFrame,
    src_col: str,
    dst_col: str,
    k: int,
    n_rounds: int = 3,
) -> DataFrame:
    """k-truss peeling (Cohen 2008) over an undirected simple graph:
    repeatedly delete edges whose SUPPORT (number of triangles through
    the edge) is below k-2; the k-truss is a strictly stronger cohesion
    filter than the k-core (every k-truss edge sits inside k-2 triangle
    witnesses) — the standard community-kernel / spam-clique primitive.
    Round count is PINNED like k_core's: both engines replay the same
    peeling prefix; each round removes a monotone edge set, so truncation
    only delays convergence, never changes the fixpoint.

    Scale shape per round: triangles are enumerated once on the surviving
    a<b edge list via the degree-oriented wedge join idiom (e1.b == e2.a
    plus the closing-edge equi-join — every join is an equi-join on node
    keys, no cartesian), exploded to their three member edges and
    partial-agg counted; the peeled edge list is materialized per round
    to cut the lineage (the g1/g3 lesson). Per-round cost is the triangle
    count's, which the surviving subgraph only shrinks.

    Returns the edges surviving ``n_rounds`` peels as
    (a, b, support, k, n_rounds) — ``support`` is the value that
    justified the final keep (computed on the round-(n-1) survivor set,
    the well-defined pinned-prefix semantics).
    """
    from peskas_timor_data_pipeline_spark.llm.ckpt import materialize

    e = materialize(
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("a"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    sup = None
    for _ in range(n_rounds):
        tri = (
            e.select(F.col("a").alias("x"), F.col("b").alias("y"))
            .join(
                e.select(F.col("a").alias("y"), F.col("b").alias("z")), "y"
            )
            .join(
                e.select(F.col("a").alias("x"), F.col("b").alias("z")),
                ["x", "z"],
                "left_semi",
            )
        )
        member = tri.select(
            F.explode(
                F.array(
                    F.struct(F.col("x").alias("a"), F.col("y").alias("b")),
                    F.struct(F.col("y").alias("a"), F.col("z").alias("b")),
                    F.struct(F.col("x").alias("a"), F.col("z").alias("b")),
                )
            ).alias("__e__")
        ).select("__e__.a", "__e__.b")
        counts = member.groupBy("a", "b").agg(
            F.count(F.lit(1)).alias("support")
        )
        scored = e.join(counts, ["a", "b"], "left").select(
            "a", "b", F.coalesce("support", F.lit(0)).alias("support")
        )
        # one materialize per round holds both the next round's edge list
        # and the surviving support values (no re-run of the triangle
        # pass at action time)
        sup = materialize(scored.filter(F.col("support") >= k - 2))
        e = sup.select("a", "b")
    return sup.select(
        "a",
        "b",
        F.col("support").cast("long").alias("support"),
        F.lit(k).cast("int").alias("k"),
        F.lit(n_rounds).cast("int").alias("n_rounds"),
    )


def link_prediction_scores(
    edges: DataFrame,
    src_col: str,
    dst_col: str,
    top_r: int = 50,
    max_center_degree: int | None = None,
) -> DataFrame:
    """Common-neighbors + Adamic-Adar link prediction (Liben-Nowell &
    Kleinberg 2003) over an undirected simple graph: score every
    NON-adjacent pair (x, y) that shares at least one neighbor and keep
    the global top ``top_r`` — the classic "people you may know" /
    co-purchase-recommendation primitive.

    Scale shape: candidate pairs are generated as wedges through their
    common neighbor c (one self-equi-join on the center key — no
    cartesian), existing edges are removed with one anti-join, and both
    scores aggregate per pair with map-side partial aggregation. Wedge
    fan-out is quadratic in the CENTER degree, so hubs dominate cost
    while contributing the least signal (AA weights a center by
    1/ln(deg)); ``max_center_degree`` drops centers above the threshold
    before the wedge join — the standard documented-estimator-bias
    escape hatch at crawl scale (exact when every degree is under the
    cap, as fixture graphs are).

    Determinism: the Adamic-Adar term of EACH center is rounded to
    integer micro-units (floor(1e6/ln d + 0.5)) before the per-pair sum,
    so the aggregate is an order-independent BIGINT sum — the same
    exact-integer-aggregation rule every hashed float sum in this repo
    follows (SURVEY §7.4). Global top-R goes through a single
    sort+limit (TakeOrderedAndProject), never a global window.

    Returns (x, y, common_neighbors, aa_micro) — the top_r best pairs
    by (common_neighbors DESC, aa_micro DESC, x, y).
    """
    from peskas_timor_data_pipeline_spark.llm.ckpt import materialize

    und = materialize(
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("a"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = (
        und.select(F.col("a").alias("n"))
        .unionAll(und.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    # adjacency oriented both ways, carrying the center's AA micro-weight
    adj = (
        und.select(F.col("a").alias("c"), F.col("b").alias("x"))
        .unionAll(und.select(F.col("b").alias("c"), F.col("a").alias("x")))
        .join(deg.withColumnRenamed("n", "c"), "c")
    )
    if max_center_degree is not None:
        adj = adj.filter(F.col("d") <= F.lit(max_center_degree))
    # materialized: both wedge sides read it (the g1/g3 lineage lesson)
    adj = materialize(
        adj.withColumn(
            "aa_w",
            F.when(
                F.col("d") > 1,
                F.floor(
                    F.lit(1_000_000.0) / F.log(F.col("d").cast("double")) + 0.5
                ),
            )
            .otherwise(F.lit(0))
            .cast("long"),
        ).select("c", "x", "aa_w")
    )
    wedges = (
        adj.select("c", F.col("x").alias("u"), "aa_w")
        .join(adj.select("c", F.col("x").alias("v")), "c")
        .filter(F.col("u") < F.col("v"))
    )
    cand = wedges.join(
        und.select(F.col("a").alias("u"), F.col("b").alias("v")),
        ["u", "v"],
        "left_anti",
    )
    scored = cand.groupBy("u", "v").agg(
        F.count(F.lit(1)).alias("common_neighbors"),
        F.sum("aa_w").alias("aa_micro"),
    )
    return (
        scored.select(
            F.col("u").alias("x"),
            F.col("v").alias("y"),
            F.col("common_neighbors").cast("long").alias("common_neighbors"),
            F.col("aa_micro").cast("long").alias("aa_micro"),
        )
        .orderBy(
            F.desc("common_neighbors"), F.desc("aa_micro"), "x", "y"
        )
        .limit(top_r)
    )


def pointer_jump_closure(
    nodes: DataFrame,
    node_col: str,
    parent_col: str,
    n_rounds: int = 5,
) -> DataFrame:
    """Rooted-forest transitive closure by POINTER JUMPING (the classic
    PRAM doubling trick; Vishkin 1984): each round every node replaces
    its current ancestor pointer with that ancestor's pointer and adds
    the two path lengths, so the known-ancestor distance DOUBLES per
    round — depth-d hierarchies (org charts, BOM trees, category trees,
    reply threads) flatten in ceil(log2 d) shuffles instead of the d
    self-joins of naive recursion. This is the reason the operator
    exists on Spark: a 1M-deep chain is 20 equi-joins, not 1M.

    Contract: roots are rows whose parent equals the node itself (a
    self-loop); ``n_rounds`` is PINNED, resolving ancestors up to depth
    2**n_rounds (deeper nodes report their 2**n_rounds-step ancestor and
    resolved=false) — the same pinned-prefix determinism rule as
    k_core/k_truss/label_propagation. Each round's state is materialized
    to cut lineage (the g1/g3 lesson; without it round r re-runs rounds
    1..r-1 at action time).

    Returns (node, root, depth, resolved): ``root`` the resolved
    ancestor, ``depth`` the path length to it (0 for roots).
    """
    from peskas_timor_data_pipeline_spark.llm.ckpt import materialize

    state = materialize(
        nodes.select(
            F.col(node_col).alias("node"),
            F.col(parent_col).alias("anc"),
            F.when(F.col(node_col) == F.col(parent_col), F.lit(0))
            .otherwise(F.lit(1))
            .cast("long")
            .alias("dist"),
        )
    )
    for _ in range(n_rounds):
        hop = state.select(
            F.col("node").alias("anc"),
            F.col("anc").alias("anc2"),
            F.col("dist").alias("dist2"),
        )
        # left join: a dangling parent (anc outside the node set) freezes
        # in place instead of silently dropping the subtree
        state = materialize(
            state.join(hop, "anc", "left")
            .select(
                "node",
                F.coalesce(F.col("anc2"), F.col("anc")).alias("anc"),
                (F.col("dist") + F.coalesce(F.col("dist2"), F.lit(0))).alias(
                    "dist"
                ),
            )
        )
    # a node is resolved iff its final ancestor's own pointer is a
    # self-loop — one more equi-join on the same key, no broadcast
    # assumption about the root count (forests can have many roots)
    anc_state = state.select(
        F.col("node").alias("anc"), F.col("anc").alias("anc_anc")
    )
    return state.join(anc_state, "anc", "left").select(
        "node",
        F.col("anc").alias("root"),
        F.col("dist").alias("depth"),
        F.coalesce(F.col("anc_anc") == F.col("anc"), F.lit(False)).alias(
            "resolved"
        ),
    )


def hits_scores(
    edges: DataFrame,
    src_col: str,
    dst_col: str,
    n_rounds: int = 3,
    top_r: int = 25,
) -> DataFrame:
    """HITS hubs-and-authorities (Kleinberg 1999) over a directed edge
    list — the complement of PageRank (g1) for BIPARTITE-flavored
    graphs: on a customer->product graph, authority ranks products by
    how strong their buyers are, hub ranks buyers by how authoritative
    their products are; the same pair drives query->document and
    crawler seed-page scoring.

    Determinism contract (the g1 convention): scores live in integer
    NANO units. Each half-round is one partial-aggregated BIGINT sum
    over the edge list followed by max-normalization via exact integer
    division (``div``; all values non-negative, so the truncate-vs-
    floor engine divergence cannot bite) — no float ever enters the
    iteration, so both engines replay identical integers. ``n_rounds``
    is PINNED like k_core/LPA. The normalization numerator raw*1e9 runs
    in DECIMAL(38,0) (a BIGINT numerator would cap max in-degree at 9 —
    the a39/r07 overflow class, caught before it shipped); the divide is
    integral ``div``, emitting a <=1e9 BIGINT score.

    Shape per round: two equi-joins + two partial-agg groupBys on the
    edge endpoints (authority pass then hub pass), each normalized
    against a 1-row broadcast max; edge frame materialized once. Final
    top-``top_r`` per side via sort+limit (TakeOrderedAndProject).

    Returns (side 'hub'|'authority', node, score_nano) — the top_r
    best per side by (score desc, node asc).
    """
    from peskas_timor_data_pipeline_spark.llm.ckpt import materialize

    e = materialize(
        edges.select(
            F.col(src_col).alias("s"), F.col(dst_col).alias("d")
        ).distinct()
    )
    hubs = e.select(F.col("s").alias("n")).distinct().select(
        "n", F.lit(NANO).cast("long").alias("h")
    )
    auth = None
    # Each half-round materializes the RAW edge-scale sum, not the
    # normalized frame: the raw aggregate is referenced twice (once by the
    # max scalar, once by the normalize projection), and checkpointing it
    # first means the join+groupBy's reduce side runs once per half-round
    # instead of once per reference. The normalize itself — a broadcast
    # crossJoin of a 1-row max over the checkpointed raw frame — stays
    # lazy; its next-half-round consumer replays only that cheap
    # projection, never the edge-scale aggregate.
    # Measured r12: running the fixed-round loop fully lazy on small edge
    # sets (one job, hoping for Exchange reuse across each half-round's
    # doubled references) EXPLODED — 67 -> 149 stages, action 0.36 -> 10.5 s
    # at sf0.1; under AQE the duplicated aggregate subtrees do not share
    # stages. The per-half-round eager checkpoint stays unconditional.
    for _ in range(n_rounds):
        a_raw = materialize(
            e.join(hubs.withColumnRenamed("n", "s"), "s")
            .groupBy("d")
            .agg(F.sum("h").alias("a_raw"))
        )
        a_max = a_raw.agg(F.max("a_raw").alias("m"))
        auth = a_raw.crossJoin(F.broadcast(a_max)).select(
            F.col("d").alias("n"),
            F.expr(
                f"CAST((CAST(a_raw AS DECIMAL(38,0)) * {NANO}L)"
                f" div CAST(m AS DECIMAL(38,0)) AS BIGINT)"
            ).alias("a"),
        )
        h_raw = materialize(
            e.join(auth.withColumnRenamed("n", "d"), "d")
            .groupBy("s")
            .agg(F.sum("a").alias("h_raw"))
        )
        h_max = h_raw.agg(F.max("h_raw").alias("m"))
        hubs = h_raw.crossJoin(F.broadcast(h_max)).select(
            F.col("s").alias("n"),
            F.expr(
                f"CAST((CAST(h_raw AS DECIMAL(38,0)) * {NANO}L)"
                f" div CAST(m AS DECIMAL(38,0)) AS BIGINT)"
            ).alias("h"),
        )
    top_h = (
        hubs.select(
            F.lit("hub").alias("side"), "n",
            F.col("h").alias("score_nano"),
        )
        .orderBy(F.desc("score_nano"), "n")
        .limit(top_r)
    )
    top_a = (
        auth.select(
            F.lit("authority").alias("side"), "n",
            F.col("a").alias("score_nano"),
        )
        .orderBy(F.desc("score_nano"), "n")
        .limit(top_r)
    )
    return top_h.unionAll(top_a).select(
        "side", F.col("n").alias("node"), "score_nano"
    )
