"""Duplicate-cluster resolution: connected components over near-dup pairs.

After MinHash-LSH (or embedding) pairing, duplicate GROUPS must be
resolved so each cluster keeps one canonical document. Pairs form a graph;
components are computed by min-label propagation ACCELERATED with pointer
jumping: each round every node first adopts the smallest label within one
hop, then short-circuits through its label's label
(``label <- label(label)``), which at least halves the depth of every
label-forest path per round. Convergence is O(log(diameter)) rounds — a
million-node duplicate chain resolves in ~20 — and the loop runs to an
observed fixed point (a full round changing no label), raising instead of
silently returning split components if the cap is ever hit.

All rounds are shuffle-on-key joins — no driver-side graph, scales to
billions of edges. (GraphFrames does the same thing; this avoids the
dependency.) Each round materializes ONE frame (eager checkpoint) and the
convergence flag rides inside it, so checking costs a near-free scan of
checkpointed partitions, not a recompute. Every cut goes through
``llm.ckpt``: on cluster runs set the session's ``ckpt.LOCATION_KEY`` so
each cut is a reliable checkpoint and a lost executor costs a re-read
instead of the job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from peskas_timor_data_pipeline_spark.llm import ckpt
from peskas_timor_data_pipeline_spark.llm.ckpt import materialize


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 50,
) -> DataFrame:
    """(node, component) for every node in ``pairs``; component = min node
    id in the component. Runs until a full round changes no label; raises
    ``RuntimeError`` if ``max_iter`` rounds don't reach that fixed point
    (with pointer jumping the cap covers diameters ~2^max_iter, so hitting
    it means something is genuinely wrong — never return wrong labels)."""
    edges = materialize(
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .unionByName(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .distinct()
    )
    # Size gate (r12, guide §5): the per-round lineage cut stays — the
    # plan-verified r11 win (hop aggregate's reduce side runs once per
    # round) — but its EAGERNESS follows the measured edge bytes, so toy
    # inputs stop paying a driver-blocking job per round. With a
    # checkpoint location set every cut is eager and reliable anyway.
    eager = ckpt.materialized_is_big(edges)
    labels = (
        edges.groupBy("src")
        .agg(F.min("dst").alias("nbr_min"))
        .select(
            F.col("src").alias("node"),
            F.least("src", "nbr_min").alias("component"),
        )
    )
    for _ in range(max_iter):
        # hop: min over neighbors' current labels
        nbr = edges.join(labels, edges.dst == labels.node).select(
            edges.src.alias("node"), F.col("component")
        )
        # min-ignores-nulls carries each node's previous label through the
        # same aggregate that merges hop candidates — no extra join for the
        # convergence check. The hop aggregate (the edge-scale shuffle, the
        # round's dominant cost) is materialized HERE, before the jump
        # self-join: both sides of that join read the checkpointed frame,
        # so the aggregate's reduce side runs once per round, not once per
        # join side. The jump itself stays lazy — a node-scale self-join
        # of checkpointed data, cheap to replay for its two round-(r+1)
        # consumers, far cheaper than re-running the edge-scale hop.
        prop = ckpt.cut(
            labels.select("node", "component", F.col("component").alias("__old__"))
            .unionByName(
                nbr.withColumn(
                    "__old__", F.lit(None).cast(nbr.schema["component"].dataType)
                )
            )
            .groupBy("node")
            .agg(
                F.min("component").alias("component"),
                F.min("__old__").alias("__old__"),
            )
            .withColumn("__changed__", F.col("component") != F.col("__old__")),
            eager,
        )
        # Convergence is checked on the POST-HOP labels: with symmetrized
        # edges and monotone non-increasing labels, hop-fixed-point ⟺
        # jump-fixed-point (post-jump ≤ post-hop ≤ pre-round pointwise, so
        # either equality squeezes the other; and a hop fixed point means
        # labels are equal across every edge, making label(label) the
        # identity). Same stopping round, same returned labels as checking
        # post-jump — and the detection round skips its jump join outright.
        changed = prop.filter(F.col("__changed__")).limit(1).count()
        if changed == 0:
            return prop.select("node", "component")
        # jump: label <- min(label, label(label)) halves path depth; the
        # left join keeps root nodes (whose label is themselves or a node
        # with no better label) intact
        tgt = prop.select(
            F.col("node").alias("__t__"), F.col("component").alias("__tc__")
        )
        labels = (
            prop.join(tgt, prop.component == tgt.__t__, "left")
            .select(
                "node",
                F.least(
                    F.col("component"), F.coalesce(F.col("__tc__"), F.col("component"))
                ).alias("component"),
            )
        )
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds; "
        "the pair graph is deeper than 2^max_iter hops or labels are cycling "
        "- refusing to return split components"
    )


def resolve_duplicates(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str,
) -> DataFrame:
    """Keep one canonical doc per near-dup cluster (the min id), mark the
    rest. Docs in no pair are their own canonical. Adds ``canonical_id``
    and ``is_duplicate``."""
    comp = connected_components(pairs).withColumnRenamed("node", id_col)
    joined = docs.join(comp, id_col, "left")
    return joined.withColumn(
        "canonical_id", F.coalesce("component", F.col(id_col))
    ).withColumn(
        "is_duplicate", F.col("canonical_id") != F.col(id_col)
    ).drop("component")


def cluster_safe_split(
    docs: DataFrame,
    id_col: str,
    components: DataFrame,
    train_pct: int = 90,
    val_pct: int = 5,
    salt: str = "split42",
) -> DataFrame:
    """Leakage-safe train/val/test split: the split draw is taken per
    near-dup COMPONENT (its canonical min-id), not per document, so two
    near-duplicates can never straddle the train/eval boundary — the
    contamination channel a cluster-blind random split leaves open (the
    eval doc's near-copy sits in train and inflates the score; the
    cluster-aware split is the standard fix, cf. the dedup-before-eval
    discipline of Lee et al. 2021). Docs in no component are their own
    singleton cluster.

    The draw is integer-exact: 48-bit md5 prefix of (salt, canonical id)
    mod 100 against cumulative percent cutoffs — no RNG, no floats,
    reproducible bit-for-bit on any engine (the t41/A-Res discipline).

    Scale shape: one left join of docs to the (node, component) frame
    (both keyed by id — co-partitioned after the components shuffle) and
    a narrow map; the components frame itself comes from the LSH pair
    graph, which is linear post-banding.

    Returns (id, canonical_id, split) with split in train/val/test."""
    comp = components.select(
        F.col("node").alias(id_col), F.col("component").alias("__comp__")
    )
    bucket = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "#", F.lit(salt), F.col("canonical_id").cast("string")
                    )
                ),
                1, 12,
            ),
            16, 10,
        ).cast("long")
        % 100
    )
    return (
        docs.select(id_col)
        .join(comp, id_col, "left")
        .select(
            id_col,
            F.coalesce("__comp__", F.col(id_col)).alias("canonical_id"),
        )
        .select(
            id_col,
            "canonical_id",
            F.when(bucket < train_pct, "train")
            .when(bucket < train_pct + val_pct, "val")
            .otherwise("test")
            .alias("split"),
        )
    )


def connected_components_star(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 50,
) -> DataFrame:
    """(node, component) via ALTERNATING large-star / small-star
    contraction (Kiveris et al. 2014, "Connected Components in MapReduce
    and Beyond") — the peer of :func:`connected_components` for graphs
    where label propagation's weakness shows: large-star hangs every
    node's larger neighbors directly off its neighborhood minimum and
    small-star re-hangs the smaller ones, so path-shaped components
    contract in O(log n) rounds REGARDLESS of diameter, with edge count
    monotonically non-increasing (label propagation + pointer jumping
    matches the round bound but keeps the full edge set live every round;
    star contraction SHRINKS the working set as it converges, which is
    the difference between rounds over billions of edges and rounds over
    the surviving skeleton).

    Round = large-star then small-star, each ONE symmetric-neighborhood
    aggregation (groupBy(u): neighborhood min) joined back — shuffle on
    node id, no driver-side graph. Converges when the canonical edge set
    reaches a fixed point (stars only); components then read directly off
    the final star edges. Deterministic: min-id centers, same component
    labels as :func:`connected_components` (property-tested equal).

    Use :func:`connected_components` for near-dup clusters (tiny
    diameters, constant rounds); prefer this form for adversarial /
    unknown topologies — long chains, huge sparse components.

    Runs that are not single-node should set the session's
    ``ckpt.LOCATION_KEY``. The node set derives lazily from the first
    edges checkpoint and is read only after the loop converges; without a
    location that checkpoint is a local one, whose blocks an executor loss
    takes with it, and the truncated lineage cannot recompute them for
    the final labeling join."""
    canon = (
        pairs.select(
            F.least(F.col(id_a), F.col(id_b)).alias("a"),
            F.greatest(F.col(id_a), F.col(id_b)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    edges = materialize(canon)
    # nodes derive LAZILY from the checkpointed edges (r12): same values
    # as distinct-over-canon, but canon is computed once (inside the edges
    # checkpoint) instead of twice, and the node set's only consumer is
    # the final labeling join after convergence — an upfront eager job
    # bought nothing at any scale. The initial edges frame is pinned here
    # so the reference survives the loop's reassignment.
    edges0 = edges
    nodes = (
        edges0.select(F.col("a").alias("node"))
        .unionByName(edges0.select(F.col("b").alias("node")))
        .distinct()
    )
    # Same size gate as connected_components: per-round lineage cuts stay
    # (bounded plans, single edge-scale pass per star phase at scale) but
    # only block on checkpoint jobs when the edge set is actually big.
    eager = ckpt.materialized_is_big(edges)

    def _sym(e: DataFrame) -> DataFrame:
        return e.select(F.col("a").alias("u"), F.col("b").alias("v")).unionByName(
            e.select(F.col("b").alias("u"), F.col("a").alias("v"))
        )

    for _ in range(max_iter):
        # LARGE-STAR: per node u, m = min(neighborhood ∪ {u}); every
        # strictly-larger neighbor re-hangs onto m
        sym = _sym(edges)
        mins = sym.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        # materialized (r11, the batch-3 CC/HITS lesson): the small-star
        # phase references `large` FOUR times (twice in _sym, again via
        # smins, again in the re-hang join) — unmaterialized, only the
        # distinct's Exchange is reused and the post-shuffle dedup plus
        # the join ran once per reference inside the small-star job
        large = ckpt.cut(
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(
                F.least(F.col("v"), F.col("m")).alias("a"),
                F.greatest(F.col("v"), F.col("m")).alias("b"),
            )
            .filter(F.col("a") != F.col("b"))
            .distinct(),
            eager,
        )
        # SMALL-STAR: per node u over its SMALLER neighbors N≤ = {v <= u},
        # m = min(N≤ ∪ {u}); re-hang N≤ ∪ {u} \ {m} onto m
        ssym = _sym(large).filter(F.col("v") < F.col("u"))
        smins = ssym.groupBy("u").agg(F.min("v").alias("m"))
        small = (
            ssym.join(smins, "u")
            .select(
                F.explode(
                    F.array(
                        F.struct(F.col("v").alias("x"), F.col("m")),
                        F.struct(F.col("u").alias("x"), F.col("m")),
                    )
                ).alias("e")
            )
            .select(
                F.least(F.col("e.x"), F.col("e.m")).alias("a"),
                F.greatest(F.col("e.x"), F.col("e.m")).alias("b"),
            )
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )
        edges = ckpt.cut(small, eager)
        # convergence = the edge set is a DISJOINT union of min-rooted
        # stars, which (with every edge canonical a < b) holds exactly
        # when (1) no edge's smaller endpoint appears as some other
        # edge's larger endpoint — kills chains — AND (2) no larger
        # endpoint hangs under two distinct roots — kills shared leaves
        # like {(1,4),(2,4)}, which the chain probe alone calls flat but
        # which the next small-star round still rewrites (node 4 would be
        # emitted under BOTH components; found by ADVICE r05 on the
        # zig-zag path 2-4-5-6-1). Disjoint stars are fixed points of
        # both operations, so flat ⇒ converged. One probe job: group the
        # larger endpoints, flag multiplicity or appearance as a root.
        a_side = (
            edges.select(F.col("a").alias("x"))
            .distinct()
            .withColumn("__isroot__", F.lit(1))
        )
        not_flat = (
            edges.groupBy(F.col("b").alias("x"))
            .agg(F.count(F.lit(1)).alias("nb"))
            .join(a_side, "x", "left")
            .filter((F.col("nb") > 1) | F.col("__isroot__").isNotNull())
            .limit(1)
            .count()
        )
        if not_flat == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components_star did not converge in {max_iter} rounds"
        )
    # fixed point = disjoint stars: component of b is a, centers label
    # themselves, isolated-in-pairs nodes (every input node appears in
    # some original pair) label via the left join
    comp = edges.select(F.col("b").alias("node"), F.col("a").alias("component"))
    return (
        nodes.join(comp, "node", "left")
        .select(
            "node", F.coalesce("component", F.col("node")).alias("component")
        )
    )
