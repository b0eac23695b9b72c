"""Graph analytics over DataFrame edge lists.

Connected components (min-label propagation) lives with the dedup
family (``dedup.dup_clusters``); this module holds the rank/centrality
side. Spark-first: every iteration is ONE edge-partitioned equi-join +
ONE destination-keyed aggregate — the Pregel superstep expressed as
DataFrame ops, no RDDs, no driver-side adjacency.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.scalars import q6


def _q9(c):
    return F.floor(c * 1e9 + F.lit(0.5)) / 1e9


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = None,
    damping: float = 0.85,
    iters: int = 10,
) -> DataFrame:
    """Weighted PageRank on a directed edge list — the centrality
    primitive behind "which page/state/entity matters" over transition
    graphs (pairs with ``stats.transition_matrix``, whose counts are a
    ready-made weighted edge list).

    Per iteration: contributions = ranks ⋈ edges on ``src`` (edge-
    partitioned equi-join; the rank table is node-sized, the edge table
    never re-shuffles once partitioned by src) → sum per ``dst`` (one
    hash agg) → add the teleport term and the dangling-node mass
    (nodes with no out-edges redistribute uniformly; their total is a
    scalar agg, corpus-size-independent). Ranks are q9-quantized every
    iteration — the kmeans/classifier determinism discipline — so
    float-sum ordering cannot drift between engines or partitionings.

    Each superstep ends in ``localCheckpoint`` (cf. dedup.dup_clusters):
    the rank frame is referenced twice next round (contributions AND the
    dangling-mass scalar), so without lineage truncation the lazy plan
    doubles per iteration. Superseded checkpoints are unpersisted as the
    loop advances (engine.CheckpointTracker — Dataset.unpersist() does
    NOT free localCheckpoint blocks); exactly ONE node-sized checkpoint
    (the returned ranks) stays pinned until the caller drops the
    session or frees it. Returns (node, rank_q6).
    """
    from ..engine import CheckpointTracker

    ckpts = CheckpointTracker(edges.sparkSession)
    w = F.col(weight).cast("double") if weight else F.lit(1.0)
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"), w.alias("w"))
    out_tot = e.groupBy("src").agg(F.sum("w").alias("out_w"))
    # edge transition fraction: exact same two numbers in any engine
    frac = e.join(out_tot, "src").select(
        "src", "dst", (F.col("w") / F.col("out_w")).alias("p")
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    # pin loop-invariant frames BEFORE the node count so the count (and
    # every later consumer) reads the checkpoint instead of re-running
    # the caller's edge derivation; has_out was the straggler — unpinned,
    # its upstream groupBy re-executed inside every iteration's
    # dangling-mass anti-join (r12 sweep finding, same class as the
    # dup_clusters edge pipeline)
    frac = ckpts.ckpt(frac, pin=True)
    nodes = ckpts.ckpt(nodes, pin=True)
    has_out = ckpts.ckpt(
        out_tot.select(F.col("src").alias("node")), pin=True
    )
    n_nodes = nodes.count()
    if n_nodes == 0:
        # keep the (empty) pinned checkpoints alive — the returned frame
        # still reads them, and freeing a live localCheckpoint is
        # unrecoverable
        return nodes.withColumn("rank_q6", F.lit(0.0))
    base = (1.0 - damping) / n_nodes
    init = math.floor(1.0 / n_nodes * 1e9 + 0.5) / 1e9
    ranks = nodes.withColumn("rank", F.lit(init))
    for _ in range(iters):
        contrib = (
            ranks.join(frac, ranks["node"] == frac["src"])
            .select(F.col("dst").alias("node"), (F.col("rank") * F.col("p")).alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("c"))
        )
        dangling = (
            ranks.join(has_out, "node", "left_anti")
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dm"))
        )
        ranks = ckpts.ckpt(
            nodes.join(contrib, "node", "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "node",
                _q9(
                    F.lit(base)
                    + F.lit(damping)
                    * (F.coalesce(F.col("c"), F.lit(0.0)) + F.col("dm") / n_nodes)
                ).alias("rank"),
            )
        )
        ckpts.release_superseded()
    ckpts.release_all_but_last()
    return ranks.select(
        "node", (F.floor(F.col("rank") * 1e6 + F.lit(0.5)) / 1e6).alias("rank_q6")
    )


def triangle_counts(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Per-node triangle counts on an undirected simple graph — the
    local-clustering primitive next to :func:`pagerank` and the dedup
    family's connected components.

    Classic degree orientation (Chiba–Nishizeki / MR "node-iterator++"):
    dedupe edges canonically, orient every edge from its lower
    (degree, id) endpoint to the higher, build wedges by self-joining
    oriented edges on their source, and confirm the closing oriented
    edge with one more equi-join. Each triangle is found exactly once
    (at its minimum-(degree, id) apex), and the wedge count — the
    quadratic term — is bounded by Σ out_deg² ≤ O(m^1.5) because
    orientation caps out-degree at √m. Three equi-join shuffles, no
    cartesian anywhere; rank logic only, so layout-independent.

    Returns (node, triangles) for nodes in ≥1 triangle.
    """
    a = F.least(F.col(src), F.col(dst))
    b = F.greatest(F.col(src), F.col(dst))
    e = (
        edges.select(a.alias("a"), b.alias("b"))
        .filter(F.col("a") != F.col("b"))
        .na.drop()
        .distinct()
    )
    deg = (
        e.select(F.col("a").alias("node"))
        .unionByName(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("da"))
    db = deg.select(F.col("node").alias("b"), F.col("deg").alias("db"))
    with_deg = e.join(da, "a").join(db, "b")
    lower_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    # referenced three times below (both wedge sides + the closing
    # semi-join); localCheckpoint materializes the edge+degree pipeline
    # once instead of replicating it per branch — the dup_clusters/
    # pagerank lineage-truncation discipline (edge-list-sized, m rows).
    # The returned frame reads this checkpoint, so it cannot be freed
    # here; each call retains exactly one edge-list-sized checkpoint —
    # long-lived drivers that loop over calls should release consumed
    # results via engine.release_rdd_ids/persistent_rdd_ids.
    oriented = with_deg.select(
        F.when(lower_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(lower_first, F.col("b")).otherwise(F.col("a")).alias("v"),
        F.when(lower_first, F.col("db")).otherwise(F.col("da")).alias("dv"),
    ).localCheckpoint()
    o1, o2 = oriented.alias("o1"), oriented.alias("o2")
    wedges = o1.join(
        o2,
        (F.col("o1.u") == F.col("o2.u"))
        & (
            (F.col("o1.dv") < F.col("o2.dv"))
            | ((F.col("o1.dv") == F.col("o2.dv")) & (F.col("o1.v") < F.col("o2.v")))
        ),
    ).select(
        F.col("o1.u").alias("apex"),
        F.col("o1.v").alias("x"),
        F.col("o2.v").alias("y"),
    )
    closing = oriented.select(F.col("u").alias("x"), F.col("v").alias("y"))
    tris = wedges.join(closing, ["x", "y"], "leftsemi")
    nodes = (
        tris.select(F.col("apex").alias("node"))
        .unionByName(tris.select(F.col("x").alias("node")))
        .unionByName(tris.select(F.col("y").alias("node")))
    )
    return nodes.groupBy("node").agg(F.count("*").alias("triangles"))


def label_propagation(
    edges: DataFrame, src: str = "src", dst: str = "dst", iters: int = 4
) -> DataFrame:
    """Community detection by synchronous label propagation with a
    fully deterministic update rule: every node adopts the most
    frequent label among its neighbors, ties broken by the SMALLEST
    label, isolated nodes keep their own. A fixed iteration count (not
    convergence detection) makes the result a pure function of the
    edge list — the same determinism contract as :func:`pagerank`, and
    what lets the oracle re-derive every superstep as a chained CTE.

    Per superstep: one neighbor-label equi-join + one (node, label)
    count + one row_number pick — all key-partitioned shuffles, state
    is one label per node. Labels start as node ids, so a community's
    final label is itself meaningful (a member id). localCheckpoint per
    superstep truncates the doubling lineage (pagerank discipline);
    superseded checkpoints are unpersisted as the loop advances
    (engine.CheckpointTracker) so a long-lived driver retains exactly
    one node-sized checkpoint per call, not one per superstep.
    """
    from ..engine import CheckpointTracker

    ckpts = CheckpointTracker(edges.sparkSession)
    a = F.col(src).alias("a")
    b = F.col(dst).alias("b")
    e = edges.select(a, b).filter(F.col("a") != F.col("b")).na.drop().distinct()
    # pin the loop-invariant undirected edge list: without this, every
    # superstep's neighbor join (and the nodes derivation) re-executes
    # the CALLER's edge pipeline — for the co-purchase query that is a
    # lineitem self-join re-run per iteration (the pagerank has_out /
    # dup_clusters pair-table lesson, r12 sweep class)
    und = ckpts.ckpt(
        e.unionByName(
            e.select(F.col("b").alias("a"), F.col("a").alias("b"))
        ).distinct(),
        pin=True,
    )
    nodes = und.select(F.col("a").alias("node")).distinct()
    labels = ckpts.ckpt(nodes.select("node", F.col("node").alias("label")))
    w = Window.partitionBy("node").orderBy(F.col("cnt").desc(), F.col("label").asc())
    for _ in range(iters):
        nbr = (
            und.join(labels.select(F.col("node").alias("b"), "label"), "b")
            .select(F.col("a").alias("node"), "label")
            .groupBy("node", "label")
            .agg(F.count("*").alias("cnt"))
        )
        best = (
            nbr.withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") == 1)
            .select("node", F.col("label").alias("__best"))
        )
        labels = ckpts.ckpt(
            labels.join(best, "node", "left").select(
                "node", F.coalesce("__best", F.col("label")).alias("label")
            )
        )
        ckpts.release_superseded()
    ckpts.release_all_but_last()
    return labels


def association_rules(
    items: DataFrame,
    basket_col: str = "basket_id",
    item_col: str = "item",
    min_count: int = 2,
    min_pair_count: int = 2,
    top_k: int = 30,
) -> DataFrame:
    """Market-basket association rules (support / confidence / lift) —
    the recommendation-side readout of the co-purchase graph the
    triangle/community queries analyze structurally.

    Apriori-pruned at scale: item supports are counted FIRST (one
    hash agg over the (basket, item) stream) and only items with
    ``count >= min_count`` enter the pair expansion — the classic
    downward-closure lever, applied as a join against the frequent-item
    set BEFORE the basket self-join, so infrequent long-tail items
    never pay the quadratic-in-basket-size cost. The self-join is
    keyed on the basket id (bounded fan-out per basket, never a
    cartesian), pairs are ordered ``item_a < item_b`` and re-expanded
    to both rule directions only after the pair agg.

    Determinism: every metric derives from exact BIGINT counts by a
    fixed two/three-division sequence of correctly-rounded IEEE ops
    written identically in the DuckDB oracle, then q6-snapped — no
    float sums anywhere (oracle-parity playbook: quantize before
    ranking, tiebreak ranks on the full key).

    Returns (antecedent, consequent, n_ab, n_a, n_b, support_q6,
    confidence_q6, lift_q6, rank) with rank = top_k by lift
    (ties → confidence desc, antecedent asc, consequent asc).
    """
    it = (
        items.select(
            F.col(basket_col).alias("bk"), F.col(item_col).alias("item")
        )
        .na.drop()
        .distinct()
    )
    n_baskets = it.groupBy().agg(
        F.countDistinct("bk").alias("n_baskets")
    )
    counts = (
        it.groupBy("item")
        .agg(F.count(F.lit(1)).alias("n_item"))
        .filter(F.col("n_item") >= min_count)
    )
    # The pruned stream feeds BOTH sides of the basket self-join;
    # materialize it once (localCheckpoint) so lineage recompute does
    # not re-scan + re-count the corpus per side. It is the post-prune
    # stream — the small end of the funnel by design; the one retained
    # checkpoint is the documented cost (graph-module convention).
    freq = it.join(counts, "item").localCheckpoint()
    a = freq.select(
        F.col("bk"),
        F.col("item").alias("item_a"),
        F.col("n_item").alias("n_a"),
    )
    b = freq.select(
        F.col("bk"),
        F.col("item").alias("item_b"),
        F.col("n_item").alias("n_b"),
    )
    pairs = (
        a.join(b, "bk")
        .filter(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= min_pair_count)
    )
    fwd = pairs.select(
        F.col("item_a").alias("antecedent"),
        F.col("item_b").alias("consequent"),
        "n_ab",
        F.col("n_a").alias("n_ante"),
        F.col("n_b").alias("n_cons"),
    )
    rev = pairs.select(
        F.col("item_b").alias("antecedent"),
        F.col("item_a").alias("consequent"),
        "n_ab",
        F.col("n_b").alias("n_ante"),
        F.col("n_a").alias("n_cons"),
    )
    rules = fwd.unionByName(rev).crossJoin(F.broadcast(n_baskets))
    conf = F.col("n_ab") / F.col("n_ante")
    lift = conf / (F.col("n_cons") / F.col("n_baskets"))
    scored = rules.select(
        "antecedent",
        "consequent",
        "n_ab",
        F.col("n_ante").alias("n_a"),
        F.col("n_cons").alias("n_b"),
        q6(F.col("n_ab") / F.col("n_baskets")).alias("support_q6"),
        q6(conf).alias("confidence_q6"),
        q6(lift).alias("lift_q6"),
    )
    w = Window.orderBy(
        F.col("lift_q6").desc(),
        F.col("confidence_q6").desc(),
        F.col("antecedent").asc(),
        F.col("consequent").asc(),
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
    )
