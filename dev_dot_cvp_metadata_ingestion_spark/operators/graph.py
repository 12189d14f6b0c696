"""Iterative graph analytics over candidate-pair relations.

``connected_components`` (operators/dedup.py) answers "which docs are
the same"; ``pagerank`` answers "which doc is the HUB" — stationary
importance over the near-duplicate graph, the centrality signal behind
canonical-document election and crawl-frontier weighting. Pure
DataFrame iteration: every round is bounded-size shuffles, no RDDs, no
driver-side data beyond the loop counter.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

PPM = 1_000_000
DAMP_PPM = 850_000          # 0.85 damping, fixed-point
BASE_PPM = PPM - DAMP_PPM   # (1 - d) teleport mass per node


def pagerank(
    pairs: DataFrame,
    nodes: DataFrame,
    id_col: str = "doc_id",
    a_col: str = "doc_id_a",
    b_col: str = "doc_id_b",
    iters: int = 4,
) -> DataFrame:
    """Fixed-iteration PageRank over an UNDIRECTED pair relation, in
    exact ppm integers: r_{t+1}(v) = 150000 + (850000 * S_v) div 1e6
    with S_v = sum over neighbours u of r_t(u) div deg(u), r_0 = 1e6.
    Every quantity is a BIGINT and both division steps are integral,
    so the result is bit-identical across engines and partitionings
    (no float summation order anywhere). Unnormalized form: isolated
    nodes settle at 150000 ppm, hubs rise above 1e6.

    Scale shape: the edge relation (symmetrized, degree-annotated) is
    materialized ONCE via localCheckpoint; each round is one shuffle
    join of the node-sized rank relation with the edges, one groupBy
    on the destination (map-side combine absorbs high-in-degree
    hubs' partial sums), and one left join back onto the node set.
    State per round is node-sized; lineage is truncated per round so
    round k never replans rounds 1..k-1. Nothing corpus-sized is ever
    broadcast or windowed. Overflow headroom: the contribution sum at
    a node is < total mass ~ n * 1e6, and 850000 * S must fit int64 —
    safe through ~1e7-in-degree hubs at ppm scale; beyond that lift
    S to DECIMAL(38,0) (one cast).

    Fixed ``iters`` (default 4) rather than convergence detection:
    near-dup components are shallow, and a deterministic round count
    is what lets the DuckDB oracle restate the recurrence by unrolled
    CTEs. Returns (id_col, pagerank_ppm, degree), one row per node,
    UNORDERED (per-row output contract).
    """
    # checkpoint the canonical pairs BEFORE symmetrizing and BEFORE
    # deriving degrees, so the (potentially expensive) pair lineage —
    # the whole LSH pipeline in the registered query — executes
    # exactly once
    can = pairs.select(
        F.col(a_col).alias("src"), F.col(b_col).alias("dst")
    ).localCheckpoint()
    edges = (
        can.unionByName(
            can.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
        .localCheckpoint()
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    ew = edges.join(deg, "src").localCheckpoint()

    base = nodes.select(F.col(id_col).alias("node")).localCheckpoint()
    ranks = base.select("node", F.lit(PPM).cast("long").alias("pr"))

    # r16: pinned shuffle-hash joins — the rank/contrib relations are
    # node-sized (corpus-derived: no broadcast at 100 TB) and the keys
    # are 8-byte ids the default sort-merge sorts for nothing
    for _ in range(iters):
        contrib = (
            ew.join(ranks.hint("shuffle_hash"), ew.src == ranks.node)
            .select(F.col("dst").alias("node"), F.expr("pr div deg").alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("c"))
        )
        ranks = (
            base.join(contrib.hint("shuffle_hash"), "node", "left")
            .select(
                "node",
                (
                    F.lit(BASE_PPM)
                    + F.expr(
                        f"({DAMP_PPM}L * coalesce(c, 0L)) div {PPM}L"
                    )
                ).cast("long").alias("pr"),
            )
            .localCheckpoint()
        )

    # degrees re-read from the CHECKPOINTED edge relation (deg itself
    # hangs off the un-materialized pair lineage)
    ew_deg = ew.groupBy("src").agg(F.max("deg").alias("deg"))
    node_deg = base.join(
        ew_deg.select(F.col("src").alias("node"), "deg"), "node", "left"
    ).select("node", F.coalesce("deg", F.lit(0)).cast("long").alias("degree"))
    return ranks.join(node_deg, "node").select(
        F.col("node").alias(id_col),
        F.col("pr").alias("pagerank_ppm"),
        "degree",
    )


def triangle_stats(
    pairs: DataFrame,
    nodes: DataFrame,
    id_col: str = "doc_id",
    a_col: str = "doc_id_a",
    b_col: str = "doc_id_b",
) -> DataFrame:
    """Exact triangle count + global clustering coefficient of an
    undirected pair graph, as ONE summary row: (n_nodes, n_edges,
    n_wedges, n_triangles, clustering_ppm) with clustering =
    3*triangles/wedges in integer ppm (0 when wedge-free).

    The scale device is DEGREE ORIENTATION (the classic MR triangle
    trick): every edge is directed from its lower-(degree, id) end to
    the higher, making each triangle countable exactly once as a
    wedge at its minimum node plus one closing edge, and bounding
    every node's out-degree by O(sqrt(m)) — so the wedge self-join's
    intermediate is O(m^1.5) worst case instead of sum(deg^2), and a
    million-way duplicate hub contributes its wedges from the hub's
    SMALL out-neighbourhood, not its huge in-neighbourhood. Wedge
    count needs no join at all: sum over nodes of C(deg, 2) on the
    degree relation. Two shuffle joins total (wedge build + closing-
    edge probe), everything integer, nothing broadcast or windowed.
    """
    # The canonical pair relation is the EXPENSIVE upstream (for the
    # registered query it is the whole LSH pipeline) and it fans out to
    # five consumers; materialize it once — the same device
    # connected_components uses for its edge relation. ``oriented`` is
    # edge-sized and fans out three ways; same treatment.
    can = pairs.select(
        F.col(a_col).alias("a"), F.col(b_col).alias("b")
    ).localCheckpoint()
    sym = can.unionByName(
        can.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).distinct()
    deg = sym.groupBy("a").agg(F.count(F.lit(1)).alias("deg"))

    # orient each edge from lower (deg, id) to higher (deg, id)
    da = deg.select(F.col("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("a").alias("b"), F.col("deg").alias("deg_b"))
    ann = can.join(da, "a").join(db, "b")
    fwd = F.struct(F.col("deg_a").alias("d"), F.col("a").alias("i")) < F.struct(
        F.col("deg_b").alias("d"), F.col("b").alias("i")
    )
    oriented = ann.select(
        F.when(fwd, F.col("a")).otherwise(F.col("b")).alias("src"),
        F.when(fwd, F.col("b")).otherwise(F.col("a")).alias("dst"),
        F.when(fwd, F.col("deg_b")).otherwise(F.col("deg_a")).alias("dst_deg"),
    ).localCheckpoint()

    e1 = oriented.select(
        F.col("src"), F.col("dst").alias("v"), F.col("dst_deg").alias("v_deg")
    )
    e2 = oriented.select(
        F.col("src"), F.col("dst").alias("w"), F.col("dst_deg").alias("w_deg")
    )
    wedges = e1.join(e2, "src").filter(
        F.struct(F.col("v_deg").alias("d"), F.col("v").alias("i"))
        < F.struct(F.col("w_deg").alias("d"), F.col("w").alias("i"))
    )
    closing = oriented.select(
        F.col("src").alias("v"), F.col("dst").alias("w")
    )
    tri = wedges.join(closing, ["v", "w"]).agg(
        F.count(F.lit(1)).alias("n_triangles")
    )

    n_nodes = nodes.agg(F.count(F.lit(1)).alias("n_nodes"))
    n_edges = can.agg(F.count(F.lit(1)).alias("n_edges"))
    n_wedges = deg.agg(
        F.coalesce(
            F.sum(F.expr("deg * (deg - 1) div 2")), F.lit(0)
        ).alias("n_wedges")
    )
    return (
        n_nodes.crossJoin(n_edges)
        .crossJoin(n_wedges)
        .crossJoin(tri)
        .select(
            F.col("n_nodes").cast("long").alias("n_nodes"),
            F.col("n_edges").cast("long").alias("n_edges"),
            F.col("n_wedges").cast("long").alias("n_wedges"),
            F.col("n_triangles").cast("long").alias("n_triangles"),
            F.when(F.col("n_wedges") > 0, F.expr(
                "(3000000L * n_triangles) div n_wedges"
            )).otherwise(F.lit(0)).cast("long").alias("clustering_ppm"),
        )
    )


def kcore(
    pairs: DataFrame,
    nodes: DataFrame,
    id_col: str = "doc_id",
    a_col: str = "doc_id_a",
    b_col: str = "doc_id_b",
    k: int = 2,
    rounds: int = 4,
) -> DataFrame:
    """Fixed-round k-core peeling over an UNDIRECTED pair relation:
    each round drops every node whose degree among the surviving
    nodes is < ``k``; after ``rounds`` peels, report per node whether
    it survived and its degree within the surviving subgraph. On a
    graph whose peeling converges within ``rounds`` (near-dup graphs
    are shallow — template stars peel in one round) the survivors ARE
    the k-core, the standard dense-subgraph extractor behind "which
    template/mirror families form a tightly cross-linked clump"
    (triangles count closed wedges; the core finds the clump itself).
    A fixed round count rather than convergence detection is the
    repo's determinism contract for iterative ops: the DuckDB oracle
    restates the peel as unrolled CTEs, bit-identical, and an
    UNconverged run is still exactly reproducible (documented
    artifact: a round-``rounds`` survivor can have core_degree < k,
    or 0 if all its neighbors died in the final round).

    Returns (id_col, in_core, core_degree) for EVERY input node,
    UNORDERED (per-row output contract).

    Scale shape: the symmetrized edge relation is materialized once;
    each round is two semi-joins of the (shrinking) alive set against
    it plus one degree groupBy — map-side combine absorbs hub
    degrees, state is node-sized, lineage truncated per round.
    Nothing corpus-sized broadcast or windowed. The alive set only
    shrinks, so round cost is monotonically non-increasing — the
    two-star/contraction shrinking-state argument."""
    can = pairs.select(
        F.col(a_col).alias("src"), F.col(b_col).alias("dst")
    ).localCheckpoint()
    edges = can.unionByName(
        can.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct().localCheckpoint()
    alive = nodes.select(F.col(id_col).alias("node"))
    for _ in range(rounds):
        e = edges.join(
            alive.select(F.col("node").alias("src")), "src", "left_semi"
        ).join(alive.select(F.col("node").alias("dst")), "dst", "left_semi")
        deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
        alive = (
            deg.filter(F.col("deg") >= k)
            .select(F.col("src").alias("node"))
            .localCheckpoint()
        )
    ef = edges.join(
        alive.select(F.col("node").alias("src")), "src", "left_semi"
    ).join(alive.select(F.col("node").alias("dst")), "dst", "left_semi")
    degf = ef.groupBy("src").agg(F.count(F.lit(1)).alias("core_degree"))
    return (
        nodes.select(F.col(id_col))
        .join(
            alive.select(F.col("node").alias(id_col)).withColumn(
                "in_core", F.lit(1).cast("long")
            ),
            id_col,
            "left",
        )
        .join(degf.select(F.col("src").alias(id_col), "core_degree"), id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("in_core"), F.lit(0).cast("long")).alias(
                "in_core"
            ),
            F.coalesce(F.col("core_degree"), F.lit(0).cast("long")).alias(
                "core_degree"
            ),
        )
    )


def markov_stationary(trans: DataFrame, rounds: int = 10) -> DataFrame:
    """Stationary distribution of the first-order Markov chain defined
    by a (from_type, to_type, c) transition-count relation — "where
    does a user session spend its time in the long run", the
    steady-state summary on top of ``events_top_transitions``'s
    matrix. Power iteration in exact floor-ppm integers:

        p_ppm(a,b) = c(a,b)·1e6 div Σ_b c(a,b)      (row-stochastic)
        π_{t+1}(b) = (Σ_a π_t(a)·p_ppm(a,b)) div 1e6

    started uniform over the state set S = types WITH outgoing
    transitions. Two deterministic, documented approximations: floors
    leak a little mass per round (bounded by |S| ppm), and transitions
    into types outside S (absorbing sinks) drop their mass — both
    identical on both engines, so the result hash-matches the
    unrolled-CTE oracle, the same device as ppm pagerank.

    Scale shape: everything after the transition count is config-scale
    (|types|² edges, |types| states); the relation and each round's π
    are localCheckpointed (the pagerank plan-growth device). Returns
    (event_type, pi_ppm) after ``rounds`` iterations."""
    trans = trans.localCheckpoint()
    rt = trans.groupBy("from_type").agg(F.sum("c").alias("rt"))
    p = (
        trans.join(F.broadcast(rt), "from_type")
        .select(
            "from_type",
            "to_type",
            F.expr(
                "CAST(CAST(c AS DECIMAL(38,0)) * 1000000 div rt AS BIGINT)"
            ).alias("p_ppm"),
        )
        .localCheckpoint()
    )
    s = (
        trans.select(F.col("from_type").alias("event_type"))
        .distinct()
        .localCheckpoint()
    )
    ns = s.agg(F.count(F.lit(1)).alias("ns"))
    pi = s.crossJoin(F.broadcast(ns)).select(
        "event_type",
        F.expr("CAST(1000000 div ns AS BIGINT)").alias("pi_ppm"),
    )
    for _ in range(rounds):
        m = (
            p.join(pi, p["from_type"] == pi["event_type"])
            .groupBy("to_type")
            .agg(
                F.expr(
                    "CAST(sum(CAST(pi_ppm AS DECIMAL(38,0)) * p_ppm)"
                    " div 1000000 AS BIGINT)"
                ).alias("pi_new")
            )
            .withColumnRenamed("to_type", "event_type")
        )
        pi = (
            s.join(m, "event_type", "left")
            .select(
                "event_type",
                F.coalesce("pi_new", F.lit(0).cast("long")).alias("pi_ppm"),
            )
            .localCheckpoint()
        )
    return pi


def link_prediction(
    pairs: DataFrame,
    a_col: str = "doc_id_a",
    b_col: str = "doc_id_b",
    max_degree: int | None = None,
) -> DataFrame:
    """Common-neighbor link prediction (Liben-Nowell & Kleinberg 2003)
    over an undirected pair relation: for every NON-adjacent pair with
    at least one common neighbor, the common-neighbor count and the
    neighbor-set Jaccard ``|N(a)∩N(b)| / |N(a)∪N(b)|``. On a near-dup
    graph this is the TRANSITIVE-MISS detector: LSH banding verifies
    pairwise, so A≈B≈C with A–C unverified leaves a missing edge that
    common-neighbor evidence flags for re-verification (cheaper than
    lowering the banding threshold corpus-wide) — and the same scores
    are the "suggest related docs" primitive.

    Exactness: counts and degrees are BIGINT; the Jaccard is ONE final
    IEEE division of two integers — deterministic across engines and
    partitionings, the ``ngram_jaccard_pairs`` device.

    Scale shape: wedge enumeration is the triangle-counting join — the
    symmetrized, checkpointed edge relation self-joined on the shared
    endpoint, Σ_z deg(z)² rows. On a verified near-dup graph degree is
    bounded by duplicate-cluster size, the same regime
    ``triangle_stats`` already rides; a pathological hub (mirror farm)
    is bounded by the stop-vertex cap ``max_degree``: hinges z with
    deg(z) > max_degree are dropped from wedge GENERATION only (hubs
    connect everything; their wedges carry no discriminating evidence
    — the stop-gram cap's argument). Capped-hinge accounting is the
    companion :func:`hub_cap_report`. With the cap, candidate volume
    is ≤ max_degree × Σ deg — linear in the edge volume at fixed cap
    regardless of skew (measured flat in ``7f66565:tools/bench_graph_skew.py``
    as the planted hub quadruples). A capped hinge still APPEARS as an
    endpoint of other nodes' wedges and keeps its true degree in
    deg_a/deg_b — only evidence routed THROUGH it is dropped. The
    adjacency rejection is a broadcast-free anti-join on the edge
    relation itself; every shuffle keys on pair endpoints, nothing is
    collected. Returns (a_col, b_col, common_neighbors, deg_a, deg_b,
    neighbor_jaccard) with a < b, unordered (per-row contract)."""
    # canonicalize + drop self-loops BEFORE degree counting (review
    # finding, r13): a self-loop or mixed-orientation duplicate would
    # inflate degrees — and therefore the jaccard denominator and the
    # max_degree cap decision — while hub_cap_report (which
    # canonicalizes) would report nothing dropped
    can = (
        pairs.select(
            F.least(F.col(a_col), F.col(b_col)).alias("src"),
            F.greatest(F.col(a_col), F.col(b_col)).alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint()
    )
    edges = (
        can.unionByName(
            can.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .localCheckpoint()
    )
    # r16 (VERDICT item 4): the degree relation fans out three ways
    # (hinge cap filter, deg_a join, deg_b join) — materialize the
    # node-sized groupBy once instead of re-shuffling the edge relation
    # per consumer (the PQ/MMR device, guide §5)
    deg = edges.groupBy("src").agg(
        F.count(F.lit(1)).alias("deg")
    ).localCheckpoint()
    if max_degree is not None:
        hinge_ok = deg.filter(F.col("deg") <= max_degree).select("src")
        hinge_edges = edges.join(hinge_ok, "src", "left_semi")
    else:
        hinge_edges = edges
    e1 = hinge_edges.select(F.col("src").alias("z"), F.col("dst").alias("a"))
    e2 = hinge_edges.select(F.col("src").alias("z"), F.col("dst").alias("b"))
    # pinned shuffle-hash joins (r16, guide §3.1): every join below is
    # against a corpus-derived relation (the edge self-join, the
    # adjacency anti-join, the degree rejoins) — a broadcast of any of
    # them is the shape that cannot exist at 100 TB, and the planner's
    # default sort-merge pays sorts that buy nothing on 8-byte node
    # keys (r15 band-join A/B: hash 3.8 / none 4.1 / merge 4.5; AQE
    # skew-split applies to shuffled-hash joins too)
    cn = (
        e1.join(e2.hint("shuffle_hash"), "z")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("common_neighbors"))
    )
    non_adjacent = cn.join(
        edges.hint("shuffle_hash"),
        (cn.a == edges.src) & (cn.b == edges.dst),
        "left_anti",
    )
    da = deg.select(F.col("src").alias("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("src").alias("b"), F.col("deg").alias("deg_b"))
    out = non_adjacent.join(da.hint("shuffle_hash"), "a").join(
        db.hint("shuffle_hash"), "b"
    )
    union_sz = (
        F.col("deg_a") + F.col("deg_b") - F.col("common_neighbors")
    )
    return out.select(
        F.col("a").alias(a_col),
        F.col("b").alias(b_col),
        F.col("common_neighbors").cast("long").alias("common_neighbors"),
        F.col("deg_a").cast("long").alias("deg_a"),
        F.col("deg_b").cast("long").alias("deg_b"),
        (F.col("common_neighbors").cast("double") / union_sz).alias(
            "neighbor_jaccard"
        ),
    )


def link_prediction_ra(
    pairs: DataFrame,
    a_col: str = "doc_id_a",
    b_col: str = "doc_id_b",
    max_degree: int | None = None,
) -> DataFrame:
    """Resource-allocation link prediction (Zhou, Lü & Zhang 2009 —
    the local index that beats raw common-neighbor counts on most
    real graphs): each common neighbor z contributes 1/deg(z), so a
    promiscuous hinge connecting half the corpus adds almost nothing
    while a rare shared neighbor adds a full unit — the cheap,
    integer-exact stand-in for the stop-vertex cap's judgment call
    (the cap still exists for the COST side; RA handles the
    EVIDENCE side). Scored in exact ppm: ra_ppm = Σ_z 1e6 div deg(z)
    — each term an integral division, the sum order-independent, so
    the whole relation hash-matches its oracle (contrast Adamic-Adar,
    whose 1/log(deg) terms would put libm floats in a hash-checked
    path). Same wedge/anti-join scale shape as
    :func:`link_prediction`, same ``max_degree`` stop-vertex cap.
    Returns (a_col, b_col, common_neighbors, ra_ppm, deg_a, deg_b)
    for non-adjacent pairs, a < b, unordered."""
    # same input hygiene as link_prediction (review finding, r13):
    # canonicalize + drop self-loops so degrees — and therefore the
    # 1/deg weights and the cap decision — cannot be inflated
    can = (
        pairs.select(
            F.least(F.col(a_col), F.col(b_col)).alias("src"),
            F.greatest(F.col(a_col), F.col(b_col)).alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint()
    )
    edges = (
        can.unionByName(
            can.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .localCheckpoint()
    )
    # r16: degree relation materialized once (4 consumers here: hinge
    # weights, anti-join input, deg_a, deg_b) + pinned shuffle-hash
    # joins — same rationale as link_prediction above
    deg = edges.groupBy("src").agg(
        F.count(F.lit(1)).alias("deg")
    ).localCheckpoint()
    hinge_deg = (
        deg.filter(F.col("deg") <= max_degree)
        if max_degree is not None
        else deg
    )
    ze = edges.join(hinge_deg.hint("shuffle_hash"), "src")
    e1 = ze.select(
        F.col("src").alias("z"), F.col("dst").alias("a"),
        F.col("deg").alias("deg_z"),
    )
    e2 = ze.select(F.col("src").alias("z"), F.col("dst").alias("b"))
    cn = (
        e1.join(e2.hint("shuffle_hash"), "z")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(
            F.count(F.lit(1)).alias("common_neighbors"),
            F.sum(F.expr("1000000L div deg_z")).alias("ra_ppm"),
        )
    )
    non_adjacent = cn.join(
        edges.hint("shuffle_hash"),
        (cn.a == edges.src) & (cn.b == edges.dst),
        "left_anti",
    )
    da = deg.select(F.col("src").alias("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("src").alias("b"), F.col("deg").alias("deg_b"))
    return (
        non_adjacent.join(da.hint("shuffle_hash"), "a")
        .join(db.hint("shuffle_hash"), "b")
        .select(
            F.col("a").alias(a_col),
            F.col("b").alias(b_col),
            F.col("common_neighbors").cast("long").alias("common_neighbors"),
            F.col("ra_ppm").cast("long").alias("ra_ppm"),
            F.col("deg_a").cast("long").alias("deg_a"),
            F.col("deg_b").cast("long").alias("deg_b"),
        )
    )


def hub_cap_report(
    pairs: DataFrame,
    max_degree: int,
    a_col: str = "doc_id_a",
    b_col: str = "doc_id_b",
) -> DataFrame:
    """Accounting row for :func:`link_prediction`'s stop-vertex cap —
    the same honesty contract as the stop-gram cap's quality report:
    a bound that silently drops evidence must REPORT what it dropped.
    One row: (n_nodes, n_edges, capped_hinges = nodes with
    deg > max_degree, wedges_avoided = Σ_{deg>D} C(deg, 2) — the
    candidate rows the cap removed from the wedge join). All integer
    aggregates off the node-sized degree relation; no join at all."""
    can = (
        pairs.select(
            F.least(F.col(a_col), F.col(b_col)).alias("src"),
            F.greatest(F.col(a_col), F.col(b_col)).alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint()
    )
    sym = can.unionByName(
        can.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    deg = sym.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    return deg.agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        F.expr(
            "CAST(coalesce(sum(deg), 0L) div 2 AS BIGINT)"
        ).alias("n_edges"),
        F.coalesce(
            F.sum(F.when(F.col("deg") > max_degree, 1).otherwise(0)),
            F.lit(0),
        ).cast("long").alias("capped_hinges"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("deg") > max_degree,
                    F.expr("deg * (deg - 1) div 2"),
                ).otherwise(F.lit(0).cast("long"))
            ),
            F.lit(0),
        ).cast("long").alias("wedges_avoided"),
    )


def dbscan_labels(
    pairs: DataFrame,
    nodes: DataFrame,
    id_col: str = "vec_id",
    a_col: str = "vec_id_a",
    b_col: str = "vec_id_b",
    min_neighbors: int = 3,
) -> DataFrame:
    """DBSCAN (Ester et al., KDD 1996) over a PRECOMPUTED
    eps-neighbor pair relation: a node with ≥ ``min_neighbors``
    neighbors is CORE; core points connected through core-core edges
    form one cluster (labelled by the component's min id); a non-core
    node adjacent to ≥1 core is a BORDER of its minimum-labelled core
    cluster; everything else is NOISE (cluster_id -1). The
    density-based complement to the embedding family's kmeans:
    cluster count emerges from density, irregular shapes survive, and
    outliers get an explicit noise label instead of being absorbed by
    the nearest centroid.

    Decomposing DBSCAN this way is what makes it distributable: the
    expensive half (who is within eps of whom) is whatever blocked
    similarity join the caller already has — sign-bucket cosine
    pairs, banded LSH, an IVF range probe — and this function is only
    bounded relational algebra on that relation: one degree count,
    two semi-joins to restrict edges to core×core, the existing
    min-label pointer-jumping ``connected_components`` (O(log D)
    rounds, shallow here because eps-graphs of near-dup clusters are
    dense), and one groupBy-min for borders. Nothing is collected;
    every shuffle keys on node or pair ids. Exactness: ids and counts
    are integers, roles derive from integer comparisons, so the whole
    row is hash-stable given a deterministic pair relation.

    Returns (id_col, role ∈ {core, border, noise}, cluster_id) — one
    row per node, unordered (per-row output contract)."""
    from .dedup import connected_components

    # canonicalize + dedupe: eps-pair relations legitimately emit the
    # same pair from multiple bands/probes, and in either orientation
    # — duplicates would inflate degree counts and mint false cores
    # (review finding: [(1,2),(1,2),(1,3)] must not make 1 core at
    # min_neighbors=3)
    can = (
        pairs.select(
            F.least(F.col(a_col), F.col(b_col)).alias("src"),
            F.greatest(F.col(a_col), F.col(b_col)).alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint()
    )
    sym = can.unionByName(
        can.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint()
    deg = sym.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    core = (
        deg.filter(F.col("d") >= min_neighbors)
        .select(F.col("src").alias("node"))
        .localCheckpoint()
    )
    core_edges = can.join(
        core.select(F.col("node").alias("src")), "src", "left_semi"
    ).join(core.select(F.col("node").alias("dst")), "dst", "left_semi")
    comp = connected_components(
        core_edges, core, id_col="node", a_col="src", b_col="dst"
    )
    border = (
        sym.join(core.select(F.col("node").alias("src")), "src", "left_anti")
        .join(
            comp.select(
                F.col("node").alias("dst"), F.col("cluster_id").alias("cid")
            ),
            "dst",
        )
        .groupBy("src")
        .agg(F.min("cid").alias("cluster_id"))
        .select(F.col("src").alias("node"), "cluster_id")
    )
    base = nodes.select(F.col(id_col).alias("node"))
    out = (
        base.join(
            comp.select("node", F.col("cluster_id").alias("core_cid")),
            "node",
            "left",
        )
        .join(
            border.select("node", F.col("cluster_id").alias("border_cid")),
            "node",
            "left",
        )
        .select(
            F.col("node").alias(id_col),
            F.when(F.col("core_cid").isNotNull(), F.lit("core"))
            .when(F.col("border_cid").isNotNull(), F.lit("border"))
            .otherwise(F.lit("noise"))
            .alias("role"),
            F.coalesce("core_cid", "border_cid", F.lit(-1))
            .cast("long")
            .alias("cluster_id"),
        )
    )
    return out


def clustering_coefficients(
    pairs: DataFrame,
    nodes: DataFrame,
    id_col: str = "doc_id",
    a_col: str = "doc_id_a",
    b_col: str = "doc_id_b",
) -> DataFrame:
    """Per-node LOCAL clustering coefficient (Watts & Strogatz 1998)
    over an undirected pair relation: c(v) = 2·T(v) / (deg(v)·(deg(v)−1))
    with T(v) the triangles through v, in exact ppm integers
    (integral division — no float anywhere). Where ``triangle_stats``
    reports the graph's GLOBAL cohesion, this is the per-node view:
    on a similarity-evidence graph a node at coefficient ~1e6 sits in
    a clique (a tight duplicate cluster — safe to collapse), while a
    high-degree node near 0 is a HUB whose edges don't know each
    other — template/boilerplate gravity wells that deserve review,
    not collapse. Degree < 2 defines to 0 (no possible wedge).

    Scale shape = DEGREE ORIENTATION (the ``triangle_stats`` device,
    extended to per-node counts): every edge is directed from its
    lower-(deg, id) end to the higher, each triangle is enumerated
    EXACTLY ONCE as a wedge at its minimum corner plus one closing
    edge, and then contributes 1 to each of its THREE corners
    (explode + groupBy — per-node counts at the oriented cost). The
    wedge intermediate is Σ out-deg² = O(m^1.5) worst case instead of
    Σ deg²: a mirror-farm hub of degree h contributes wedges only
    from its SMALL out-neighbourhood, not C(h, 2) — measured flat in
    ``7f66565:tools/bench_graph_skew.py`` as the planted hub quadruples,
    while the naive hinge join grows ~h². Everything shuffles on
    node/pair keys; nothing collected. Returns (id_col, degree,
    triangles, clustering_ppm), one row per node, unordered."""
    # canonicalize to src < dst before dedupe: mixed orientations of
    # the same pair would double edges after symmetrization (review
    # finding, r12)
    can = (
        pairs.select(
            F.least(F.col(a_col), F.col(b_col)).alias("a"),
            F.greatest(F.col(a_col), F.col(b_col)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint()
    )
    sym = can.unionByName(
        can.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    deg = sym.groupBy("a").agg(F.count(F.lit(1)).alias("deg"))

    # orient each edge from lower (deg, id) to higher (deg, id) — the
    # acyclic orientation under which every triangle has exactly one
    # source corner, found as one wedge + one closing probe
    da = deg.select("a", F.col("deg").alias("deg_a"))
    db = deg.select(F.col("a").alias("b"), F.col("deg").alias("deg_b"))
    ann = can.join(da, "a").join(db, "b")
    fwd = F.struct(F.col("deg_a").alias("d"), F.col("a").alias("i")) < F.struct(
        F.col("deg_b").alias("d"), F.col("b").alias("i")
    )
    oriented = ann.select(
        F.when(fwd, F.col("a")).otherwise(F.col("b")).alias("src"),
        F.when(fwd, F.col("b")).otherwise(F.col("a")).alias("dst"),
        F.when(fwd, F.col("deg_b")).otherwise(F.col("deg_a")).alias("dst_deg"),
    ).localCheckpoint()
    e1 = oriented.select(
        F.col("src"), F.col("dst").alias("v"), F.col("dst_deg").alias("v_deg")
    )
    e2 = oriented.select(
        F.col("src"), F.col("dst").alias("w"), F.col("dst_deg").alias("w_deg")
    )
    wedges = e1.join(e2, "src").filter(
        F.struct(F.col("v_deg").alias("d"), F.col("v").alias("i"))
        < F.struct(F.col("w_deg").alias("d"), F.col("w").alias("i"))
    )
    closing = oriented.select(F.col("src").alias("v"), F.col("dst").alias("w"))
    closed = wedges.join(closing, ["v", "w"], "left_semi")
    tri = (
        closed.select(F.explode(F.array("src", "v", "w")).alias("hinge"))
        .groupBy("hinge")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )
    deg = deg.withColumnRenamed("a", "src")
    base = nodes.select(F.col(id_col).alias("node"))
    out = (
        base.join(deg.select(F.col("src").alias("node"), "deg"), "node", "left")
        .join(
            tri.select(F.col("hinge").alias("node"), "triangles"),
            "node",
            "left",
        )
        .select(
            F.col("node").alias(id_col),
            F.coalesce("deg", F.lit(0)).cast("long").alias("degree"),
            F.coalesce("triangles", F.lit(0)).cast("long").alias("triangles"),
            F.when(
                F.coalesce("deg", F.lit(0)) >= 2,
                F.expr(
                    "(2000000L * coalesce(triangles, 0L))"
                    " div (coalesce(deg, 0L) * (coalesce(deg, 0L) - 1))"
                ),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("clustering_ppm"),
        )
    )
    return out
