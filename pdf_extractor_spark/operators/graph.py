"""Link-graph analysis for crawl prioritization (beyond-reference web op).

Web pipelines rank hosts by link structure — crawl scheduling, seed
selection, and link-spam screening all start from PageRank-family scores
over the host graph (Page et al. 1999; Common Crawl publishes exactly such
host-level rank files). This module implements it Spark-first with INTEGER
arithmetic throughout:

``pagerank_integer`` works in fixed-point "rank units" (``PAGERANK_SCALE``
total mass). Every step — per-edge contribution ``rank DIV out_degree``,
dangling-mass redistribution ``D DIV n``, damping ``85·x DIV 100`` — is
integer division, so the result is bit-identical across engines,
partitionings, and summation orders (the repo's oracle rule: no float
accumulation in checked outputs). Floating-point PageRank converges to the
same ordering; the fixed-point variant just makes the fixpoint itself
reproducible.

Scale shape per iteration: one equi-join of the edge list with the rank
table on ``src`` (both shuffle on the same key — the exchange is reused
across iterations), one groupBy(dst) sum with map-side partial agg, one
left join back onto the node list for sources with no in-links. The rank
and degree tables are |V| rows (hosts — millions, not documents), the edge
list |E|; nothing collects to the driver except the one-row dangling sum,
which is the same legitimate scalar the k-means loop holds between rounds.
``localCheckpoint`` per iteration truncates lineage exactly like the
connected-components rounds (dedup.connected_components_star).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

PAGERANK_SCALE = 1_000_000_000  # total rank mass, in integer rank units
DAMPING_PCT = 85  # PageRank damping d, in percent
HITS_SCALE = 1_000_000  # hub and authority mass after each normalization


def pagerank_integer(
    edges: DataFrame,
    n_iter: int = 3,
) -> DataFrame:
    """Fixed-point PageRank -> (node, rank) with sum(rank) ~= ``PAGERANK_SCALE``.

    rank_0(v)   = PAGERANK_SCALE DIV n
    contrib(u→v) = rank_i(u) DIV outdeg(u)
    rank_{i+1}(v) = (100-d)·(PAGERANK_SCALE DIV n) DIV 100
                    + d·(Σ contrib(·→v) + dangling DIV n) DIV 100

    where d = ``DAMPING_PCT`` and ``dangling`` is the total rank of nodes with no out-edges.
    Self-loops and duplicate edges are dropped first (standard for host
    graphs); every node appearing as src or dst gets a row.
    """
    e = (
        edges.select(
            F.col("src").cast("long").alias("src"),
            F.col("dst").cast("long").alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint()
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    n = nodes.count()
    if n == 0:
        return nodes.select("node", F.lit(0).cast("long").alias("rank"))
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).cast("long").alias("outdeg"))
    # degree table rides every iteration — materialize it once
    deg = (
        nodes.join(outdeg, nodes["node"] == outdeg["src"], "left")
        .select("node", F.coalesce("outdeg", F.lit(0)).cast("long").alias("outdeg"))
        .localCheckpoint()
    )
    init = PAGERANK_SCALE // n
    base = (100 - DAMPING_PCT) * init // 100
    ranks = deg.select("node", F.lit(init).cast("long").alias("rank"), "outdeg")
    for _ in range(n_iter):
        dangling = (
            ranks.filter(F.col("outdeg") == 0)
            .agg(F.coalesce(F.sum("rank"), F.lit(0)).cast("long").alias("d"))
            .first()["d"]
        )
        contrib = (
            e.join(ranks.select(F.col("node").alias("src"), "rank", "outdeg"), "src")
            .select("dst", F.expr("rank DIV outdeg").cast("long").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").cast("long").alias("in_sum"))
        )
        share = int(dangling) // n
        ranks = (
            deg.join(contrib, deg["node"] == contrib["dst"], "left")
            .select(
                "node",
                "outdeg",
                F.coalesce("in_sum", F.lit(0)).cast("long").alias("in_sum"),
            )
            .select(
                "node",
                "outdeg",
                (
                    F.lit(base).cast("long")
                    + F.expr(
                        f"(CAST({DAMPING_PCT} AS BIGINT) * "
                        f"(in_sum + CAST({share} AS BIGINT))) DIV 100"
                    )
                ).cast("long").alias("rank"),
            )
            .select("node", "rank", "outdeg")
            .localCheckpoint(eager=False)
        )
    return ranks.select("node", "rank")


def hits_integer(
    edges: DataFrame,
    n_iter: int = 2,
) -> DataFrame:
    """Fixed-point HITS (Kleinberg, JACM 1999) -> (node, hub, auth).

    The complement of PageRank for crawl seeding: authorities are pages
    many good hubs point AT (fetch these), hubs are pages that point at
    many good authorities (mine these for outlinks). Per iteration:

      auth_raw(v) = Σ_{u→v} hub(u);   auth(v) = S·auth_raw(v) DIV Σ auth_raw
      hub_raw(u)  = Σ_{u→v} auth(v);  hub(u)  = S·hub_raw(u)  DIV Σ hub_raw

    with S = ``HITS_SCALE``.

    i.e. the standard mutual-reinforcement update with L1 (mass)
    normalization done in integer rank units — every step is integer
    multiply/divide, so the fixpoint is bit-identical across engines and
    partitionings (same discipline as ``pagerank_integer``; HITS's usual
    L2 norm would force cross-engine sqrt, L1 preserves the ordering).

    Scale shape per iteration: two edge⋈score equi-joins + two
    map-side-combinable groupBy sums over |V|-row score tables; only the
    two one-row normalization totals touch the driver. ``localCheckpoint``
    truncates lineage per round.
    """
    e = (
        edges.select(
            F.col("src").cast("long").alias("src"),
            F.col("dst").cast("long").alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint()
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    n = nodes.count()
    if n == 0:
        return nodes.select(
            "node",
            F.lit(0).cast("long").alias("hub"),
            F.lit(0).cast("long").alias("auth"),
        )
    hub = nodes.select("node", F.lit(HITS_SCALE // n).cast("long").alias("hub"))
    auth = None

    def _normalized(raw: DataFrame, out_col: str) -> DataFrame:
        total = int(
            raw.agg(F.coalesce(F.sum("raw"), F.lit(0)).cast("long").alias("t"))
            .first()["t"]
        )
        joined = nodes.join(raw, "node", "left")
        if total <= 0:
            score = F.lit(0).cast("long")
        else:
            score = F.expr(
                f"(CAST({HITS_SCALE} AS BIGINT) * coalesce(raw, 0)) DIV {total}"
            ).cast("long")
        return joined.select("node", score.alias(out_col)).localCheckpoint(
            eager=False
        )

    for _ in range(n_iter):
        a_raw = (
            e.join(hub.select(F.col("node").alias("src"), "hub"), "src")
            .groupBy("dst")
            .agg(F.sum("hub").cast("long").alias("raw"))
            .select(F.col("dst").alias("node"), "raw")
        )
        auth = _normalized(a_raw, "auth")
        h_raw = (
            e.join(auth.select(F.col("node").alias("dst"), "auth"), "dst")
            .groupBy("src")
            .agg(F.sum("auth").cast("long").alias("raw"))
            .select(F.col("src").alias("node"), "raw")
        )
        hub = _normalized(h_raw, "hub")
    return hub.join(auth, "node").select("node", "hub", "auth")


def triangle_count(
    edges: DataFrame,
) -> DataFrame:
    """Per-node triangle count + local clustering coefficient over an
    undirected edge list -> (node, degree, triangles, clustering_ppm).

    The host-graph density signal: link farms and mirror rings show up as
    abnormally dense neighborhoods (high clustering at high degree),
    while legitimate hub hosts have star-like (low-clustering)
    neighborhoods — a standard web-spam feature alongside PageRank/HITS.

    Algorithm is the degree-ordered triangle enumeration (Suri &
    Vassilvitskii, WWW'11 — the MapReduce-scalable form): orient every
    undirected edge from the lower-(degree, id) endpoint to the higher
    one; the orientation is acyclic and each triangle has exactly ONE
    wedge u→v, u→w with v→w, so a wedge self-join on the oriented list
    plus one membership semi-join counts each triangle once. Max
    out-degree under this orientation is O(sqrt(|E|)) regardless of raw
    degree skew — the wedge join never explodes on celebrity nodes, which
    is the property that makes this the 100-TB-safe form (a naive
    neighbor-pair join on an unoriented list is quadratic in the max
    degree).

    Plan: one distinct + one groupBy for degrees, one self-equi-join on
    the wedge pivot, one semi-join for closure, one explode + groupBy for
    per-node attribution. clustering_ppm = 1e6 * 2T / (deg*(deg-1)) in
    integer division (0 where deg < 2) — exact on both engines.
    """
    lo = F.least(F.col("src").cast("long"), F.col("dst").cast("long"))
    hi = F.greatest(F.col("src").cast("long"), F.col("dst").cast("long"))
    und = (
        edges.select(lo.alias("a"), hi.alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint()
    )
    adj = und.union(und.select(F.col("b").alias("a"), F.col("a").alias("b")))
    deg = adj.groupBy(F.col("a").alias("node")).agg(
        F.count(F.lit(1)).alias("degree")
    ).localCheckpoint()
    da = deg.select(F.col("node").alias("a"), F.col("degree").alias("dega"))
    db = deg.select(F.col("node").alias("b"), F.col("degree").alias("degb"))
    keyed = und.join(da, "a").join(db, "b")
    fwd = (F.col("dega") < F.col("degb")) | (
        (F.col("dega") == F.col("degb")) & (F.col("a") < F.col("b"))
    )
    oriented = keyed.select(
        F.when(fwd, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(fwd, F.col("b")).otherwise(F.col("a")).alias("v"),
    ).localCheckpoint()
    e2 = oriented.select(F.col("u").alias("u2"), F.col("v").alias("w"))
    wedges = oriented.join(e2, F.col("u") == F.col("u2")).filter(
        F.col("v") != F.col("w")
    )
    closing = oriented.select(
        F.col("u").alias("v"), F.col("v").alias("w")
    )
    tris = wedges.join(closing, ["v", "w"], "semi").select("u", "v", "w")
    per_node = (
        tris.select(
            F.explode(F.array("u", "v", "w")).alias("node")
        )
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )
    out = deg.join(per_node, "node", "left").select(
        "node",
        F.col("degree").cast("bigint").alias("degree"),
        F.coalesce("triangles", F.lit(0)).cast("bigint").alias("triangles"),
    )
    pairs = F.col("degree") * (F.col("degree") - 1)
    return out.select(
        "node",
        "degree",
        "triangles",
        F.when(F.col("degree") < 2, F.lit(0))
        .otherwise(
            F.expr("CAST(2000000 * triangles AS BIGINT) div "
                   "(degree * (degree - 1))")
        )
        .cast("bigint")
        .alias("clustering_ppm"),
    )


def label_propagation(
    edges: DataFrame,
    seeds: DataFrame,
    nodes: DataFrame,
    n_rounds: int = 3,
) -> DataFrame:
    """Synchronous semi-supervised label propagation (Zhu & Ghahramani
    2002 / the fastText-style label-spread recipe) -> (node, label,
    labeled_round).

    ``edges`` is a DIRECTED neighbor list (symmetric for an undirected
    graph — e.g. the mutual k-NN graph from similarity.knn_graph);
    ``seeds`` is (node, label) for the supervised subset; ``nodes`` is
    the full node list. Each round, every unlabeled node takes the
    MAJORITY label among its currently-labeled in-neighbors (tie → the
    smallest label — the deterministic, partitioning-invariant rule);
    seed labels are clamped and never change. Labels only ever ACCRETE
    (an assigned label is frozen, round recorded in ``labeled_round``;
    seeds are round 0), so ``n_rounds`` rounds reach everything within
    graph distance n_rounds of a seed — the contract form whose fixed
    round count an oracle can replay as nested CTEs.

    Scale shape per round: one edge⋈label equi-join on the neighbor key +
    one map-side-combinable groupBy count + one argmax-by-struct groupBy
    — identical posture to pagerank_integer's rounds. Unlabeled nodes at
    the end carry NULL label and NULL labeled_round (disconnected from
    every seed).
    """
    e = edges.select(
        F.col("src").cast("long").alias("dst_of"),
        F.col("dst").cast("long").alias("nbr"),
    ).localCheckpoint()
    state = nodes.join(seeds, "node", "left").select(
        "node",
        F.col("label").cast("int").alias("label"),
        F.when(F.col("label").isNotNull(), F.lit(0))
        .cast("int")
        .alias("labeled_round"),
    ).localCheckpoint()
    for r in range(1, n_rounds + 1):
        labeled = state.filter(F.col("label").isNotNull()).select(
            F.col("node").alias("nbr"), F.col("label").alias("nbr_label")
        )
        votes = (
            e.join(labeled, "nbr")
            .groupBy(F.col("dst_of").alias("node"), "nbr_label")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        winner = votes.groupBy("node").agg(
            F.max(F.struct(F.col("cnt"), (-F.col("nbr_label")).alias("nl")))
            .alias("w")
        ).select(
            "node", (-F.col("w.nl")).cast("int").alias("new_label")
        )
        state = (
            state.join(winner, "node", "left")
            .select(
                "node",
                F.coalesce("label", "new_label").alias("label"),
                F.when(F.col("labeled_round").isNotNull(),
                       F.col("labeled_round"))
                .when(F.col("new_label").isNotNull(), F.lit(r))
                .cast("int")
                .alias("labeled_round"),
            )
            .localCheckpoint(eager=False)
        )
    return state


def kcore_decompose(
    edges: DataFrame,
    k: int = 3,
    rounds: int = 8,
) -> DataFrame:
    """k-core decomposition by parallel peeling (Matula & Beck 1983;
    distributed form per Montresor et al. 2013) ->
    (node, degree, core_degree, in_core).

    The k-core is the maximal subgraph where every node keeps degree >= k
    after everything weaker is stripped away — the standard host-graph
    density screen one step beyond triangle counting: link farms and
    mirror rings form high-k cores, legitimate long-tail hosts peel out
    in the first rounds. Crawl curation uses it to cap frontier budget
    for core members (spam-dense) and to pick seed hosts (moderate core).

    Parallel peeling removes ALL nodes with degree < k simultaneously per
    round, so cascades converge in O(rounds) supersteps, not O(|V|) —
    each round is one map-side-combinable groupBy (degrees) plus two
    semi-joins of the edge list against the survivor set, the same
    per-round shape as pagerank_integer. ``rounds`` is a FIXED count (not
    a convergence test) so the result is a pure function both engines
    replay identically; callers size it to the cascade depth (peeling a
    cycle-free fringe of depth d needs d rounds; 8 covers any graph whose
    non-core fringe is shallower than 8 hops, and a converged round is a
    no-op). Outputs are defined on the round-``rounds`` graph:
    ``core_degree`` = remaining degree (0 once peeled), ``in_core`` =
    core_degree >= k. ``degree`` is the round-0 degree for reference.

    Scale: edge list shuffles on its endpoint keys every round; survivor
    sets are |V'|-row and shrink monotonically. localCheckpoint(eager=
    False) truncates lineage per round — one scheduled job per round, the
    connected-components discipline (dedup.connected_components_star).
    """
    lo = F.least(F.col("src").cast("long"), F.col("dst").cast("long"))
    hi = F.greatest(F.col("src").cast("long"), F.col("dst").cast("long"))
    und = (
        edges.select(lo.alias("a"), hi.alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    adj = und.union(und.select(F.col("b").alias("a"), F.col("a").alias("b")))
    nodes0 = adj.select(F.col("a").alias("node")).distinct().localCheckpoint(
        eager=False
    )
    deg0 = adj.groupBy(F.col("a").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("degree")
    ).localCheckpoint(eager=False)
    cur = adj
    for _ in range(rounds):
        keep = (
            cur.groupBy("a")
            .agg(F.count(F.lit(1)).alias("_d"))
            .filter(F.col("_d") >= k)
            .select("a")
        )
        cur = (
            cur.join(keep, "a", "semi")
            .join(keep.withColumnRenamed("a", "b"), "b", "semi")
            .select("a", "b")
            .localCheckpoint(eager=False)
        )
    core_deg = cur.groupBy(F.col("a").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("core_degree")
    )
    return (
        nodes0.join(deg0, "node")
        .join(core_deg, "node", "left")
        .select(
            "node",
            "degree",
            F.coalesce("core_degree", F.lit(0)).cast("long").alias(
                "core_degree"
            ),
            (F.coalesce("core_degree", F.lit(0)) >= k).alias("in_core"),
        )
    )
