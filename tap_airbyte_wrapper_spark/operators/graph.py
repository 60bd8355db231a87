"""Distributed graph scoring: PageRank over an edge DataFrame.

Why it's here: web-corpus curation uses link-graph centrality as a
document/domain quality prior (Common Crawl-derived pipelines rank
hosts by harmonic/PageRank centrality and sample high-centrality
content preferentially).  The engine's quality layer already scores
documents in isolation (classifier, perplexity, heuristics); PageRank
adds the INTER-document signal, and is the engine's representative of
the iterative-algorithm family (fixed-point computations expressed as
repeated joins, not expressible as one SQL query — the oracle unrolls
the iterations instead).

Semantics (matched bit-for-bit by the unrolled DuckDB oracle in
plans/queries.py):

* nodes = distinct union of sources and destinations
* ranks start uniform at 1/N
* per iteration:  r'(v) = (1-d)/N + d * (in_mass(v) + dangling/N)
  where in_mass(v) = sum over in-edges (u,v) of r(u)/outdeg(u), and
  ``dangling`` is the rank mass sitting on nodes with no out-edges
  (redistributed uniformly — the standard stochastic-matrix fix).
* duplicate (src, dst) rows count once (the edge set is distinct-ed).

Total rank mass is conserved at 1.0 every iteration (asserted in
tests), so scores are comparable across graphs.

Scale shape: each iteration is one shuffle — ``ranks ⋈ edges`` on src
(edges carry precomputed outdeg, so the join payload is (dst, r/deg))
then a groupBy(dst) sum; the dangling term is a one-row aggregate
broadcast into the update.  The edge list is the big side and is never
re-derived (cached once with its outdegrees); rank frames are
node-sized.  Each iteration's result is cut out of the lineage with an
eager ``localCheckpoint``: the rank frame feeds THREE subtrees of the
next iteration (contribution join, dangling aggregate, update), so an
unbroken lineage re-computes it 3^k times by iteration k — measured at
sf0.1: 23 s uncheckpointed vs ~2 s checkpointed for 5 iterations (the
classic iterative-Spark failure, same reason GraphX checkpoints its
deltas).  At 100 TB of edges, ranks (one row per node) still fit
comfortably distributed; nothing collects to the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

__all__ = ["pagerank", "degrees", "triangle_count", "label_propagation"]

def degrees(edges: DataFrame, src_col: str, dst_col: str) -> DataFrame:
    """(node, out_deg, in_deg) over the DISTINCT edge set.

    Each edge adds ``(src, out=1)`` and ``(dst, in=1)``, so ONE group-by
    on the node yields both degrees: no per-side aggregate and no full
    outer join."""
    e = edges.select(F.col(src_col).alias("src"),
                     F.col(dst_col).alias("dst")).distinct()
    ends = (e.select(F.col("src").alias("node"), F.lit(1).alias("o"),
                     F.lit(0).alias("i"))
            .unionByName(e.select(F.col("dst").alias("node"),
                                  F.lit(0).alias("o"), F.lit(1).alias("i"))))
    return ends.groupBy("node").agg(F.sum("o").alias("out_deg"),
                                    F.sum("i").alias("in_deg"))


def pagerank(
    edges: DataFrame,
    src_col: str,
    dst_col: str,
    damping: float = 0.85,
    n_iter: int = 10,
) -> DataFrame:
    """PageRank with uniform teleport and dangling-mass redistribution.

    Returns (node, rank); ranks sum to 1.  ``n_iter`` fixed iterations
    (the oracle unrolls the same count — convergence thresholds would
    make the result depend on float-comparison order, which no
    cross-engine check could pin).
    """
    # e is read by THREE consumers (the degree table and the
    # contribution join twice-removed) — uncached, the upstream edge
    # derivation would run once per consumer
    e = edges.select(F.col(src_col).alias("src"),
                     F.col(dst_col).alias("dst")).distinct().persist()
    # ONE shuffle yields both the node set and the out-degrees (a
    # separate union-distinct for nodes would be a second node-sized
    # shuffle over the same rows); read every iteration by the
    # dangling aggregate and the update join
    degs = (e.select(F.col("src").alias("node"), F.lit(1).alias("__o"))
            .unionByName(
                e.select(F.col("dst").alias("node"), F.lit(0).alias("__o")))
            .groupBy("node").agg(F.sum("__o").alias("out_deg"))
            .persist())
    nodes = degs.select("node")
    outdeg = degs.filter(F.col("out_deg") > 0).select(
        F.col("node").alias("src"), F.col("out_deg").alias("deg"))
    # the per-iteration join side: (src, dst, deg) — PERSISTED since
    # round 14: it is read once per iteration, and uncached the
    # e ⋈ outdeg join re-ran every iteration (two cached inputs, but
    # the join work itself repeated; measured in the 43-job profile
    # of the 3-iteration fleet entry)
    ej = e.join(outdeg, "src").persist()
    try:
        n = nodes.count()  # metadata-scale action (one long/partition)
        if n == 0:
            # empty graph: empty (node, rank) frame, no 1/0 teleport
            return nodes.withColumn("rank", F.lit(0.0))
        # rank frames are node-count-sized; without an explicit
        # coalesce the per-iteration checkpoint inherits the join's
        # full shuffle partitioning (task overhead dominates on
        # small-to-medium graphs; measured 1.2 s -> ~0.3 s per
        # iteration at sf0.1)
        rank_parts = max(1, min(edges.sparkSession.sparkContext
                                .defaultParallelism, -(-n // 250_000)))
        # NOT broadcast-hinted (round 14, measured): hinting the
        # node-sized rank/contrib frames into the per-iteration joins
        # was tried and LOST — each hint adds a broadcast-build with
        # ~1.4-2.8 s latency per iteration on this harness (iters
        # 0.45-0.55 s with shuffle joins vs 1.4-2.8 s hinted, 3-rep
        # A/B), because the builds serialize on the driver while the
        # shuffle joins of the tiny frames ride AQE's coalesced
        # exchanges.  The one-row dangling aggregate below keeps its
        # broadcast (crossJoin needs it; building a 1-row relation is
        # cheap).
        dnodes = degs.filter(F.col("out_deg") == 0).select("node")

        ranks = nodes.withColumn("rank", F.lit(1.0 / n))
        for _ in range(n_iter):
            contrib = (
                ej.join(ranks.withColumnRenamed("node", "src"),
                        "src")
                .groupBy(F.col("dst").alias("node"))
                .agg(F.sum(F.col("rank") / F.col("deg"))
                     .alias("in_mass")))
            # dangling mass: rank sitting on nodes with no out-edges —
            # a one-ROW aggregate riding a broadcast crossJoin, so the
            # iteration stays ONE job instead of paying a driver
            # collect round-trip per iteration (measured 3.4 -> 3.2 s
            # on the 3-iteration fleet entry at sf0.1; at scale the
            # collect also serializes the driver between iterations).
            # The broadcast value feeds the same float expression the
            # literal did, so results are bit-identical and the
            # unrolled oracle still matches.
            dang = (
                ranks.join(dnodes, "node")
                .agg(F.coalesce(F.sum("rank"), F.lit(0.0))
                     .alias("__dang")))
            ranks = (
                nodes.join(contrib, "node", "left")
                .crossJoin(F.broadcast(dang))
                .select(
                    "node",
                    (F.lit((1.0 - damping) / n)
                     + F.lit(damping)
                     * (F.coalesce("in_mass", F.lit(0.0))
                        + F.col("__dang") / n)).alias("rank"))
                .coalesce(rank_parts)
                # eager cut EVERY iteration: ranks feeds three subtrees
                # of the next one — see the module docstring's 3^k note
                .localCheckpoint(eager=True))
        return ranks
    finally:
        # the returned frame is checkpointed (or derives from nothing),
        # so the scratch caches can always be released — including on
        # error paths
        e.unpersist()
        degs.unpersist()
        ej.unpersist()


def triangle_count(
    edges: DataFrame,
    src_col: str,
    dst_col: str,
) -> DataFrame:
    """Per-node triangle counts and local clustering coefficient over
    the UNDIRECTED simple graph of ``edges``:
    ``(node, degree, triangles, clustering)`` — the second classic
    whole-graph statistic next to :func:`pagerank` (community density /
    spam-farm detection in link-graph curation: link farms show
    near-clique clustering, organic link neighborhoods don't).

    Semantics: direction and multiplicity are ignored (edges
    canonicalize to ``least < greatest`` and distinct), self-loops drop,
    and every node of the edge set appears — triangle-less nodes with
    ``triangles = 0``.  ``clustering = 2*T / (deg*(deg-1))`` (0.0 when
    degree < 2), rounded to 6.

    Scale shape — degree-ordered orientation (the "compact-forward"
    algorithm, Latapy 2008): each undirected edge orients from the
    lower ``(degree, node)`` endpoint to the higher, wedges come from
    the oriented self-join on the apex (the LOWEST-rank vertex of every
    triangle — each triangle is generated exactly once), and close by
    joining the oriented edge set on the wedge's far pair.  Orientation
    caps every node's oriented out-degree at O(sqrt(m)) regardless of
    hub skew — a celebrity node ranks high, so its millions of
    neighbors don't wedge THROUGH it — bounding the wedge join at
    O(m^1.5) total where the naive all-neighbor-pairs join is
    quadratic in the hub degree.  Three shuffles end-to-end (degree
    agg, wedge join, closing join) plus the per-node rollup; nothing
    touches the driver.  The DuckDB oracle orients by plain node id —
    a different per-triangle apex, the same triangle SET — pinning the
    orientation trick's correctness.
    """
    # The canonical edge set, the degree table and the oriented edge
    # set each feed 2-3 consumers below; without persists Catalyst
    # re-plans the WHOLE upstream per consumer (measured on the
    # co-supply entry: 40 parquet scans / 38 joins / 0 ReusedExchange
    # in one plan).  All three are edge- or node-sized — never larger
    # than the input.  This function returns a LAZY frame, so there is
    # no in-function unpersist point — the bounded pool keeps a long
    # session's accumulation finite (round-14 verdict ask).
    from ..functions._cache import cache_bounded

    e = cache_bounded(
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("a"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = cache_bounded(
        e.select(F.explode(F.array("a", "b")).alias("node"))
        .groupBy("node").agg(F.count(F.lit(1)).alias("degree"))
    )
    da = deg.select(F.col("node").alias("a"), F.col("degree").alias("__da"))
    db = deg.select(F.col("node").alias("b"), F.col("degree").alias("__db"))
    ranked = e.join(da, "a").join(db, "b")
    lower_first = (F.col("__da") < F.col("__db")) | (
        (F.col("__da") == F.col("__db")) & (F.col("a") < F.col("b")))
    er = cache_bounded(ranked.select(
        F.when(lower_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(lower_first, F.col("b")).otherwise(F.col("a")).alias("v"),
        F.when(lower_first, F.col("__db")).otherwise(F.col("__da"))
        .alias("__dv"),
    ))
    w1 = er.select(F.col("u"), F.col("v").alias("x"), F.col("__dv").alias("__dx"))
    w2 = er.select(F.col("u"), F.col("v").alias("y"), F.col("__dv").alias("__dy"))
    wedges = w1.join(w2, "u").filter(
        (F.col("__dx") < F.col("__dy")) | (
            (F.col("__dx") == F.col("__dy")) & (F.col("x") < F.col("y"))))
    closing = er.select(F.col("u").alias("x"), F.col("v").alias("y"))
    tris = wedges.join(closing, ["x", "y"]).select("u", "x", "y")
    per_node = (
        tris.select(F.explode(F.array("u", "x", "y")).alias("node"))
        .groupBy("node").agg(F.count(F.lit(1)).alias("triangles"))
    )
    return (
        deg.join(per_node, "node", "left")
        .select(
            "node", "degree",
            F.coalesce("triangles", F.lit(0)).alias("triangles"),
            F.when(
                F.col("degree") >= 2,
                F.round(
                    2.0 * F.coalesce("triangles", F.lit(0))
                    / (F.col("degree") * (F.col("degree") - 1)), 6))
            .otherwise(F.lit(0.0)).alias("clustering"),
        )
    )


def label_propagation(
    edges: DataFrame,
    src_col: str,
    dst_col: str,
    n_iter: int = 3,
    checkpoint_every: int = 8,
) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan
    et al. 2007) over the UNDIRECTED simple graph: every node starts
    in its own community (label = node id) and each iteration adopts
    the most frequent label among its NEIGHBORS, ties broken by the
    smallest label — the deterministic variant, so a fixed iteration
    count is exactly reproducible (and SQL-unrollable, the same
    full-value-oracle strategy as :func:`pagerank`; the classic
    randomized-order LPA converges faster but is unauditable).
    Returns ``(node, community)`` after ``n_iter`` rounds.

    Link-graph curation uses it where :func:`triangle_count` flags
    density: a link farm resolves into one tight community whose
    members can be quota'd or down-weighted together.

    Scale shape: per iteration one join of the adjacency list against
    the node-sized label frame, a ``(node, label)`` partial-agg count,
    and a per-node top-1 struct-min aggregate keyed by node — each
    shuffle linear in edges.  Nothing collects to the driver.

    Round 14: UNLIKE pagerank's rank frame (three consumers per
    iteration — the 3^k-recompute trap), the label frame has exactly
    ONE consumer per iteration, so an unbroken lineage re-computes
    nothing: the whole iteration chain runs as a single action, and
    AQE plans every per-stage join from runtime sizes.  Measured
    (same-session A/B at sf0.1, 4 reps): per-iteration eager
    checkpoints 4.6 s median vs 3.3 s without — the checkpoints were
    pure job-floor overhead.  ``checkpoint_every`` (default 8) still
    bounds PLAN DEPTH for large ``n_iter`` (optimizer time grows with
    the unrolled chain; Janino has method-size limits), it is no
    longer a recompute guard.  The final frame is eagerly
    checkpointed so the adjacency cache can be released before
    returning (same eager contract as before).
    """
    e = (
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("a"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    adj = (
        e.select(F.col("a").alias("node"), F.col("b").alias("nb"))
        .unionAll(e.select(F.col("b").alias("node"), F.col("a").alias("nb")))
        .persist()
    )
    try:
        n = adj.count()  # materializes the cache; node-count guard below
        if n == 0:
            return adj.select("node", F.col("node").alias("community"))
        parts = max(1, min(edges.sparkSession.sparkContext
                           .defaultParallelism, -(-n // 500_000)))
        # NOT broadcast-hinted (round 14, measured): hinting the
        # checkpointed label frame into the adjacency join made every
        # iteration pay a ~1.5 s broadcast-build latency (iters 0.3 ->
        # 1.8 s each at sf0.1) — unlike pagerank's rank frame, the
        # shuffle join here is already cheap because votes partial-
        # aggregate map-side.
        labels = (
            adj.select("node").distinct()
            .withColumn("label", F.col("node"))
        )
        for k in range(n_iter):
            votes = (
                adj.join(labels.withColumnRenamed("node", "nb"), "nb")
                .groupBy("node", "label")
                .agg(F.count(F.lit(1)).alias("__c"))
            )
            # top-1 label per node as an AGGREGATE, not a row_number
            # window (round 14): min over struct((-count, label)) is
            # exactly the window's (count desc, label asc) first row —
            # same winner, same tie-break — but runs with map-side
            # partial aggregation and NO per-partition sort.  (The
            # negation needs numeric labels only for the sign trick;
            # generic orderable labels still compare correctly inside
            # the struct because only the count is negated.)
            labels = (
                votes.groupBy("node")
                .agg(F.min(F.struct((-F.col("__c")).alias("__nc"),
                                    F.col("label").alias("__l")))
                     .alias("__top"))
                .select("node", F.col("__top.__l").alias("label"))
            )
            if (checkpoint_every and (k + 1) % checkpoint_every == 0
                    and k + 1 < n_iter):
                # plan-depth cut only — see the docstring
                labels = labels.coalesce(parts) \
                    .localCheckpoint(eager=True)
        return (
            labels.select("node", F.col("label").alias("community"))
            .coalesce(parts)
            # eager: the adjacency cache is released on return
            .localCheckpoint(eager=True)
        )
    finally:
        adj.unpersist()
