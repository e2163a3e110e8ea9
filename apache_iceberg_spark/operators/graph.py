"""Graph / link-analysis operators.

The reference has no graph surface; this extends the engine's iterative-
algorithm family beyond dd6's connected components with PageRank-style
centrality — the other canonical "loop over a self-join" shape. Like
ann7's k-means, the iterations are UNROLLED (two power steps) so the
whole computation is one lazy plan with a plain SQL oracle, and every
cross-row accumulation runs in exact integer micro-units so the result
is bitwise identical on both engines. Production runs the identical
per-iteration plan to convergence (dd6's driver loop pattern).

Scale shape per iteration: ONE join of the rank frame onto the
degree-annotated edge list (both hash-partitioned on the source node —
at 100 TB the edge list is a materialized table bucketed by src with
outdeg as a column, so the join is co-located) and one partial+final
aggregate on the destination. Nothing else shuffles; degrees are
computed once, by a window over the edge shuffle itself, and carried on
the persisted edge frame — no per-iteration degree join.

g3 is the convergence-loop production shape the unrolled g1 plan stands
for: the identical per-iteration dataflow driven to a max-|Δrank|
fixpoint with per-round persists and periodic lineage cuts (dd6's
iteration pattern).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from apache_iceberg_spark.registry import register
from apache_iceberg_spark.tables import load_table, load_table_parallel

#: Initial rank mass per node, in micro-units (1.0 == 1_000_000).
PR_MICRO = 1_000_000
#: Damping factor 0.85 expressed exactly as integer arithmetic:
#: r' = 0.15 + 0.85 * in_mass  ==  150_000 + (85 * in_mass) DIV 100.
PR_BASE_MICRO = 150_000


@register(
    "g1_pagerank",
    oracle=f"""
        WITH edges0 AS (
            SELECT DISTINCT o_custkey AS c, l_suppkey AS s
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        ),
        edges AS (
            SELECT 'c' AS src_kind, c AS src, 's' AS dst_kind, s AS dst
            FROM edges0
            UNION ALL
            SELECT 's', s, 'c', c FROM edges0
        ),
        deg AS (
            SELECT src_kind, src, CAST(COUNT(*) AS BIGINT) AS outdeg
            FROM edges GROUP BY src_kind, src
        ),
        r1 AS (
            SELECT e.dst_kind AS kind, e.dst AS node,
                   {PR_BASE_MICRO} + (85 * CAST(SUM(
                       {PR_MICRO} // d.outdeg) AS BIGINT)) // 100
                       AS rank_micro
            FROM edges e
            JOIN deg d ON d.src_kind = e.src_kind AND d.src = e.src
            GROUP BY e.dst_kind, e.dst
        ),
        r2 AS (
            SELECT e.dst_kind AS kind, e.dst AS node,
                   {PR_BASE_MICRO} + (85 * CAST(SUM(
                       r.rank_micro // d.outdeg) AS BIGINT)) // 100
                       AS rank_micro
            FROM edges e
            JOIN deg d ON d.src_kind = e.src_kind AND d.src = e.src
            JOIN r1 r ON r.kind = e.src_kind AND r.node = e.src
            GROUP BY e.dst_kind, e.dst
        )
        SELECT r2.node AS l_suppkey, r2.rank_micro,
               d.outdeg AS n_links
        FROM r2 JOIN deg d ON d.src_kind = 's' AND d.src = r2.node
        WHERE r2.kind = 's'
    """,
    doc="PageRank centrality, two power iterations unrolled, over the "
    "bipartite customer<->supplier trade graph (distinct "
    "(custkey, suppkey) pairs from lineitem x orders, edges in both "
    "directions): rank mass starts uniform, each step sends "
    "rank/outdegree along every edge and damps by 0.85 — all in exact "
    "integer micro-units (floor division, identical on both engines), "
    "so the oracle matches bitwise where floating PageRank could not. "
    "Suppliers central to many well-connected customers surface first "
    "— the link-analysis dual of dd6's connected components, and the "
    "second member (after ann7) of the unrolled-iteration family "
    "whose per-step plan is what a convergence loop runs at 100 TB.",
    tags=("graph", "iterative", "centrality"),
)
def g1_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges_deg = _trade_edges_with_deg(spark, sf_dir)
    r2 = _power_step(edges_deg, _power_step(edges_deg, None))
    return _supplier_projection(edges_deg, r2)


def _trade_edges_with_deg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persisted, degree-annotated bipartite trade edge list
    (src_kind, src, dst_kind, dst, outdeg) — the ONE shared input every
    PageRank iteration reads. Both directions come from one explode (a
    2-branch union would recompute the distinct-pairs join per branch);
    outdeg is a window count OVER THE EDGE SHUFFLE ITSELF (partitioned
    by source), so the degree annotation costs zero joins and the frame
    lands hash-distributed by source — exactly the layout each power
    step's rank join needs. At cluster scale this is the materialized
    edge table bucketed by src with outdeg as a column."""
    from pyspark.sql import Window

    l = load_table_parallel(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    pairs = (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    edges = pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("c").alias("src_kind"),
                    F.col("c").alias("src"),
                    F.lit("s").alias("dst_kind"),
                    F.col("s").alias("dst"),
                ),
                F.struct(
                    F.lit("s").alias("src_kind"),
                    F.col("s").alias("src"),
                    F.lit("c").alias("dst_kind"),
                    F.col("c").alias("dst"),
                ),
            )
        ).alias("e")
    ).select("e.src_kind", "e.src", "e.dst_kind", "e.dst")
    return edges.withColumn(
        "outdeg",
        F.count("*").over(Window.partitionBy("src_kind", "src")),
    ).persist()  # plan-cache


def _power_step(
    edges_deg: DataFrame,
    rank: DataFrame | None,
    broadcast_rank: bool = False,
) -> DataFrame:
    """One damped PageRank step over the degree-annotated edge list:
    ONE join (rank onto edges, skipped entirely for the uniform initial
    mass) + one partial+final aggregate on the destination.
    ``broadcast_rank`` hints the rank side (g3's loop when the measured
    node count fits a broadcast — the cached edge partitions then never
    re-shuffle and a round costs one map pass + one tiny aggregate)."""
    if rank is None:
        e = edges_deg.withColumn(
            "contrib", F.expr(f"CAST({PR_MICRO} AS BIGINT) DIV outdeg")
        )
    else:
        r = rank.select(
            F.col("kind").alias("src_kind"),
            F.col("node").alias("src"),
            "rank_micro",
        )
        if broadcast_rank:
            r = F.broadcast(r)
        e = edges_deg.join(r, ["src_kind", "src"]).withColumn(
            "contrib", F.expr("rank_micro DIV outdeg")
        )
    return (
        e.select(
            F.col("dst_kind").alias("kind"),
            F.col("dst").alias("node"),
            "contrib",
        )
        .groupBy("kind", "node")
        .agg(F.sum("contrib").alias("in_mass"))
        .select(
            "kind",
            "node",
            (
                PR_BASE_MICRO + F.expr("(85 * in_mass) DIV 100")
            ).cast("long").alias("rank_micro"),
        )
    )


def _supplier_projection(edges_deg: DataFrame, rank: DataFrame) -> DataFrame:
    """Final output shape shared by g1/g3: supplier ranks with their
    link counts, degrees read back off the persisted edge frame."""
    deg_s = (
        edges_deg.filter(F.col("src_kind") == "s")
        .select(F.col("src").alias("node"), F.col("outdeg").alias("n_links"))
        .distinct()
    )
    return (
        rank.filter(F.col("kind") == "s")
        .join(deg_s, "node")
        .select(F.col("node").alias("l_suppkey"), "rank_micro", "n_links")
    )


#: g3 convergence: stop when no node's rank moved more than 1% of its
#: previous value in a round (floored at G3_TOL_MICRO absolute — tiny
#: ranks should not chase sub-milli wiggles), or at the round cap. The
#: relative criterion is the PageRank convention: deltas decay by the
#: damping factor per round, so an absolute tolerance would need
#: log(hub_rank/tol)/log(1/0.85) rounds regardless of whether the
#: ORDERING stabilized long before.
G3_TOL_MICRO = 1_000
G3_REL_DIV = 100  # moved iff |Δ| > max(old/100, G3_TOL_MICRO)
G3_MAX_ROUNDS = 40
#: Node-count cutover below which the rank vector lives on the driver
#: between rounds (_g3_small_graph_loop); above it the rounds run as
#: distributed joins. Module-level so tests can force either branch.
#: Round-6 measurement (SCALE_NOTES.md): at 16k nodes the two branches
#: are a wash (1.23 vs 1.06 s/round); at 160k nodes the distributed
#: loop already wins 1.5x (2.44 vs 3.56 s/round) — the per-round
#: Arrow collect + LocalRelation broadcast grows with the vector while
#: the distributed join parallelizes. The original 5M cutover (sized
#: from broadcast-feasibility, not measurement) kept the driver branch
#: far past its crossover; lowered to 100k, just above the measured
#: break-even, where the vector is sub-MB either way.
G3_DRIVER_NODES = 100_000
#: Lineage-cut cadence (dd6's pattern: persist is cheap but does not
#: truncate the logical plan; cut with a lazy localCheckpoint every k).
_G3_CKPT_EVERY = 4


#: g3b's pinned round count — the REGISTERED CONVERGENCE PROFILE: the
#: number of rounds g3's relative-tolerance criterion needs on the
#: (md5-pinned) sf0.01 fixture, measured once and pinned here so the
#: bounded-round variant reproduces g3's converged output exactly there
#: (tests/test_round6_ops.py proves the equality). Unlike g3, g3b never
#: early-exits, so its semantics — "exactly N damped power steps" — are
#: deterministic at ANY scale factor and one-shot-SQL-expressible.
G3B_ROUNDS = 33


def _g3b_oracle(rounds: int = G3B_ROUNDS) -> str:
    """DuckDB oracle for g3b: the N-round damped power iteration UNROLLED
    into chained CTEs (r1..rN), generated programmatically — the exact
    integer micro-unit arithmetic of ``_power_step`` at every step, so
    the match is bitwise. This closes VERDICT r5 ask #2: g3's loop shape
    gets a hash-green driver row via its bounded-round twin."""
    steps = [
        f"""r1 AS MATERIALIZED (
            SELECT e.dst_kind AS kind, e.dst AS node,
                   {PR_BASE_MICRO} + (85 * CAST(SUM(
                       {PR_MICRO} // d.outdeg) AS BIGINT)) // 100
                       AS rank_micro
            FROM edges e
            JOIN deg d ON d.src_kind = e.src_kind AND d.src = e.src
            GROUP BY e.dst_kind, e.dst
        )"""
    ]
    for i in range(2, rounds + 1):
        steps.append(
            f"""r{i} AS MATERIALIZED (
            SELECT e.dst_kind AS kind, e.dst AS node,
                   {PR_BASE_MICRO} + (85 * CAST(SUM(
                       r.rank_micro // d.outdeg) AS BIGINT)) // 100
                       AS rank_micro
            FROM edges e
            JOIN deg d ON d.src_kind = e.src_kind AND d.src = e.src
            JOIN r{i - 1} r ON r.kind = e.src_kind AND r.node = e.src
            GROUP BY e.dst_kind, e.dst
        )"""
        )
    # MATERIALIZED everywhere: without the optimizer barrier DuckDB
    # inlines the whole 33-CTE chain into one join tree and its join-order
    # search goes super-linear (the un-hinted form did not finish in 100s
    # at sf0.001; hinted it runs in seconds).
    return f"""
        WITH edges0 AS MATERIALIZED (
            SELECT DISTINCT o_custkey AS c, l_suppkey AS s
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        ),
        edges AS MATERIALIZED (
            SELECT 'c' AS src_kind, c AS src, 's' AS dst_kind, s AS dst
            FROM edges0
            UNION ALL
            SELECT 's', s, 'c', c FROM edges0
        ),
        deg AS MATERIALIZED (
            SELECT src_kind, src, CAST(COUNT(*) AS BIGINT) AS outdeg
            FROM edges GROUP BY src_kind, src
        ),
        {",".join(steps)}
        SELECT rN.node AS l_suppkey, rN.rank_micro,
               d.outdeg AS n_links
        FROM r{rounds} rN JOIN deg d ON d.src_kind = 's' AND d.src = rN.node
        WHERE rN.kind = 's'
    """


@register(
    "g3_pagerank_converged",
    # Round 12 (VERDICT r11 ask #3): the oracle is g3b's unrolled
    # N-round power iteration. g3's round count is data-dependent, but
    # on the md5-PINNED driver fixture (sf0.01) convergence takes
    # exactly G3B_ROUNDS rounds and tests/test_round6_ops.py proves
    # g3 == g3b row-for-row there — so the unrolled CTE chain is the
    # exact value-hash oracle AT THE DRIVER'S FIXTURE, closing the
    # registry's last rows-only row. At any other scale factor the
    # equality is not implied (the loop may stop elsewhere); the
    # bounded-round semantics live under g3b for those.
    oracle=_g3b_oracle(),
    doc="PageRank run to CONVERGENCE — the production shape g1's unrolled "
    "two-step plan stands for: the identical per-iteration dataflow "
    "(one rank-onto-edges join + one destination aggregate, exact "
    "integer micro-units) driven by a driver loop until no node's rank "
    f"moves more than 1/{G3_REL_DIV} of its previous value (absolute "
    f"floor {G3_TOL_MICRO} micro-units, cap {G3_MAX_ROUNDS} rounds). "
    "When the measured node count fits a broadcast the rank side of "
    "every join is hinted broadcast — the cached edge partitions never "
    "re-shuffle and a round is one map pass + one tiny aggregate "
    "(min_label_components' small-graph trick); past that size the "
    "rounds run as shuffled joins over the src-bucketed edge table. "
    "Each round persists its frame and releases the previous one; "
    f"every {_G3_CKPT_EVERY}th round cuts lineage with a lazy "
    "localCheckpoint (dd6's iteration pattern — persist alone grows the "
    "logical plan exponentially with rounds). The convergence probe "
    "rides the SAME frame (old rank carried alongside new — a filter + "
    "count, no extra join). Oracle: the G3B_ROUNDS-unrolled power "
    "iteration — exact on the pinned driver fixture where convergence "
    "takes exactly that many rounds (pytest proves g3 == g3b there, "
    "plus the fixpoint property: one further power step moves nothing "
    "beyond tolerance, and round-2 ranks match g1's oracle-proven "
    "unrolled plan).",
    tags=("graph", "iterative", "centrality"),
)
def g3_pagerank_converged(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges_deg = _trade_edges_with_deg(spark, sf_dir)
    # plan-cache: ownership of `rank` transfers to the loop helper, which
    # unpersists it after the round-2 frame materializes (rank0.unpersist).
    rank = _power_step(edges_deg, None).persist()
    n_nodes = rank.count()  # materialize round 1 (and the edge cache)
    if n_nodes <= G3_DRIVER_NODES:
        return _g3_small_graph_loop(spark, edges_deg, rank)
    return _g3_distributed_loop(edges_deg, rank)


def _g3_distributed_loop(
    edges_deg: DataFrame,
    rank: DataFrame,
    max_rounds: int = G3_MAX_ROUNDS,
    converge: bool = True,
) -> DataFrame:
    """g3's rounds as distributed joins (past the driver-vector cutover).
    ``converge=False`` pins the loop to exactly ``max_rounds`` power
    steps with no early exit — g3b's deterministic bounded-round shape.
    ``rank`` must be persisted and already materialized by the caller."""
    prev_persisted = rank
    prev_ckpt: DataFrame | None = None
    rounds = 1
    while rounds < max_rounds:
        rounds += 1
        new = _power_step(edges_deg, rank)
        # Carry the old rank alongside the new one so the convergence
        # probe is a filter over this same frame — no dedicated join.
        merged = new.join(
            rank.select("kind", "node", F.col("rank_micro").alias("old_micro")),
            ["kind", "node"],
        )
        is_ckpt = rounds % _G3_CKPT_EVERY == 0
        merged = (
            merged.localCheckpoint(eager=False) if is_ckpt else merged.persist()
        )
        moved = merged.filter(
            F.abs(F.col("rank_micro") - F.col("old_micro"))
            > F.greatest(
                F.expr(f"old_micro DIV {G3_REL_DIV}"), F.lit(G3_TOL_MICRO)
            )
        ).count()
        # The count above materialized `merged`; everything upstream of it
        # is now releasable — the previous persisted frame AND (once a NEW
        # checkpoint lands) the previous checkpoint RDD, which otherwise
        # accumulates for the whole run (ADVICE r5).
        if prev_persisted is not None:
            prev_persisted.unpersist()
        if is_ckpt:
            if prev_ckpt is not None:
                prev_ckpt.unpersist()
            prev_ckpt, prev_persisted = merged, None
        else:
            prev_persisted = merged
        rank = merged.select("kind", "node", "rank_micro")
        if converge and moved == 0:
            break
    return _supplier_projection(edges_deg, rank)


def _g3_small_graph_loop(
    spark: SparkSession,
    edges_deg: DataFrame,
    rank0: DataFrame,
    max_rounds: int = G3_MAX_ROUNDS,
    converge: bool = True,
) -> DataFrame:
    """g3's rounds with the rank vector held on the DRIVER between
    iterations — min_label_components' size-gated argument applied to
    PageRank: at ≤5M nodes the rank vector is tens of MB, and the
    distributed loop would broadcast those same bytes to every executor
    EVERY round anyway (plus a second broadcast for the convergence
    probe, plus a count action). Here each round is ONE job: the rank
    vector re-enters the plan as a broadcast LocalRelation (Arrow), the
    cached edge partitions never re-shuffle, the destination aggregate
    collects back (Arrow), and the convergence probe is a vectorized
    driver-side compare. No persists or lineage cuts needed — every
    round's plan roots at a LocalRelation leaf. Past the node cutoff
    the caller runs the distributed loop instead."""
    import pandas as pd

    from apache_iceberg_spark.operators.dedup import iteration_partitions

    cur = rank0.toPandas().sort_values(["kind", "node"], ignore_index=True)
    rank0.unpersist()
    # Iteration-frame layout sized from the measured graph, not the
    # session's shuffle width: a small graph's rounds at 32 partitions
    # pay 64 near-empty tasks per round (measured 2.5x the round time at
    # sf0.01). coalesce reads the existing cache without a shuffle.
    parts = iteration_partitions(
        edges_deg.count(), spark.sparkContext.defaultParallelism
    )
    parent = edges_deg
    edges_deg = edges_deg.coalesce(parts).persist()
    edges_deg.count()  # materialize the coalesced cache off the parent's...
    parent.unpersist()  # ...then release the parent (ADVICE r5: the
    # re-persist otherwise double-holds the edge bytes for the whole run)
    rounds = 1
    while rounds < max_rounds:
        rounds += 1
        local = spark.createDataFrame(
            cur, schema="kind string, node long, rank_micro long"
        )
        new = (
            _power_step(edges_deg, local, broadcast_rank=True)
            .toPandas()
            .sort_values(["kind", "node"], ignore_index=True)
        )
        # Node set is static (every node has in-edges by construction:
        # edges go both directions), so the frames align row-for-row.
        old_v = cur["rank_micro"].to_numpy()
        new_v = new["rank_micro"].to_numpy()
        tol = pd.Series(old_v // G3_REL_DIV).clip(lower=G3_TOL_MICRO)
        moved = int((abs(new_v - old_v) > tol.to_numpy()).sum())
        cur = new
        if converge and moved == 0:
            break
    final = spark.createDataFrame(
        cur, schema="kind string, node long, rank_micro long"
    )
    return _supplier_projection(edges_deg, final)


@register(
    "g3b_pagerank_rounds",
    oracle=_g3b_oracle(),
    doc=f"PageRank for a PINNED {G3B_ROUNDS} rounds — g3's convergence "
    "loop with the round count fixed from the registered convergence "
    "profile (the rounds g3's tolerance needs on the pinned sf0.01 "
    "fixture) and the early exit disabled, making the computation "
    "deterministic at any scale factor and therefore one-shot-SQL-"
    "expressible: the oracle is the same integer micro-unit power "
    "step unrolled into chained CTEs programmatically. Runs the SAME "
    "size-gated loop machinery as g3 (driver-held rank vector under "
    "the node cutover, distributed joins past it), so this row hash-"
    "validates the production loop g3's rows-only check could not; "
    "pytest completes the bridge by proving g3 == g3b on the fixture.",
    tags=("graph", "iterative", "centrality"),
)
def g3b_pagerank_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges_deg = _trade_edges_with_deg(spark, sf_dir)
    rank = _power_step(edges_deg, None).persist()  # plan-cache
    n_nodes = rank.count()
    if n_nodes <= G3_DRIVER_NODES:
        return _g3_small_graph_loop(
            spark, edges_deg, rank, max_rounds=G3B_ROUNDS, converge=False
        )
    return _g3_distributed_loop(
        edges_deg, rank, max_rounds=G3B_ROUNDS, converge=False
    )


G2_KNN = 8   # strongest co-purchase neighbors kept per supplier
G2_CAP = 24  # suppliers counted per customer (interaction cap)


#: Shared oracle CTE chain building the kNN-sparsified co-purchase graph
#: (terminal CTE ``edges``: canonical u < v supplier pairs) — used by g2
#: (triangle counting) and g4 (link prediction).
_DUCK_KNN_EDGES = f"""e0 AS (
            SELECT DISTINCT o_custkey AS c, l_suppkey AS s
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        ),
        capped AS (
            SELECT c, unnest(ss) AS s FROM (
                SELECT c, list_sort(list(s))[1:{G2_CAP}] AS ss
                FROM e0 GROUP BY c)
        ),
        p AS (
            SELECT a.s AS u, b.s AS v, COUNT(*) AS shared
            FROM capped a JOIN capped b ON a.c = b.c AND a.s < b.s
            GROUP BY a.s, b.s
        ),
        dirs AS (
            SELECT u, v, shared FROM p
            UNION ALL SELECT v, u, shared FROM p
        ),
        knn AS (
            SELECT u, v FROM (
                SELECT u, v, ROW_NUMBER() OVER (
                    PARTITION BY u ORDER BY shared DESC, v
                ) AS rk FROM dirs
            ) WHERE rk <= {G2_KNN}
        ),
        edges AS (
            SELECT DISTINCT LEAST(u, v) AS u, GREATEST(u, v) AS v FROM knn
        )"""


def _knn_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The kNN-sparsified co-purchase graph: canonical (u < v) supplier
    edges where each supplier keeps its G2_KNN strongest neighbors by
    shared-customer count, each customer contributing at most G2_CAP
    suppliers — g2's construction, factored out so g4's link prediction
    runs over the identical graph. Returned frame is persisted (multiple
    consumers in every caller); DuckDB twin: _DUCK_KNN_EDGES."""
    from pyspark.sql import Window

    l = load_table_parallel(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    e0 = (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    # per-customer supplier sets -> in-bucket ordered pair explode
    # (one shuffle on customer; the self-join formulation shuffles the
    # same rows twice and joins row-level)
    per_cust = e0.groupBy("c").agg(
        F.slice(F.sort_array(F.collect_list("s")), 1, G2_CAP).alias("ss")
    )
    pairs = (
        per_cust.select(
            F.explode(
                F.expr(
                    "flatten(transform(ss, (x, i) -> "
                    "transform(slice(ss, i + 2, size(ss)), "
                    "y -> struct(x AS u, y AS v))))"
                )
            ).alias("pr")
        )
        .groupBy(F.col("pr.u").alias("u"), F.col("pr.v").alias("v"))
        .agg(F.count("*").alias("shared"))
    )
    # Both directions via one explode — referencing `pairs` twice would
    # recompute the whole upstream co-occurrence aggregation per branch.
    dirs = pairs.select(
        F.explode(
            F.array(
                F.struct("u", "v", "shared"),
                F.struct(
                    F.col("v").alias("u"), F.col("u").alias("v"), "shared"
                ),
            )
        ).alias("d")
    ).select("d.u", "d.v", "d.shared")
    w = Window.partitionBy("u").orderBy(F.desc("shared"), F.asc("v"))
    knn = (
        dirs.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= G2_KNN)
        .select("u", "v")
    )
    # The sparsified edge list (≤ G2_KNN * n_nodes rows) feeds multiple
    # join inputs in every caller; persist it so the full kNN pipeline
    # above runs once (at cluster scale: a checkpoint table, same idea).
    return (
        knn.select(
            F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v")
        )
        .distinct()
        .persist()  # plan-cache
    )


@register(
    "g2_triangle_count",
    oracle=f"""
        WITH {_DUCK_KNN_EDGES},
        tri AS (
            SELECT e1.u AS a, e1.v AS b, e2.v AS c
            FROM edges e1
            JOIN edges e2 ON e2.u = e1.v
            JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
        ),
        pernode AS (
            SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles FROM (
                SELECT a AS node FROM tri
                UNION ALL SELECT b FROM tri
                UNION ALL SELECT c FROM tri
            ) GROUP BY node
        )
        SELECT node AS l_suppkey, n_triangles FROM pernode
    """,
    doc=f"Triangle counting (clustering structure) over the top-"
    f"{G2_KNN} co-purchase similarity graph: each supplier keeps its "
    f"{G2_KNN} strongest neighbors by shared-customer count "
    "(deterministic tiebreak), which bounds every node's degree at "
    f"ANY density, and each customer contributes at most {G2_CAP} "
    "suppliers to the co-occurrence counts (the interaction cap that "
    "bounds the per-key explode under power-law customers) "
    "ANY corpus density — the standard kNN-graph sparsification that "
    "keeps motif counting tractable where a global threshold either "
    "empties or completes the graph as density shifts. Pair weights "
    "come from an in-bucket ordered-pair explode per customer (dd2's "
    "trick — one shuffle on customer, one on the pair key, never a "
    "row-level self-join); canonical orientation (u < v) counts each "
    "triangle once via two wedge-closing equi-joins; per-node counts "
    "aggregate partial+final. Third member of the graph family "
    "(dd6 CC, g1 PageRank).",
    tags=("graph", "motif", "centrality"),
)
def g2_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _knn_edges(spark, sf_dir)
    e1, e2, e3 = edges.alias("e1"), edges.alias("e2"), edges.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.u") == F.col("e1.v"))
        .join(
            e3,
            (F.col("e3.u") == F.col("e1.u")) & (F.col("e3.v") == F.col("e2.v")),
        )
        .select(
            F.col("e1.u").alias("a"),
            F.col("e1.v").alias("b"),
            F.col("e2.v").alias("c"),
        )
    )
    # One pass over tri (explode), not a 3-branch union recomputing it.
    nodes = tri.select(
        F.explode(F.array("a", "b", "c")).alias("node")
    )
    return nodes.groupBy(F.col("node").alias("l_suppkey")).agg(
        F.count("*").alias("n_triangles")
    )


# --- g4: link prediction — resource-allocation index ------------------------

#: Micro-unit for the per-common-neighbor 1/deg contribution.
G4_MICRO = 1_000_000


@register(
    "g4_link_prediction",
    oracle=f"""
        WITH {_DUCK_KNN_EDGES},
        adj AS (
            SELECT u AS z, v AS n FROM edges
            UNION ALL SELECT v, u FROM edges
        ),
        deg AS (
            SELECT z, CAST(COUNT(*) AS BIGINT) AS d FROM adj GROUP BY z
        ),
        wedges AS (
            SELECT a.n AS u, b.n AS v, a.z AS z
            FROM adj a JOIN adj b ON a.z = b.z AND a.n < b.n
        ),
        scored AS (
            SELECT w.u, w.v,
                   CAST(COUNT(*) AS BIGINT) AS n_common,
                   CAST(SUM({G4_MICRO} // d.d) AS BIGINT) AS ra_micro
            FROM wedges w JOIN deg d ON d.z = w.z
            GROUP BY w.u, w.v
        )
        SELECT s.u, s.v, s.n_common, s.ra_micro
        FROM scored s
        LEFT JOIN edges e ON e.u = s.u AND e.v = s.v
        WHERE e.u IS NULL
    """,
    doc="LINK PREDICTION via the resource-allocation index over g2's "
    "kNN-sparsified co-purchase graph: for every NON-adjacent supplier "
    "pair sharing at least one neighbor, RA(u,v) = sum over common "
    "neighbors z of 1/deg(z) — Zhou et al.'s strongest local "
    "similarity index, here in exact micro-units (1e6 // deg, BIGINT "
    "sums — no cross-row float accumulation; the log-weighted "
    "Adamic-Adar variant is deliberately avoided for the same libm "
    "reason as tx16). Completes the graph family's analytics arc: "
    "dd6 finds components, g1/g3 rank nodes, g2 counts closed "
    "triangles, g4 scores the OPEN wedges those triangles would close "
    "— the recommendation query. Scale: the wedge join fans out by "
    f"deg(z)^2 but the kNN cap bounds every degree at {G2_KNN}, so "
    "candidate volume is <= n * K^2 at any corpus density (same "
    "argument as g2); one shuffle on z, one on the pair, the "
    "anti-join broadcasts the edge list when small or shuffles on the "
    "canonical pair key.",
    tags=("graph", "similarity", "recommendation"),
)
def g4_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _knn_edges(spark, sf_dir)
    adj = edges.select(
        F.explode(
            F.array(
                F.struct(F.col("u").alias("z"), F.col("v").alias("n")),
                F.struct(F.col("v").alias("z"), F.col("u").alias("n")),
            )
        ).alias("a")
    ).select("a.z", "a.n")
    deg = adj.groupBy("z").agg(F.count("*").alias("d"))
    a, b = adj.alias("a"), adj.alias("b")
    wedges = a.join(
        b,
        (F.col("a.z") == F.col("b.z")) & (F.col("a.n") < F.col("b.n")),
    ).select(
        F.col("a.n").alias("u"), F.col("b.n").alias("v"), F.col("a.z").alias("z")
    )
    scored = (
        wedges.join(deg, "z")
        .groupBy("u", "v")
        .agg(
            F.count("*").alias("n_common"),
            F.sum(F.expr(f"{G4_MICRO} DIV d")).alias("ra_micro"),
        )
    )
    return scored.join(edges, ["u", "v"], "left_anti").select(
        "u", "v", "n_common", "ra_micro"
    )


# --- g5: bounded-hop shortest paths -----------------------------------------

G5_MAX_HOPS = 4
G5_N_SEEDS = 2


@register(
    "g5_khop_distance",
    oracle=f"""
        WITH RECURSIVE {_DUCK_KNN_EDGES},
        adj AS (
            SELECT u AS src, v AS dst FROM edges
            UNION ALL SELECT v, u FROM edges
        ),
        seeds AS (
            SELECT node FROM (SELECT DISTINCT src AS node FROM adj)
            ORDER BY node LIMIT {G5_N_SEEDS}
        ),
        walk(node, dist) AS (
            SELECT node, 0 FROM seeds
            UNION ALL
            SELECT a.dst, w.dist + 1
            FROM walk w JOIN adj a ON a.src = w.node
            WHERE w.dist < {G5_MAX_HOPS}
        )
        SELECT node AS l_suppkey, CAST(MIN(dist) AS BIGINT) AS dist
        FROM walk GROUP BY node
    """,
    doc=f"Bounded-hop SHORTEST PATHS — the graph-distance primitive "
    "completing the family (dd6 components, g1/g3 centrality, g2 "
    "motifs, g4 link scores, g5 DISTANCE): BFS distance <= "
    f"{G5_MAX_HOPS} hops from the {G5_N_SEEDS} lowest-id suppliers "
    "over the shared kNN co-purchase graph, as a DELTA-FRONTIER BFS "
    "(VERDICT r7 ask #2): each round expands ONLY the nodes first "
    "reached in the previous round — one join frontier-to-adjacency, "
    "one anti-join against the settled set — so per-hop shuffle work "
    "is O(|frontier| x deg), not O(|settled| x deg) as the naive "
    "union-and-reaggregate form pays (tools/scale_probe.py g5 measures "
    "the gap). On unit weights the first-discovery hop IS the shortest "
    "distance, so the delta form is exact, and an empty frontier "
    "early-exits the driver loop (dd6's pattern). The oracle is a "
    "genuinely RECURSIVE DuckDB CTE (path enumeration bounded by the "
    "hop cap, then MIN) — two different algorithms, one answer. All "
    "integer; frontier size is bounded by the kNN degree cap (<= "
    f"{G2_KNN}^h nodes per seed). Production runs the identical "
    "per-round plan to an all-reached fixpoint; per-hop frontiers are "
    "localCheckpoint'd so round h's plan does not re-derive rounds "
    "1..h-1.",
    tags=("graph", "iterative", "distance"),
)
def g5_khop_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _knn_edges(spark, sf_dir)
    adj = edges.select(
        F.explode(
            F.array(
                F.struct(F.col("u").alias("src"), F.col("v").alias("dst")),
                F.struct(F.col("v").alias("src"), F.col("u").alias("dst")),
            )
        ).alias("a")
    ).select("a.src", "a.dst")
    seeds = (
        adj.select("src").distinct()
        .orderBy("src")
        .limit(G5_N_SEEDS)
        .select(F.col("src").alias("node"), F.lit(0).cast("long").alias("dist"))
    )
    layers = list(_g5_layers(adj, seeds, G5_MAX_HOPS))
    out = layers[0]
    for lay in layers[1:]:
        out = out.unionByName(lay)
    return out.select(F.col("node").alias("l_suppkey"), "dist")


def _g5_layers(adj: DataFrame, seeds: DataFrame, max_hops: int):
    """Delta-frontier BFS layers: yields the (node, dist) frame of nodes
    FIRST reached at each hop 0..max_hops. The expansion input of round
    h is exactly layer h-1 (the frontier), never the settled union —
    test_round8_ops asserts this behaviorally on a path graph where
    every layer has one node while the settled set grows. Each frontier
    is localCheckpoint'd: it is consumed twice (expansion + the settled
    anti-join of every later round) and checkpointing truncates the
    otherwise exponentially-nesting lineage (dd6's loop convention)."""
    frontier = seeds.localCheckpoint(eager=False)
    yield frontier
    settled = frontier.select("node")
    for h in range(1, max_hops + 1):
        reached = (
            frontier.join(adj, frontier["node"] == adj["src"])
            .select(F.col("dst").alias("node"))
            .distinct()
        )
        frontier = (
            reached.join(settled, "node", "left_anti")
            .select("node", F.lit(h).cast("long").alias("dist"))
            .localCheckpoint(eager=False)
        )
        if frontier.isEmpty():
            return
        yield frontier
        settled = settled.unionByName(frontier.select("node"))


# --- g6: truncated Katz centrality ------------------------------------------

G6_HOPS = 3  # walk-length truncation L
G6_BETA_DEN = 8  # β = 1/8 (< 1/λ_max for the kNN-capped graph: degree ≤
# 2·G2_KNN bounds the spectral radius, so the series would converge even
# untruncated; 1/8 also makes β^l·8^L exact integers)


@register(
    "g6_katz_centrality",
    oracle=f"""
        WITH {_DUCK_KNN_EDGES},
        adj AS (
            SELECT u AS src, v AS dst FROM edges
            UNION ALL SELECT v, u FROM edges
        ),
        w1 AS (
            SELECT dst AS node, CAST(COUNT(*) AS BIGINT) AS w
            FROM adj GROUP BY dst
        ),
        w2 AS (
            SELECT a.dst AS node, CAST(SUM(p.w) AS BIGINT) AS w
            FROM adj a JOIN w1 p ON p.node = a.src GROUP BY a.dst
        ),
        w3 AS (
            SELECT a.dst AS node, CAST(SUM(p.w) AS BIGINT) AS w
            FROM adj a JOIN w2 p ON p.node = a.src GROUP BY a.dst
        )
        SELECT w1.node AS suppkey,
               w1.w AS walks1,
               COALESCE(w2.w, 0) AS walks2,
               COALESCE(w3.w, 0) AS walks3,
               {G6_BETA_DEN ** 2} * w1.w + {G6_BETA_DEN} * COALESCE(w2.w, 0)
                 + COALESCE(w3.w, 0) AS katz_scaled
        FROM w1
        LEFT JOIN w2 ON w2.node = w1.node
        LEFT JOIN w3 ON w3.node = w1.node
    """,
    doc=f"Truncated Katz centrality over the kNN co-purchase graph: "
    f"katz(v) = Σ_l β^l·walks_l(v) for l ≤ {G6_HOPS}, β = 1/{G6_BETA_DEN}, "
    f"reported as the EXACT BIGINT katz·{G6_BETA_DEN}^{G6_HOPS} "
    "(64·w1 + 8·w2 + w3) — zero float in the recurrence, same "
    "n-scaling trick as ts13. Each walk level is ONE shuffle on the "
    "node key (adjacency ⨝ previous level → partial+final SUM); the "
    "kNN cap bounds fan-out at 2·G2_KNN per node, so level sizes stay "
    "|V|·O(1) rows and walk counts grow ≤ (2·G2_KNN)^l — far inside "
    "BIGINT at any corpus scale. The unrolled-levels shape is g5's "
    "pattern applied to a weighted-walk recurrence (delta-frontier "
    "doesn't apply: every node stays live in every level).",
    tags=("graph", "analytics"),
)
def g6_katz_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _knn_edges(spark, sf_dir)
    adj = edges.select(
        F.explode(
            F.array(
                F.struct(F.col("u").alias("src"), F.col("v").alias("dst")),
                F.struct(F.col("v").alias("src"), F.col("u").alias("dst")),
            )
        ).alias("a")
    ).select("a.src", "a.dst")
    w1 = adj.groupBy(F.col("dst").alias("node")).agg(
        F.count("*").cast("long").alias("w")
    )
    levels = [w1]
    for _ in range(G6_HOPS - 1):
        prev = levels[-1]
        nxt = (
            adj.join(prev, adj["src"] == prev["node"])
            .groupBy(F.col("dst").alias("node2"))
            .agg(F.sum("w").cast("long").alias("w"))
            .withColumnRenamed("node2", "node")
        )
        levels.append(nxt)
    w1_, w2_, w3_ = (
        levels[0].withColumnRenamed("w", "walks1"),
        levels[1].withColumnRenamed("w", "walks2"),
        levels[2].withColumnRenamed("w", "walks3"),
    )
    j = w1_.join(w2_, "node", "left").join(w3_, "node", "left")
    walks2 = F.coalesce(F.col("walks2"), F.lit(0).cast("long"))
    walks3 = F.coalesce(F.col("walks3"), F.lit(0).cast("long"))
    return j.select(
        F.col("node").alias("suppkey"),
        "walks1",
        walks2.alias("walks2"),
        walks3.alias("walks3"),
        (
            F.lit(G6_BETA_DEN**2) * F.col("walks1")
            + F.lit(G6_BETA_DEN) * walks2
            + walks3
        ).alias("katz_scaled"),
    )


# ---------------------------------------------------------------------------
# g7: label-propagation communities (synchronous LPA, unrolled rounds)
# ---------------------------------------------------------------------------

#: Synchronous LPA rounds. Like g1/g6 the loop is UNROLLED so the whole
#: computation is one lazy plan with a plain SQL oracle; production
#: drives the identical per-round plan to a no-label-changed fixpoint
#: (g3's convergence-loop pattern).
G7_ROUNDS = 3


def _g7_round_cte(prev: str, out: str) -> str:
    """One DuckDB LPA round: each node adopts its neighbors' modal label
    (count DESC, label ASC on ties — fully deterministic)."""
    return f"""{out} AS (
            SELECT u AS node, lbl FROM (
                SELECT d.u, p.lbl, COUNT(*) AS cnt,
                       ROW_NUMBER() OVER (
                           PARTITION BY d.u
                           ORDER BY COUNT(*) DESC, p.lbl
                       ) AS rn
                FROM sym d JOIN {prev} p ON p.node = d.v
                GROUP BY d.u, p.lbl
            ) WHERE rn = 1
        )"""


def _g7_oracle(rounds_n: int = G7_ROUNDS) -> str:
    rounds = ",\n        ".join(
        _g7_round_cte(f"l{r}", f"l{r + 1}") for r in range(rounds_n)
    )
    return f"""
        WITH {_DUCK_KNN_EDGES},
        sym AS (
            SELECT u, v FROM edges UNION ALL SELECT v, u FROM edges
        ),
        l0 AS (
            SELECT DISTINCT u AS node, u AS lbl FROM sym
        ),
        {rounds}
        SELECT node, lbl AS community
        FROM l{rounds_n}
    """


def _g7_setup(spark: SparkSession, sf_dir: str):
    """Shared LPA plumbing: (directed edges, initial labels, modal-pick
    window) — one source of truth for g7's unrolled rounds and g7b's
    convergence driver, so the two cannot drift."""
    from pyspark.sql import Window

    edges = _knn_edges(spark, sf_dir)
    dirs = edges.select(
        F.explode(
            F.array(
                F.struct("u", "v"),
                F.struct(F.col("v").alias("u"), F.col("u").alias("v")),
            )
        ).alias("d")
    ).select("d.u", "d.v")
    labels = dirs.select(F.col("u").alias("node")).distinct().select(
        "node", F.col("node").alias("lbl")
    )
    w = Window.partitionBy("u").orderBy(F.desc("cnt"), F.asc("lbl"))
    return dirs, labels, w


def _g7_round(dirs: DataFrame, labels: DataFrame, w) -> DataFrame:
    """One synchronous LPA round: every node adopts its neighbors' modal
    label (count DESC, label ASC — deterministic)."""
    return (
        dirs.join(labels, dirs["v"] == labels["node"])
        .groupBy("u", "lbl")
        .agg(F.count("*").alias("cnt"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(F.col("u").alias("node"), "lbl")
    )



@register(
    "g7_lpa_communities",
    oracle=_g7_oracle(),
    doc=f"Community detection by synchronous label propagation over the "
    "shared kNN co-purchase graph (g2/g4/g6's _knn_edges): every node "
    "starts as its own label and adopts its neighbors' modal label "
    "each round (count DESC, label ASC — deterministic, unlike classic "
    f"random-tie LPA), {G7_ROUNDS} rounds unrolled into one lazy plan. "
    "Scale shape per round: ONE join of the label vector onto the "
    "directed edge list (both partitioned on the node key — at 100 TB "
    "the edge table is bucketed by src so the join is co-located, the "
    "Pregel message pattern) and one partial+final (node, label) "
    "count; the modal pick rides the count shuffle's partitioning. "
    "Labels are node ids (BIGINT) — no strings move through the "
    "rounds. Production form: g3's convergence driver loop over the "
    "identical per-round plan, stopping when no label changes.",
    tags=("graph", "iterative", "community"),
)
def g7_lpa_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    dirs, labels, w = _g7_setup(spark, sf_dir)
    for _ in range(G7_ROUNDS):
        labels = _g7_round(dirs, labels, w)
    return labels.select("node", F.col("lbl").alias("community"))


# ---------------------------------------------------------------------------
# g7b: LPA to the FIXPOINT — the registered convergence profile
# ---------------------------------------------------------------------------

#: Oracle unroll depth for the converged twin. The fixture's measured
#: fixpoints (this file's sync-LPA with deterministic ties): sf0.001
#: stabilizes after round 2, sf0.01 after round 4 — so 6 unrolled rounds
#: over-approximate both, and once stable every extra round is the
#: identity, making the pinned-round oracle equal the true fixpoint.
G7B_PIN_ROUNDS = 6
G7B_MAX_ROUNDS = 20


@register(
    "g7b_lpa_converged",
    oracle=_g7_oracle(G7B_PIN_ROUNDS),
    doc=f"LPA run to the FIXPOINT — g7's g3/g3b-convention twin: the "
    "convergence DRIVER LOOP production uses, materializing each round "
    "and stopping when no label changes (plus an explicit 2-CYCLE "
    "detector: synchronous LPA can oscillate with period 2 on "
    "bipartite-ish structures — e.g. an even cycle under these "
    "deterministic ties — which a naive changed-count loop would spin "
    "on until the cap; oscillation raises rather than returning a "
    "non-answer). On this fixture the loop converges in 2 rounds at "
    f"sf0.001 and 4 at sf0.01 (measured; no oscillation), so the "
    f"{G7B_PIN_ROUNDS}-round unrolled oracle equals the fixpoint — "
    "extra rounds past stability are the identity. Same per-round scale "
    "shape as g7 (one co-locatable join + one partial+final count); "
    "the driver adds two O(|V|) count jobs per round (changed?, "
    "cycling?), the g3 pattern.",
    tags=("graph", "iterative", "community"),
)
def g7b_lpa_converged(spark: SparkSession, sf_dir: str) -> DataFrame:
    dirs, labels, w = _g7_setup(spark, sf_dir)
    dirs = dirs.persist()
    labels = labels.persist()

    def _differs(a: DataFrame, b: DataFrame) -> int:
        return (
            a.select("node", F.col("lbl").alias("lbl_a"))
            .join(b.select("node", F.col("lbl").alias("lbl_b")), "node")
            .filter(F.col("lbl_a") != F.col("lbl_b"))
            .count()
        )

    prev2 = None
    for _ in range(G7B_MAX_ROUNDS):
        new = _g7_round(dirs, labels, w).persist()
        if _differs(new, labels) == 0:
            # Converged: checkpoint the (tiny) answer so every cached
            # frame it derives from can be released before returning —
            # the full persist-lifecycle convention (the pre-fix shape
            # leaked `labels`/`prev2` on this path, caught by the
            # test_round7 AST audit).
            result = new.select(
                "node", F.col("lbl").alias("community")
            ).localCheckpoint()
            new.unpersist()
            labels.unpersist()
            if prev2 is not None:
                prev2.unpersist()
            dirs.unpersist()
            return result
        if prev2 is not None and _differs(new, prev2) == 0:
            raise RuntimeError(
                "g7b: synchronous LPA entered a 2-cycle on this graph; "
                "no fixpoint exists under deterministic ties — use the "
                "bounded-round g7 contract or asynchronous updates"
            )
        if prev2 is not None:
            prev2.unpersist()
        prev2, labels = labels, new
    raise RuntimeError(f"g7b: no fixpoint within {G7B_MAX_ROUNDS} rounds")


# --- g8: bounded-hop harmonic centrality -------------------------------------

G8_MAX_HOPS = 3  # distance truncation D (oracle path enumeration is
# bounded by deg^D per source; the kNN degree cap keeps that ≤ (2·G2_KNN)^3)


@register(
    "g8_harmonic_centrality",
    oracle=f"""
        WITH RECURSIVE {_DUCK_KNN_EDGES},
        adj AS (
            SELECT u AS src, v AS dst FROM edges
            UNION ALL SELECT v, u FROM edges
        ),
        nodes AS (SELECT DISTINCT src AS node FROM adj),
        walk(src, node, dist) AS (
            SELECT node, node, 0 FROM nodes
            UNION ALL
            SELECT w.src, a.dst, w.dist + 1
            FROM walk w JOIN adj a ON a.src = w.node
            WHERE w.dist < {G8_MAX_HOPS}
        ),
        d AS (
            SELECT src, node, MIN(dist) AS dist
            FROM walk GROUP BY src, node
            HAVING MIN(dist) > 0
        )
        SELECT src AS l_suppkey,
               CAST(SUM(1000000 // dist) AS BIGINT) AS h_micro,
               CAST(COUNT(*) AS BIGINT) AS n_reached
        FROM d GROUP BY src
    """,
    doc=f"Bounded-hop HARMONIC centrality — the distance-based member "
    "completing the centrality family (g1/g3 eigenvector-flavoured "
    "PageRank, g6 walk-counting Katz, g8 closeness-flavoured "
    "harmonic): H(u) = Σ 1/d(u,v) over nodes first reached within "
    f"{G8_MAX_HOPS} hops, in exact integer micro-units (1000000 DIV d "
    "— no float division, engine-exact; harmonic handles disconnected "
    "graphs where classic closeness diverges, which is why the "
    "truncated form is THE practical centrality at scale, cf. "
    "HyperBall). Spark shape: g5's delta-frontier BFS generalized to "
    "ALL sources at once — the frontier is (src, node) pairs, each hop "
    "one join frontier-to-adjacency + one anti-join against the "
    "settled set, per-hop work O(|frontier| x deg) with the frontier "
    "bounded by V x (2·{G2_KNN})^h; first discovery IS the shortest "
    "distance, so the per-(src,node) min needs no re-aggregation. "
    "Layers localCheckpoint per the dd6/g5 lineage convention. Oracle: "
    "bounded path enumeration in a recursive CTE + MIN — different "
    "algorithm, one exact answer.",
    tags=("graph", "iterative", "centrality"),
)
def g8_harmonic_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _knn_edges(spark, sf_dir)
    adj = edges.select(
        F.explode(
            F.array(
                F.struct(F.col("u").alias("asrc"), F.col("v").alias("adst")),
                F.struct(F.col("v").alias("asrc"), F.col("u").alias("adst")),
            )
        ).alias("a")
    ).select("a.asrc", "a.adst")
    seeds = (
        adj.select("asrc").distinct()
        .select(
            F.col("asrc").alias("src"),
            F.col("asrc").alias("node"),
            F.lit(0).cast("long").alias("dist"),
        )
    )
    # r17 note (guide §1.1's "the ideal plan is usually slower at
    # first"): two rewrites of the last hop were built and A/B'd
    # in-session (alternating, same JVM) — (a) emitting the RAW last
    # expansion and resolving first-discovery with one
    # groupBy(src,node).min(dist) instead of distinct + anti-join +
    # checkpoint, and (b) merely dropping the last hop's isEmpty probe.
    # Both LOST to this shape (a: 12.7-13.7 s -> 14.1-16.7 s; b: flat
    # to worse): the per-hop probes double as staged materialization of
    # the localCheckpoints, so the final aggregate reads small cached
    # layers instead of re-deriving the widest expansion, and distinct's
    # map-side partial dedup beats carrying the raw 2.8M-row fan-out
    # into the min aggregate. Kept as-is, on measurement.
    frontier = seeds.localCheckpoint(eager=False)
    settled = frontier.select("src", "node")
    reached_layers = []
    for h in range(1, G8_MAX_HOPS + 1):
        expanded = (
            frontier.join(adj, frontier["node"] == adj["asrc"])
            .select("src", F.col("adst").alias("node"))
            .distinct()
        )
        frontier = (
            expanded.join(settled, ["src", "node"], "left_anti")
            .select("src", "node", F.lit(h).cast("long").alias("dist"))
            .localCheckpoint(eager=False)
        )
        if frontier.isEmpty():
            break
        reached_layers.append(frontier)
        settled = settled.unionByName(frontier.select("src", "node"))
    out = reached_layers[0]
    for layer in reached_layers[1:]:
        out = out.unionByName(layer)
    return out.groupBy("src").agg(
        F.sum(F.expr("1000000 DIV dist")).alias("h_micro"),
        F.count(F.lit(1)).alias("n_reached"),
    ).select(F.col("src").alias("l_suppkey"), "h_micro", "n_reached")


# --- g9: neighborhood Jaccard node similarity --------------------------------

#: ppm scaling for the exact-integer Jaccard ratio.
G9_PPM = 1_000_000


@register(
    "g9_neighborhood_jaccard",
    oracle=f"""
        WITH {_DUCK_KNN_EDGES},
        adj AS (
            SELECT u AS z, v AS n FROM edges
            UNION ALL SELECT v, u FROM edges
        ),
        deg AS (
            SELECT z, CAST(COUNT(*) AS BIGINT) AS d FROM adj GROUP BY z
        ),
        wedges AS (
            SELECT a.n AS u, b.n AS v
            FROM adj a JOIN adj b ON a.z = b.z AND a.n < b.n
        ),
        common AS (
            SELECT u, v, CAST(COUNT(*) AS BIGINT) AS n_common
            FROM wedges GROUP BY u, v
        ),
        nonadj AS (
            SELECT c.u, c.v, c.n_common
            FROM common c LEFT JOIN edges e ON e.u = c.u AND e.v = c.v
            WHERE e.u IS NULL
        )
        SELECT s.u, s.v, s.n_common,
               du.d + dv.d - s.n_common AS union_deg,
               CAST(s.n_common * {G9_PPM}
                    // (du.d + dv.d - s.n_common) AS BIGINT) AS jaccard_ppm
        FROM nonadj s
        JOIN deg du ON du.z = s.u
        JOIN deg dv ON dv.z = s.v
    """,
    doc="NEIGHBORHOOD-JACCARD node similarity over g2's kNN-sparsified "
    "co-purchase graph: for every non-adjacent supplier pair sharing "
    "at least one neighbor, J(u,v) = |N(u) ∩ N(v)| / |N(u) ∪ N(v)| — "
    "the degree-NORMALIZED complement of g4's resource-allocation "
    "index (RA rewards rare common neighbors; Jaccard asks how much "
    "of both neighborhoods overlaps, the structural-equivalence "
    "measure entity resolution and role discovery use). ENTIRELY "
    "exact integers: intersection = the wedge count, union = "
    "deg(u) + deg(v) - intersection, ratio emitted in ppm via integer "
    "DIV — zero float anywhere, so the hash is trivially stable. "
    "Scale: the same wedge join as g2/g4 (fan-out bounded by the kNN "
    f"degree cap {G2_KNN} -> candidates <= n*K^2 at any density), one "
    "shuffle on z, one on the pair key; the two degree joins "
    "broadcast (|nodes| rows). Shares _knn_edges with g2/g4/g5/g6 so "
    "all five score the IDENTICAL graph.",
    tags=("graph", "similarity"),
)
def g9_neighborhood_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _knn_edges(spark, sf_dir)
    adj = edges.select(
        F.explode(
            F.array(
                F.struct(F.col("u").alias("z"), F.col("v").alias("n")),
                F.struct(F.col("v").alias("z"), F.col("u").alias("n")),
            )
        ).alias("a")
    ).select("a.z", "a.n")
    deg = adj.groupBy("z").agg(F.count("*").alias("d"))
    a, b = adj.alias("a"), adj.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.z") == F.col("b.z")) & (F.col("a.n") < F.col("b.n")),
        )
        .groupBy(
            F.col("a.n").alias("u"), F.col("b.n").alias("v")
        )
        .agg(F.count("*").alias("n_common"))
    )
    nonadj = common.join(edges, ["u", "v"], "left_anti")
    du = deg.select(F.col("z").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("z").alias("v"), F.col("d").alias("dv"))
    # deg is |V| rows: small enough to broadcast at bench scale (AQE
    # does so at runtime), but NOT forced — a 1e8-node graph must be
    # allowed to shuffle these joins (g4's adaptive precedent).
    return (
        nonadj.join(du, "u")
        .join(dv, "v")
        .select(
            "u",
            "v",
            "n_common",
            (F.col("du") + F.col("dv") - F.col("n_common")).alias(
                "union_deg"
            ),
            F.expr(f"n_common * {G9_PPM} DIV (du + dv - n_common)").alias(
                "jaccard_ppm"
            ),
        )
    )


# --- g10: degree assortativity ------------------------------------------------

# Pearson correlation of endpoint degrees over the directed edge list —
# all inputs exact BIGINT sums, the one float formula shared textually
# (a21's recipe; mu_x == mu_y by symmetry but the formula keeps both so
# the text is the general one).
_G10_MX = "(CAST(s1x AS DOUBLE) / CAST(m AS DOUBLE))"
_G10_MY = "(CAST(s1y AS DOUBLE) / CAST(m AS DOUBLE))"
_G10_R = (
    f"(CAST(sxy AS DOUBLE) - CAST(m AS DOUBLE) * {_G10_MX} * {_G10_MY}) "
    f"/ (sqrt(CAST(s2x AS DOUBLE) - CAST(m AS DOUBLE) "
    f"* {_G10_MX} * {_G10_MX}) "
    f"* sqrt(CAST(s2y AS DOUBLE) - CAST(m AS DOUBLE) "
    f"* {_G10_MY} * {_G10_MY}))"
)


@register(
    "g10_degree_assortativity",
    oracle=f"""
        WITH {_DUCK_KNN_EDGES},
        adj AS (
            SELECT u AS z, v AS n FROM edges
            UNION ALL SELECT v, u FROM edges
        ),
        deg AS (
            SELECT z, CAST(COUNT(*) AS BIGINT) AS d FROM adj GROUP BY z
        ),
        pairs AS (
            SELECT du.d AS x, dv.d AS y
            FROM adj a JOIN deg du ON du.z = a.z JOIN deg dv ON dv.z = a.n
        ),
        g AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS m,
                   CAST(SUM(x) AS BIGINT) AS s1x,
                   CAST(SUM(x * x) AS BIGINT) AS s2x,
                   CAST(SUM(y) AS BIGINT) AS s1y,
                   CAST(SUM(y * y) AS BIGINT) AS s2y,
                   CAST(SUM(x * y) AS BIGINT) AS sxy
            FROM pairs
        )
        SELECT m AS n_directed_edges, s1x AS sum_deg, {_G10_R}
                   AS assortativity
        FROM g
    """,
    doc="DEGREE ASSORTATIVITY of the kNN co-purchase graph — Newman's "
    "r: the Pearson correlation of endpoint degrees over the directed "
    "edge list, THE one-number summary of whether hubs attach to hubs "
    "(r>0, social-network-like) or to leaves (r<0, hub-and-spoke — "
    "what a kNN cap typically induces), read before trusting any "
    "degree-driven sampling or g1-style ranking. Exact BIGINT moment "
    "sums over one degree-join pass (a21's recipe: floats only in the "
    "final textually-shared formula; the two sqrts are correctly "
    "rounded per IEEE). Scale: two degree lookups (AQE broadcasts "
    "them when small, shuffles when not — never forced) "
    "against the edge list, one aggregate — no window, no self-join "
    "beyond the |E|-row adjacency; shares _knn_edges with the rest "
    "of the g-family so the measured graph is identical.",
    tags=("graph", "statistics"),
)
def g10_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _knn_edges(spark, sf_dir)
    adj = edges.select(
        F.explode(
            F.array(
                F.struct(F.col("u").alias("z"), F.col("v").alias("n")),
                F.struct(F.col("v").alias("z"), F.col("u").alias("n")),
            )
        ).alias("a")
    ).select("a.z", "a.n")
    deg = adj.groupBy("z").agg(F.count("*").alias("d"))
    du = deg.select(F.col("z"), F.col("d").alias("x"))
    dv = deg.select(F.col("z").alias("n"), F.col("d").alias("y"))
    # adaptive, not forced: see g9's note — deg is |V| rows
    pairs = adj.join(du, "z").join(dv, "n")
    g = pairs.agg(
        F.count(F.lit(1)).alias("m"),
        F.sum("x").alias("s1x"),
        F.sum(F.col("x") * F.col("x")).alias("s2x"),
        F.sum("y").alias("s1y"),
        F.sum(F.col("y") * F.col("y")).alias("s2y"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    return g.select(
        F.col("m").alias("n_directed_edges"),
        F.col("s1x").alias("sum_deg"),
        F.expr(_G10_R).alias("assortativity"),
    )


# --- g11: local clustering coefficient ----------------------------------------

G11_PPM = 1_000_000


@register(
    "g11_local_clustering",
    oracle=f"""
        WITH {_DUCK_KNN_EDGES},
        adj AS (
            SELECT u AS z, v AS n FROM edges
            UNION ALL SELECT v, u FROM edges
        ),
        deg AS (
            SELECT z, CAST(COUNT(*) AS BIGINT) AS d FROM adj GROUP BY z
        ),
        wedges AS (
            SELECT a.z, a.n AS u, b.n AS v
            FROM adj a JOIN adj b ON a.z = b.z AND a.n < b.n
        ),
        tri AS (
            SELECT w.z, CAST(COUNT(*) AS BIGINT) AS n_tri
            FROM wedges w JOIN edges e ON e.u = w.u AND e.v = w.v
            GROUP BY w.z
        )
        SELECT deg.z AS node,
               deg.d AS degree,
               CAST(COALESCE(tri.n_tri, 0) AS BIGINT) AS triangles,
               CAST(2 * COALESCE(tri.n_tri, 0) * {G11_PPM}
                    // (deg.d * (deg.d - 1)) AS BIGINT) AS clustering_ppm
        FROM deg LEFT JOIN tri ON tri.z = deg.z
        WHERE deg.d >= 2
        ORDER BY node
    """,
    doc="LOCAL clustering coefficient per node over g2's kNN-sparsified "
    "co-purchase graph: C(z) = 2*tri(z) / (deg(z)*(deg(z)-1)) — what "
    "fraction of z's neighbor pairs are themselves connected, the "
    "per-node refinement of g2's global triangle count (Watts-Strogatz "
    "small-world statistic; role/community discovery reads high-C "
    "nodes as embedded, low-C as brokers). Construction: closed wedges "
    "— each wedge (z; u<v) joins against the canonical edge list, so a "
    "triangle {{a,b,c}} is counted exactly once per corner, no /3 "
    "correction, and the whole pipeline is exact-integer with the "
    "ratio in ppm via DIV (zero floats, trivially stable hash). Spark "
    "shape: the wedge join is bounded by the kNN cap (each node has "
    "<= G2_KNN neighbors, so wedges are O(V * KNN^2), never the "
    "quadratic all-pairs), the closing join shuffles on the canonical "
    "(u,v) edge key, and degrees arrive by an adaptive join (broadcast "
    "at bench scale by AQE, shuffled at 1e8 nodes) — the identical "
    "scale posture as g2/g9, plan-asserted never-all-pairs there.",
    tags=("graph", "analytics"),
)
def g11_local_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _knn_edges(spark, sf_dir)
    adj = edges.select(
        F.explode(
            F.array(
                F.struct(F.col("u").alias("z"), F.col("v").alias("n")),
                F.struct(F.col("v").alias("z"), F.col("u").alias("n")),
            )
        ).alias("a")
    ).select("a.z", "a.n")
    deg = adj.groupBy("z").agg(F.count("*").alias("d"))
    a, b = adj.alias("a"), adj.alias("b")
    wedges = a.join(
        b, (F.col("a.z") == F.col("b.z")) & (F.col("a.n") < F.col("b.n"))
    ).select(
        F.col("a.z").alias("z"),
        F.col("a.n").alias("u"),
        F.col("b.n").alias("v"),
    )
    tri = (
        wedges.join(edges.select("u", "v"), ["u", "v"])
        .groupBy("z")
        .agg(F.count("*").alias("n_tri"))
    )
    return (
        deg.filter(F.col("d") >= 2)
        .join(tri, "z", "left")
        .select(
            F.col("z").alias("node"),
            F.col("d").alias("degree"),
            F.coalesce(F.col("n_tri"), F.lit(0)).cast("long").alias(
                "triangles"
            ),
            F.expr(
                f"CAST(2 * COALESCE(n_tri, 0) * {G11_PPM} "
                "DIV (d * (d - 1)) AS BIGINT)"
            ).alias("clustering_ppm"),
        )
        .orderBy("node")
    )


# --- g12: Adamic-Adar link prediction (round 12) ------------------------------

#: Per-common-neighbor weight 1e6/ln(deg), PRE-ROUNDED to an integer so
#: the cross-pair aggregation is an exact BIGINT sum (order-free). The
#: ROUND(transcendental * 1e6) quantization is tx24's recipe: a 1-ulp
#: libm divergence moves the pre-round value by ~1e-10, astronomically
#: inside the 0.5 rounding margin — which is what unblocks the variant
#: g4's doc deliberately avoided before the recipe existed.
_G12_W = "CAST(ROUND(1000000 / ln(d)) AS BIGINT)"


@register(
    "g12_adamic_adar",
    oracle=f"""
        WITH {_DUCK_KNN_EDGES},
        adj AS (
            SELECT u AS z, v AS n FROM edges
            UNION ALL SELECT v, u FROM edges
        ),
        deg AS (
            SELECT z, CAST(COUNT(*) AS BIGINT) AS d FROM adj GROUP BY z
        ),
        wedges AS (
            SELECT a.n AS u, b.n AS v, a.z AS z
            FROM adj a JOIN adj b ON a.z = b.z AND a.n < b.n
        ),
        scored AS (
            SELECT w.u, w.v,
                   CAST(COUNT(*) AS BIGINT) AS n_common,
                   CAST(SUM({_G12_W}) AS BIGINT) AS aa_micro
            FROM wedges w JOIN deg d ON d.z = w.z
            GROUP BY w.u, w.v
        )
        SELECT s.u, s.v, s.n_common, s.aa_micro
        FROM scored s
        LEFT JOIN edges e ON e.u = s.u AND e.v = s.v
        WHERE e.u IS NULL
    """,
    doc="Adamic-Adar link prediction over g2's kNN-sparsified "
    "co-purchase graph: AA(u,v) = sum over common neighbors z of "
    "1/ln(deg z) — the degree-discounted sibling of g4's resource "
    "allocation (RA punishes hubs harder with 1/deg; AA's log "
    "discount is the classic citation-network index, and ranking "
    "disagreements between the two flag hub-dominated neighborhoods). "
    "g4's doc deliberately avoided this variant 'for the libm "
    "reason'; tx24's quantization recipe since made it safe: each "
    "common neighbor contributes ROUND(1e6/ln(deg)) — an INTEGER — "
    "so the per-pair aggregation is an exact order-free BIGINT sum, "
    "and the only float per term is one ln whose 1-ulp engine "
    "divergence sits ~1e-10 inside the rounding margin. ln(deg) > 0 "
    "by construction: a common neighbor is adjacent to both endpoints "
    "so deg(z) >= 2. Same scale shape as g4: wedge volume bounded by "
    "n*K^2 under the kNN cap, one shuffle on z, one on the pair, "
    "anti-join against the edge list.",
    tags=("graph", "similarity", "recommendation"),
)
def g12_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _knn_edges(spark, sf_dir)
    adj = edges.select(
        F.explode(
            F.array(
                F.struct(F.col("u").alias("z"), F.col("v").alias("n")),
                F.struct(F.col("v").alias("z"), F.col("u").alias("n")),
            )
        ).alias("a")
    ).select("a.z", "a.n")
    deg = adj.groupBy("z").agg(F.count("*").alias("d"))
    a, b = adj.alias("a"), adj.alias("b")
    wedges = a.join(
        b,
        (F.col("a.z") == F.col("b.z")) & (F.col("a.n") < F.col("b.n")),
    ).select(
        F.col("a.n").alias("u"), F.col("b.n").alias("v"), F.col("a.z").alias("z")
    )
    scored = (
        wedges.join(deg, "z")
        .groupBy("u", "v")
        .agg(
            F.count("*").alias("n_common"),
            F.sum(F.expr(_G12_W)).alias("aa_micro"),
        )
    )
    return scored.join(edges, ["u", "v"], "left_anti").select(
        "u", "v", "n_common", "aa_micro"
    )


# ---------------------------------------------------------------------------
# g13: HITS hubs & authorities (round 12 second session)
# ---------------------------------------------------------------------------

G13_MICRO = 1_000_000
G13_TOP = 15


@register(
    "g13_hits",
    oracle=f"""
        WITH pairs AS (
            SELECT DISTINCT o_custkey AS c, l_suppkey AS s
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        ),
        a1 AS (
            SELECT s, CAST(COUNT(*) AS HUGEINT) * {G13_MICRO} AS a
            FROM pairs GROUP BY s
        ),
        a1n AS (
            SELECT s, a * {G13_MICRO} // (SELECT MAX(a) FROM a1) AS a
            FROM a1
        ),
        h1 AS (
            SELECT c, CAST(SUM(a1n.a) AS HUGEINT) AS h
            FROM pairs JOIN a1n ON a1n.s = pairs.s
            GROUP BY c
        ),
        h1n AS (
            SELECT c, h * {G13_MICRO} // (SELECT MAX(h) FROM h1) AS h
            FROM h1
        ),
        a2 AS (
            SELECT s, CAST(SUM(h1n.h) AS HUGEINT) AS a
            FROM pairs JOIN h1n ON h1n.c = pairs.c
            GROUP BY s
        ),
        a2n AS (
            SELECT s, a * {G13_MICRO} // (SELECT MAX(a) FROM a2) AS a
            FROM a2
        ),
        top_auth AS (
            SELECT 'supplier' AS kind, s AS node,
                   CAST(a AS BIGINT) AS score_micro
            FROM a2n ORDER BY a DESC, s LIMIT {G13_TOP}
        ),
        top_hub AS (
            SELECT 'customer' AS kind, c AS node,
                   CAST(h AS BIGINT) AS score_micro
            FROM h1n ORDER BY h DESC, c LIMIT {G13_TOP}
        )
        SELECT * FROM top_auth
        UNION ALL
        SELECT * FROM top_hub
        ORDER BY kind, score_micro DESC, node
    """,
    doc=f"HITS hubs & authorities (Kleinberg) on the bipartite trade "
    "graph — the mutual-reinforcement centrality completing the shelf "
    "(g1 PageRank spreads mass along a damped walk; g6 Katz discounts "
    "by path length; g8 is distance-based; HITS is the DUAL score the "
    "bipartite shape actually calls for: a customer is a good hub "
    "because it buys from good suppliers, a supplier a good authority "
    "because good hubs buy from it). Two unrolled mutual-update steps "
    "(g1's power-step convention — production loops the identical "
    "dataflow), each followed by exact MAX-normalization in integer "
    "micro-units (score * 1e6 DIV max — the integer-safe stand-in for "
    "the L-inf norm step; all sums are DECIMAL(38,0)/HUGEINT, so both "
    "engines agree bitwise with zero float surface anywhere). Top-"
    f"{G13_TOP} per side with total (score DESC, node) ordering. Scale "
    "shape: g1's — each half-step is ONE join of the score frame onto "
    "the edge list hash-partitioned by the join side plus a "
    "partial+final agg; the normalizing MAX is a 1-row broadcast. "
    "Digit budget: sum of 1e6-scaled scores over degree <= n peaks "
    "~1e18 at 1e12 edges — the DECIMAL/HUGEINT accumulators hold to "
    "1e32.",
    tags=("graph", "centrality"),
)
def g13_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table_parallel(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    pairs = (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
        # plan-cache: three consumers (a1 and the two mutual-update
        # joins) — released via session.release_plan_caches
        .persist()
    )
    dec = "decimal(38,0)"

    def _norm(frame: DataFrame, col: str) -> DataFrame:
        # The L-inf norm scalar is fetched to the driver (ONE row — the
        # bounded-collect pattern) and folded in as a literal of the
        # same DECIMAL(38,0) type the old broadcast column carried.
        # r16: the crossJoin(broadcast(max)) form re-evaluated ``frame``
        # twice per normalization, and because each step consumes the
        # previous normalized frame, the duplication COMPOUNDED down the
        # chain (the pre-r16 plan carried 159 Exchanges); with the
        # score frames persisted below, every half-step now runs once.
        mx = frame.agg(F.max(col).alias("mx")).first()["mx"]
        return frame.select(
            *[c for c in frame.columns if c != col],
            F.expr(
                f"{col} * {G13_MICRO} DIV CAST('{mx}' AS {dec})"
            ).alias(col),
        )

    a1 = pairs.groupBy("s").agg(
        F.expr(f"CAST(COUNT(*) AS {dec}) * {G13_MICRO}").alias("a")
    ).persist()  # plan-cache: materialized by _norm's max fetch
    a1n = _norm(a1, "a")
    h1 = (
        pairs.join(a1n, "s")
        .groupBy("c")
        .agg(F.sum(F.col("a").cast(dec)).cast(dec).alias("h"))
        .persist()  # plan-cache: _norm max + a2 + top_hub all read it
    )
    h1n = _norm(h1, "h")
    a2 = (
        pairs.join(h1n, "c")
        .groupBy("s")
        .agg(F.sum(F.col("h").cast(dec)).cast(dec).alias("a"))
        .persist()  # plan-cache: _norm max + top_auth read it
    )
    a2n = _norm(a2, "a")
    top_auth = (
        a2n.orderBy(F.desc("a"), F.asc("s"))
        .limit(G13_TOP)
        .select(
            F.lit("supplier").alias("kind"),
            F.col("s").alias("node"),
            F.col("a").cast("long").alias("score_micro"),
        )
    )
    top_hub = (
        h1n.orderBy(F.desc("h"), F.asc("c"))
        .limit(G13_TOP)
        .select(
            F.lit("customer").alias("kind"),
            F.col("c").alias("node"),
            F.col("h").cast("long").alias("score_micro"),
        )
    )
    return top_auth.unionAll(top_hub).orderBy(
        "kind", F.desc("score_micro"), "node"
    )


# --- g14: k-core decomposition by unrolled peeling (round 13) -------------------

G14_K = 12
G14_ROUNDS = 4


def _g14_oracle() -> str:
    parts = [
        "edges0 AS (SELECT DISTINCT o_custkey AS c, l_suppkey AS s "
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey)"
    ]
    for i in range(1, G14_ROUNDS + 1):
        parts.append(
            f"cdeg{i} AS (SELECT c FROM edges{i - 1} "
            f"GROUP BY c HAVING COUNT(*) >= {G14_K})"
        )
        parts.append(
            f"sdeg{i} AS (SELECT s FROM edges{i - 1} "
            f"GROUP BY s HAVING COUNT(*) >= {G14_K})"
        )
        parts.append(
            f"edges{i} AS (SELECT e.c, e.s FROM edges{i - 1} e "
            f"JOIN cdeg{i} USING (c) JOIN sdeg{i} USING (s))"
        )
    selects = [
        f"SELECT {i} AS round,"
        f" CAST(COUNT(DISTINCT c) AS BIGINT) AS n_customers,"
        f" CAST(COUNT(DISTINCT s) AS BIGINT) AS n_suppliers,"
        f" CAST(COUNT(*) AS BIGINT) AS n_edges FROM edges{i}"
        for i in range(G14_ROUNDS + 1)
    ]
    return (
        "WITH "
        + ",\n        ".join(parts)
        + "\n        SELECT * FROM ("
        + " UNION ALL ".join(selects)
        + ") ORDER BY round"
    )


@register(
    "g14_kcore_peeling",
    oracle=_g14_oracle(),
    doc=f"k-core decomposition (k={G14_K}) of the customer-supplier "
    "bipartite graph by SYNCHRONOUS peeling — the density backbone "
    "extractor behind community seeding and spam/anomaly filtering "
    "(nodes outside the k-core are the graph's sparse fringe; the "
    "core survives every round of 'drop everything with degree < "
    f"k'). {G14_ROUNDS} peel rounds, UNROLLED identically in both "
    "engines (g3's unrolled-CTE recipe: each round recomputes both "
    "sides' degrees on the SURVIVING subgraph and keeps only "
    "degree->=k nodes), with per-round node/edge counts emitted so "
    "the convergence trajectory — not just the fixed point — sits "
    "inside the value hash. All counts are exact integers; there is "
    "no float anywhere. Scale shape: each round is two "
    "map-side-combined degree aggs + two semi-join-shaped filters "
    "over the edge frame, hash-partitioned on the join side — the "
    "classic iterate-on-shrinking-edges plan whose per-round cost "
    "falls monotonically; the persisted edge frame is released via "
    "release_plan_caches. The fixed round count bounds plan depth "
    "(AQE re-plans each materialized round); production peeling runs "
    "rounds to a fixpoint with the same per-round plan.",
    tags=("graph", "community"),
)
def g14_kcore_peeling(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _trade_edges(spark, sf_dir)

    def stats(e: DataFrame, rnd: int) -> DataFrame:
        return e.agg(
            F.lit(rnd).cast("int").alias("round"),
            F.countDistinct("c").cast("long").alias("n_customers"),
            F.countDistinct("s").cast("long").alias("n_suppliers"),
            F.count(F.lit(1)).cast("long").alias("n_edges"),
        )

    out = stats(edges, 0)
    for i in range(1, G14_ROUNDS + 1):
        edges = _kcore_peel(edges, G14_K)
        out = out.unionByName(stats(edges, i))
    return out.orderBy("round")


def _trade_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The distinct customer<->supplier trade edges (c, s) that both
    k-core operators (g14, g17) peel, persisted."""
    l = load_table_parallel(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    return (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
        # plan-cache: the edge frame feeds BOTH degree aggs and both
        # semi-join filters of the first peel round, plus g14's stats
        # row of the RETURNED lazy union (g14 leaves it to
        # release_plan_caches; g17 unpersists it after round one)
        .persist()
    )


def _kcore_peel(edges: DataFrame, k: int) -> DataFrame:
    """One synchronous k-core peel round over (c, s) edges: recompute
    both sides' degrees on the surviving subgraph and keep the edges
    whose endpoints both have degree >= k (two degree aggs + two
    semi-joins — no cartesian, no nested loop). Persisted."""
    keep_c = (
        edges.groupBy("c")
        .agg(F.count(F.lit(1)).alias("d"))
        .filter(F.col("d") >= k)
        .select("c")
    )
    keep_s = (
        edges.groupBy("s")
        .agg(F.count(F.lit(1)).alias("d"))
        .filter(F.col("d") >= k)
        .select("s")
    )
    return (
        edges.join(keep_c, "c", "left_semi")
        .join(keep_s, "s", "left_semi")
        # plan-cache: the next round's degree aggs and semi-joins read
        # it, and g14's stats row of the RETURNED lazy union
        .persist()
    )


# ---------------------------------------------------------------------------
# g15: rich-club coefficient (round 14)
# ---------------------------------------------------------------------------

#: Degree thresholds swept: phi(k) over the subgraph of nodes with
#: degree > k. Chosen to straddle the trade graph's degree knee at the
#: driver SFs (pytest pins the phi(k) monotonicity the rich-club
#: effect predicts on this fixture family).
G15_THRESHOLDS = (2, 4, 8, 16)


@register(
    "g15_rich_club",
    oracle=f"""
        WITH edges0 AS (
            SELECT DISTINCT o_custkey AS c, l_suppkey AS s
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        ),
        deg AS (
            SELECT kind, node, CAST(COUNT(*) AS BIGINT) AS d
            FROM (
                SELECT 'c' AS kind, c AS node FROM edges0
                UNION ALL
                SELECT 's', s FROM edges0
            ) GROUP BY kind, node
        ),
        ks AS (SELECT UNNEST(ARRAY{list(G15_THRESHOLDS)}) AS k),
        rich AS (
            SELECT ks.k, deg.kind, deg.node
            FROM ks JOIN deg ON deg.d > ks.k
        ),
        nrich AS (
            SELECT k,
                   CAST(SUM(CASE WHEN kind = 'c' THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_c,
                   CAST(SUM(CASE WHEN kind = 's' THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_s
            FROM rich GROUP BY k
        ),
        erich AS (
            SELECT rc.k, CAST(COUNT(*) AS BIGINT) AS e
            FROM edges0
            JOIN rich rc ON rc.kind = 'c' AND rc.node = edges0.c
            JOIN rich rs ON rs.kind = 's' AND rs.node = edges0.s
                        AND rs.k = rc.k
            GROUP BY rc.k
        )
        SELECT nrich.k AS k, nrich.n_c AS n_rich_cust,
               nrich.n_s AS n_rich_supp,
               COALESCE(erich.e, 0) AS edges_among_rich,
               CAST(CASE WHEN nrich.n_c * nrich.n_s > 0 THEN
                   COALESCE(erich.e, 0) * 1000000
                   // (nrich.n_c * nrich.n_s)
               ELSE 0 END AS BIGINT) AS phi_ppm
        FROM nrich LEFT JOIN erich ON erich.k = nrich.k
        ORDER BY k
    """,
    doc="Rich-club coefficient over the bipartite customer<->supplier "
    "trade graph (g1's edge set): for each degree threshold k, the "
    "edge DENSITY among nodes of degree > k — phi(k) = "
    "E(rich)/(n_rich_cust * n_rich_supp) in exact ppm (the bipartite "
    "normalization: possible edges are cross-side pairs, not "
    "n-choose-2). Rising phi(k) is the rich-club effect — "
    "high-degree customers concentrate their business on high-degree "
    "suppliers — the mesoscale structure assortativity (g10) "
    "summarizes in one number and k-core peeling (g14) thresholds "
    "at; phi exposes the whole curve. Scale shape: the degree table "
    "is one aggregation of the distinct-edge frame; each threshold's "
    "membership is a broadcast-filterable predicate; the edge count "
    "re-joins edges to the two skinny membership sides — no "
    "all-pairs term anywhere, and the thresholds share one degree "
    "computation.",
    tags=("graph", "statistics"),
)
def g15_rich_club(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table_parallel(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    edges = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
        .persist()  # plan-cache: degree agg + per-threshold edge counts
    )
    deg = (
        edges.select(F.lit("c").alias("kind"), F.col("c").alias("node"))
        .unionByName(
            edges.select(F.lit("s").alias("kind"), F.col("s").alias("node"))
        )
        .groupBy("kind", "node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    ks = edges.sparkSession.createDataFrame(
        [(k,) for k in G15_THRESHOLDS], "k long"
    )
    rich = F.broadcast(ks).join(deg, F.col("d") > F.col("k")).select(
        "k", "kind", "node"
    )
    nrich = rich.groupBy("k").agg(
        F.sum(F.when(F.col("kind") == "c", 1).otherwise(0))
        .cast("long")
        .alias("n_c"),
        F.sum(F.when(F.col("kind") == "s", 1).otherwise(0))
        .cast("long")
        .alias("n_s"),
    )
    rich_c = rich.filter(F.col("kind") == "c").select(
        "k", F.col("node").alias("c")
    )
    rich_s = rich.filter(F.col("kind") == "s").select(
        F.col("k").alias("ks_k"), F.col("node").alias("rs_s")
    )
    erich = (
        edges.join(rich_c, "c")
        .join(
            rich_s,
            (F.col("k") == F.col("ks_k")) & (F.col("s") == F.col("rs_s")),
        )
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("e"))
    )
    return (
        nrich.join(erich, "k", "left")
        .select(
            "k",
            F.col("n_c").alias("n_rich_cust"),
            F.col("n_s").alias("n_rich_supp"),
            F.coalesce(F.col("e"), F.lit(0)).cast("long").alias(
                "edges_among_rich"
            ),
            F.expr(
                "CAST(CASE WHEN n_c * n_s > 0 THEN "
                "COALESCE(e, 0) * 1000000 DIV (n_c * n_s) "
                "ELSE 0 END AS BIGINT)"
            ).alias("phi_ppm"),
        )
        .orderBy("k")
    )


# ---------------------------------------------------------------------------
# g16: weighted PageRank (round 14)
# ---------------------------------------------------------------------------


@register(
    "g16_weighted_pagerank",
    oracle=f"""
        WITH edges0 AS (
            SELECT o_custkey AS c, l_suppkey AS s,
                   CAST(COUNT(*) AS BIGINT) AS w
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            GROUP BY 1, 2
        ),
        edges AS (
            SELECT 'c' AS src_kind, c AS src, 's' AS dst_kind, s AS dst, w
            FROM edges0
            UNION ALL
            SELECT 's', s, 'c', c, w FROM edges0
        ),
        deg AS (
            SELECT src_kind, src, CAST(SUM(w) AS BIGINT) AS outw
            FROM edges GROUP BY src_kind, src
        ),
        r1 AS (
            SELECT e.dst_kind AS kind, e.dst AS node,
                   {PR_BASE_MICRO} + (85 * CAST(SUM(
                       ({PR_MICRO} * e.w) // d.outw) AS BIGINT)) // 100
                       AS rank_micro
            FROM edges e
            JOIN deg d ON d.src_kind = e.src_kind AND d.src = e.src
            GROUP BY e.dst_kind, e.dst
        ),
        r2 AS (
            SELECT e.dst_kind AS kind, e.dst AS node,
                   {PR_BASE_MICRO} + (85 * CAST(SUM(
                       (r.rank_micro * e.w) // d.outw) AS BIGINT)) // 100
                       AS rank_micro
            FROM edges e
            JOIN deg d ON d.src_kind = e.src_kind AND d.src = e.src
            JOIN r1 r ON r.kind = e.src_kind AND r.node = e.src
            GROUP BY e.dst_kind, e.dst
        )
        SELECT r2.node AS l_suppkey, r2.rank_micro,
               d.outw AS total_weight
        FROM r2 JOIN deg d ON d.src_kind = 's' AND d.src = r2.node
        WHERE r2.kind = 's'
    """,
    doc="WEIGHTED PageRank over the trade graph — g1 with edge mass "
    "proportional to INTERACTION VOLUME (the lineitem count between a "
    "customer and a supplier) instead of mere adjacency: each step "
    "sends rank * w/outw along every edge, damped 0.85, two unrolled "
    "iterations in exact integer micro-units (the per-edge transfer "
    "(rank * w) DIV outw floors identically on both engines). A "
    "supplier touched by a thousand orders from one hub customer now "
    "outranks one touched once by many — the volume-sensitive "
    "centrality that g1's unweighted walk deliberately ignores, and "
    "the two TOGETHER distinguish breadth (g1) from depth (g16) of "
    "connectivity. Scale shape identical to g1: one distinct-edge "
    "aggregation (with the weight as the count — free in the same "
    "groupBy), per-step shuffle on the destination key, weights and "
    "out-masses broadcastable; the unrolled two-step plan is what a "
    "convergence loop runs per iteration at 100 TB.",
    tags=("graph", "iterative", "centrality"),
)
def g16_weighted_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table_parallel(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    edges0 = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .groupBy(
            F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s")
        )
        .agg(F.count(F.lit(1)).alias("w"))
    )
    from pyspark.sql import Window

    # Out-weight as a window SUM over the edge shuffle itself (g1's
    # `_trade_edges_with_deg` shape, r16): the old separate ``deg``
    # aggregate was re-joined onto the cached edges in BOTH rank steps
    # and re-evaluated for the final projection — three evaluations and
    # two edge-sized shuffle joins; annotating the edge frame once
    # costs zero joins and lands it hash-distributed by source.
    edges = (
        edges0.select(
            F.lit("c").alias("src_kind"), F.col("c").alias("src"),
            F.lit("s").alias("dst_kind"), F.col("s").alias("dst"), "w",
        )
        .unionByName(
            edges0.select(
                F.lit("s").alias("src_kind"), F.col("s").alias("src"),
                F.lit("c").alias("dst_kind"), F.col("c").alias("dst"), "w",
            )
        )
        .withColumn(
            "outw",
            F.sum("w").over(Window.partitionBy("src_kind", "src")),
        )
        .persist()  # plan-cache: two rank steps + final join
    )
    step0 = edges.groupBy(
        F.col("dst_kind").alias("kind"), F.col("dst").alias("node")
    ).agg(
        F.expr(
            f"{PR_BASE_MICRO} + (85 * CAST(SUM(({PR_MICRO} * w) DIV outw)"
            " AS BIGINT)) DIV 100"
        ).alias("rank_micro")
    )
    step1 = (
        edges.join(
            step0.select(
                F.col("kind").alias("src_kind"),
                F.col("node").alias("src"),
                F.col("rank_micro").alias("r_src"),
            ),
            ["src_kind", "src"],
        )
        .groupBy(F.col("dst_kind").alias("kind"), F.col("dst").alias("node"))
        .agg(
            F.expr(
                f"{PR_BASE_MICRO} + (85 * CAST(SUM((r_src * w) DIV outw)"
                " AS BIGINT)) DIV 100"
            ).alias("rank_micro")
        )
    )
    return (
        step1.filter(F.col("kind") == "s")
        .join(
            edges.filter(F.col("src_kind") == "s")
            .select(F.col("src").alias("node"), F.col("outw"))
            .distinct(),
            "node",
        )
        .select(
            F.col("node").alias("l_suppkey"),
            "rank_micro",
            F.col("outw").alias("total_weight"),
        )
    )


# ---------------------------------------------------------------------------
# g17: k-core decomposition by bounded peeling (round 15)
# ---------------------------------------------------------------------------

G17_K = 30
G17_ROUNDS = 4


@register(
    "g17_kcore",
    oracle=f"""
        WITH e0 AS (
            SELECT DISTINCT o_custkey AS c, l_suppkey AS s
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        ),
        e1 AS (
            SELECT * FROM e0
            WHERE c IN (SELECT c FROM e0 GROUP BY c
                        HAVING COUNT(*) >= {G17_K})
              AND s IN (SELECT s FROM e0 GROUP BY s
                        HAVING COUNT(*) >= {G17_K})
        ),
        e2 AS (
            SELECT * FROM e1
            WHERE c IN (SELECT c FROM e1 GROUP BY c
                        HAVING COUNT(*) >= {G17_K})
              AND s IN (SELECT s FROM e1 GROUP BY s
                        HAVING COUNT(*) >= {G17_K})
        ),
        e3 AS (
            SELECT * FROM e2
            WHERE c IN (SELECT c FROM e2 GROUP BY c
                        HAVING COUNT(*) >= {G17_K})
              AND s IN (SELECT s FROM e2 GROUP BY s
                        HAVING COUNT(*) >= {G17_K})
        ),
        e4 AS (
            SELECT * FROM e3
            WHERE c IN (SELECT c FROM e3 GROUP BY c
                        HAVING COUNT(*) >= {G17_K})
              AND s IN (SELECT s FROM e3 GROUP BY s
                        HAVING COUNT(*) >= {G17_K})
        )
        SELECT CAST((SELECT COUNT(*) FROM e4) AS BIGINT) AS n_edges,
               CAST((SELECT COUNT(DISTINCT c) FROM e4) AS BIGINT)
                   AS n_customers,
               CAST((SELECT COUNT(DISTINCT s) FROM e4) AS BIGINT)
                   AS n_suppliers,
               CAST((SELECT COUNT(*) FROM e3) AS BIGINT)
                   AS n_edges_prev,
               CAST(CASE WHEN (SELECT COUNT(*) FROM e4)
                              = (SELECT COUNT(*) FROM e3)
                    THEN 1 ELSE 0 END AS BIGINT) AS converged
    """,
    doc=f"k-core decomposition of the customer↔supplier trade graph by "
    f"BOUNDED PEELING (k = {G17_K}, {G17_ROUNDS} rounds): each round "
    "drops every node whose degree fell below k and the edges it "
    "carried — the standard iterative-peeling k-core, here unrolled a "
    "FIXED number of rounds so the computation is a deterministic "
    "dataflow both engines replay exactly (the oracle is the same "
    f"{G17_ROUNDS} rounds as literal CTE stages). `converged` pins "
    "whether the peel reached its fixpoint inside the budget — on a "
    "monotone-shrinking edge set, equal consecutive COUNTS prove "
    "equal consecutive SETS, so the flag is exact. The k-core is the "
    "classic dense-substructure primitive (spam/bot rings, core "
    "marketplaces); Spark-side each round is two degree aggregations "
    "+ two semi-joins on the persisted shrinking edge frame — "
    "O(rounds) shuffles of at most |E| rows, never materializing "
    "anything driver-side, the g13/g16 iterative discipline. At 100 "
    "TB: rounds are bounded by design; production k-cores run peeling "
    "to a round budget exactly like this (or bucket by degree first), "
    "because worst-case full peeling is O(max-degree) rounds.",
    tags=("graph",),
)
def g17_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _trade_edges(spark, sf_dir)
    counts: list[int] = [edges.count()]
    for _r in range(G17_ROUNDS):
        if len(counts) >= 2 and counts[-1] == counts[-2]:
            # Fixpoint: the edge set only shrinks, so equal consecutive
            # counts prove equal sets — every remaining round is the
            # identity. Skipping them is exactness-preserving (the
            # oracle's full unroll computes the same sets) and turns
            # the common fast-converging case from O(R) to O(actual)
            # shuffles.
            break
        new_edges = _kcore_peel(edges, G17_K)
        counts.append(new_edges.count())
        # the new round is materialized; its parent cache is dead weight
        edges.unpersist()
        edges = new_edges
    final = edges.agg(
        F.count(F.lit(1)).alias("n_edges"),
        F.countDistinct("c").alias("n_customers"),
        F.countDistinct("s").alias("n_suppliers"),
    ).select(
        "n_edges",
        "n_customers",
        "n_suppliers",
        F.lit(counts[-2]).cast("long").alias("n_edges_prev"),
        F.lit(int(counts[-1] == counts[-2])).cast("long").alias("converged"),
    )
    out = final.localCheckpoint()
    edges.unpersist()
    return out
