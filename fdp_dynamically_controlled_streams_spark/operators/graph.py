"""Iterative graph analytics: deterministic integer PageRank.

The float PageRank recurrence cannot hash across engines (groupBy sums of
doubles associate in partition order), so the whole iteration is EXACT
FIXED-POINT INTEGER arithmetic: ranks are bigint micro-units of a 1e12
total, per-edge contributions use integer division r // outdeg, dangling
mass redistributes as dmass // N, and the damping update is
(15·base + 85·inflow) // 100. Integer sums are order-independent, so the
result value-hashes against the SQL twin at any partitioning — same
discipline as the Markov transition matrix's exact-integer probabilities.

Scale shape (per iteration): ONE join edges⋈ranks on src (both sides
shuffle on the same key every round — a co-partitioned pair at 100 TB),
one groupBy(dst) with map-side partial sums, one left join back onto the
node list; the dangling mass is a one-row aggregate broadcast into the
update as a scalar cross-join, never collected. The driver holds ONE
bounded scalar (N, counted once) and the loop is control-only; the sole
per-round action is the ``localCheckpoint`` that cuts lineage, so each
iteration is one job. Rounds are a fixed small constant (PageRank converges
geometrically; rank ordering stabilizes in a handful of iterations).

[ABSENT in reference: SURVEY §2.7 — engine extension.]
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fdp_dynamically_controlled_streams_spark.functions.exactround import dratio, dratio_sql
from fdp_dynamically_controlled_streams_spark.session import batch_partitions

#: total rank mass in micro-units (1e12 => 6 significant decimals per node
#: at N ~ 1e6 nodes; bigint headroom: 85 * 1e12 << 2^63).
TOTAL_MASS = 1_000_000_000_000


def pagerank(
    edges: DataFrame,
    n_iter: int = 3,
    src_col: str = "src",
    dst_col: str = "dst",
    sources: list[int] | None = None,
) -> DataFrame:
    """Deterministic integer PageRank over a directed edge list (damping
    0.85 as the exact fraction 85/100). Returns (node, rank) with rank the
    final bigint micro-mass. Dangling nodes (no out-edges) redistribute
    their mass uniformly each round — computed as a broadcast one-row
    scalar, not a driver collect. Truncation makes this a deterministic
    variant (total mass decays by the dropped remainders — identically in
    both engines).

    ``sources`` switches to PERSONALIZED PageRank: teleport mass AND the
    dangling redistribution go only to the source set (the random surfer
    restarts at the sources), so ranks measure proximity to the sources —
    the seed-expansion / related-entity primitive. The source list is a
    bounded literal (an IN predicate, no join). With sources = all nodes
    the recurrence degenerates EXACTLY to the uniform variant
    (T//n teleport, dmass//n shares) — law-tested. The list is
    normalized to sorted-distinct first: the denominators use the COUNT
    of sources while the indicator is set-membership, so a duplicate
    seed would otherwise silently shrink every share (r8 ADVICE)."""
    if sources is not None:
        sources = sorted(set(sources))
    e = edges.select(
        F.col(src_col).cast("long").alias("src"),
        F.col(dst_col).cast("long").alias("dst"),
    ).localCheckpoint()
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg")).localCheckpoint()
    n = nodes.count()  # bounded driver scalar (node count)
    if sources is None:
        base = TOTAL_MASS // n
        ind = F.lit(1).cast("long")  # every node is a teleport target
        n_targets = n
        init = F.lit(base).cast("long")
    else:
        n_targets = len(sources)
        base = TOTAL_MASS // n_targets
        ind = F.col("node").isin(sources).cast("long")
        init = (F.lit(base) * F.col("node").isin(sources).cast("long")).cast("long")
    ranks = nodes.select("node", init.alias("r")).localCheckpoint()
    for _ in range(n_iter):
        r_deg = ranks.join(outdeg, ranks.node == outdeg.src).select(
            "src", F.expr("r div deg").alias("c")
        )
        inflow = (
            e.join(r_deg, "src")
            .groupBy("dst")
            .agg(F.sum("c").alias("inflow"))
        )
        # dangling mass: a one-row aggregate folded into the update as a
        # broadcast scalar cross-join (the single-row-scalar idiom) — no
        # driver round-trip; the only action per iteration is the
        # localCheckpoint, so each round is one job.
        dang = ranks.join(outdeg, ranks.node == outdeg.src, "left_anti").agg(
            F.coalesce(F.sum("r"), F.lit(0)).cast("long").alias("_dm")
        )
        ranks = (
            nodes.join(inflow, nodes.node == inflow.dst, "left")
            .crossJoin(F.broadcast(dang))
            .select(
                "node",
                F.coalesce("inflow", F.lit(0)).alias("_in"),
                (F.expr(f"_dm div {n_targets}L") * ind).alias("_share"),
                ind.alias("_t"),
            )
            .select(
                "node",
                # 15*base precomputed in Python: two int32-sized literals
                # multiplied in SQL would overflow INT under ANSI mode
                F.expr(
                    f"({15 * base}L * _t + 85L * (_in + _share)) div 100L"
                )
                .cast("long")
                .alias("r"),
            )
            .localCheckpoint()
        )
    return ranks.select("node", F.col("r").alias("rank"))


def pagerank_oracle_sql(
    edges_sql: str,
    n_iter: int = 3,
    sources: list[int] | None = None,
) -> str:
    """DuckDB twin of :func:`pagerank`: iterations unrolled as CTE chains,
    identical integer truncation at every step. ``edges_sql`` must yield
    (src, dst) BIGINT columns. ``sources`` mirrors the personalized
    variant (teleport/dangling to the literal source set only; the list
    is normalized to sorted-distinct, matching :func:`pagerank`)."""
    if sources is not None:
        sources = sorted(set(sources))
    if sources is None:
        tel = f"({TOTAL_MASS} // nn.n)"
        ind = "1"
        share_den = "nn.n"
        init = f"CAST({TOTAL_MASS} // n AS BIGINT)"
    else:
        s = len(sources)
        in_set = "(" + ", ".join(str(x) for x in sorted(sources)) + ")"
        tel = f"{TOTAL_MASS // s}"
        ind = f"(CASE WHEN n2.node IN {in_set} THEN 1 ELSE 0 END)"
        share_den = str(s)
        init = (f"CAST(CASE WHEN node IN {in_set}"
                f" THEN {TOTAL_MASS // s} ELSE 0 END AS BIGINT)")
    parts = [
        f"edges AS ({edges_sql})",
        "nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges)",
        "nn AS (SELECT count(*) AS n FROM nodes)",
        "outdeg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src)",
        f"r_0 AS (SELECT node, {init} AS r FROM nodes CROSS JOIN nn)",
    ]
    for i in range(n_iter):
        parts.append(
            f"""c_{i + 1} AS (
  SELECT e.dst, sum(r.r // d.deg) AS inflow
  FROM edges e JOIN r_{i} r ON r.node = e.src JOIN outdeg d ON d.src = e.src
  GROUP BY e.dst)"""
        )
        parts.append(
            f"""d_{i + 1} AS (
  SELECT COALESCE(sum(r.r), 0) AS dmass
  FROM r_{i} r LEFT JOIN outdeg d ON d.src = r.node WHERE d.src IS NULL)"""
        )
        parts.append(
            f"""r_{i + 1} AS (
  SELECT n2.node,
         CAST((15 * {tel} * {ind}
               + 85 * (COALESCE(c.inflow, 0)
                       + (d.dmass // {share_den}) * {ind})) // 100
              AS BIGINT) AS r
  FROM nodes n2 CROSS JOIN nn CROSS JOIN d_{i + 1} d
  LEFT JOIN c_{i + 1} c ON c.dst = n2.node)"""
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"\nSELECT node, r AS rank FROM r_{n_iter}"
    )


def triangles(
    edges: DataFrame,
    u_col: str = "u",
    v_col: str = "v",
) -> DataFrame:
    """Per-node triangle count + local clustering coefficient over an
    undirected edge list (duplicates / self-loops / either orientation
    tolerated).

    Scale shape — DEGREE ORIENTATION (the standard bound for distributed
    triangle enumeration): every undirected edge is oriented from its
    lower-(degree, id) endpoint to its higher one, so each out-
    neighborhood has size O(sqrt(m)) and the wedge self-join
    (out-nbrs x out-nbrs per apex) is bounded by m^1.5 total instead of
    sum(deg^2) — the difference between feasible and not on a power-law
    graph at 100 TB (a celebrity node with 1e6 neighbors would otherwise
    emit 1e12 wedges). Every triangle has EXACTLY ONE apex whose two
    triangle edges both point outward (the (deg,id)-minimum of the
    three), so each triangle is enumerated once: wedge (x, y) from apex
    a matches the canonical edge set. Per-node counts explode each found
    triangle to its three corners and groupBy — integer arithmetic
    end-to-end, so sums are order-independent and the result value-
    hashes against the DuckDB twin at any partitioning.

    Plan: one distinct (shuffle on canonical edge), one degree groupBy,
    two edge⋈degree joins (node-keyed, co-partitioned), one wedge
    self-join on apex, one semi-ish join against the canonical edge set,
    one explode + final groupBy. No driver data paths.

    [ABSENT in reference: SURVEY §2.7 — engine extension.]
    """
    # Materialize the canonical edge set once: it is referenced by the
    # degree agg, both orientation joins, and the closure check — without
    # the cut Spark re-executes the (possibly expensive) upstream edge
    # GENERATION once per reference (measured 4x on the co-supplier
    # entry). Edge-set-sized, same class of cut as pagerank's.
    canon = (
        edges.select(
            F.least(F.col(u_col), F.col(v_col)).cast("long").alias("a"),
            F.greatest(F.col(u_col), F.col(v_col)).cast("long").alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint()
    )
    deg = (
        canon.select(F.col("a").alias("node"))
        .unionAll(canon.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("node").alias("b"), F.col("deg").alias("deg_b"))
    # orient low-(deg, id) -> high-(deg, id)
    lower_first = (F.col("deg_a") < F.col("deg_b")) | (
        (F.col("deg_a") == F.col("deg_b")) & (F.col("a") < F.col("b"))
    )
    # Same cut for the oriented set: it feeds both sides of the wedge
    # self-join (o1/o2 would otherwise each re-run canon ⋈ deg ⋈ deg).
    # Hash-partitioned on the apex BEFORE the checkpoint: the checkpointed
    # RDD carries that partitioning, so the wedge self-join needs NO
    # exchange on either side AND inherits real parallelism (AQE coalesces
    # the small checkpoint to 1 partition otherwise, serializing the
    # m^1.5 wedge stage; measured 8.5-10.4 -> 3.1 s at sf0.1 with the
    # closure hint below). Partition count is the one every other batch
    # shuffle here starts at, sized per deployment, not a local constant.
    n_parts = batch_partitions(edges.sparkSession)
    oriented = (
        canon.join(da, "a")
        .join(db, "b")
        .select(
            F.when(lower_first, F.col("a")).otherwise(F.col("b")).alias("src"),
            F.when(lower_first, F.col("b")).otherwise(F.col("a")).alias("dst"),
        )
        .repartition(n_parts, "src")
        .localCheckpoint()
    )
    o1 = oriented.select(F.col("src").alias("apex"), F.col("dst").alias("x"))
    o2 = oriented.select(F.col("src").alias("apex"), F.col("dst").alias("y"))
    wedges = o1.join(o2, "apex").where(F.col("x") < F.col("y"))
    # Closure check: SHUFFLED-HASH on the canonical edge side — hash a
    # per-partition slice of the (small) edge set instead of SORTING the
    # m^1.5 wedge relation (sort-merge's cost here); scale-safe because the
    # build side is one partition's slice of edges, never the whole set
    # (a broadcast of the full edge set would NOT survive 100 TB).
    tri = wedges.join(
        canon.hint("shuffle_hash"),
        (wedges.x == canon.a) & (wedges.y == canon.b),
    ).select("apex", "x", "y")
    per_node = (
        tri.select(F.explode(F.array("apex", "x", "y")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return (
        deg.join(per_node, "node", "left")
        .select(
            "node",
            "deg",
            F.coalesce("n_triangles", F.lit(0)).cast("long").alias("n_triangles"),
            F.when(
                F.col("deg") >= 2,
                dratio(
                    F.lit(2) * F.coalesce("n_triangles", F.lit(0)),
                    F.col("deg").cast("decimal(38,0)")
                    * (F.col("deg") - F.lit(1)),
                    6,
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("clustering_coeff"),
        )
    )


def bfs_hops(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int = 3,
    u_col: str = "u",
    v_col: str = "v",
    seed_col: str = "node",
) -> DataFrame:
    """Multi-source BFS hop distance over an undirected edge list: every
    node reachable from the seed set within ``max_hops`` gets the exact
    hop count of its shortest path (seeds themselves at hop 0; unreachable
    nodes are absent). Returns (node, hop).

    Scale shape — frontier-parallel BFS, the textbook Pregel iteration as
    three DataFrame ops per level: frontier ⋈ edges on the node key (both
    sides shuffle on the same key each round — co-partitioned at 100 TB),
    one DISTINCT on the candidate set, one LEFT-ANTI join against the
    visited set. The driver never sees node data; the only per-round
    scalar is the frontier-empty check (one bounded count, the same
    control-only class as pagerank's dangling mass). Hop numbers are
    exact integers, so the result value-hashes against the unrolled SQL
    twin at any partitioning. Rounds are capped by ``max_hops`` — at
    100 TB you bound the neighborhood you actually need (k-hop ego nets,
    blast-radius queries) instead of running to the graph's diameter;
    ``localCheckpoint`` cuts lineage so late rounds don't replay early
    ones.

    [ABSENT in reference: SURVEY §2.7 — engine extension.]
    """
    sym = (
        edges.select(
            F.col(u_col).cast("long").alias("src"),
            F.col(v_col).cast("long").alias("dst"),
        )
        .union(
            edges.select(
                F.col(v_col).cast("long").alias("src"),
                F.col(u_col).cast("long").alias("dst"),
            )
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint()
    )
    state = (
        seeds.select(F.col(seed_col).cast("long").alias("node"))
        .distinct()
        .select(
            "node",
            F.lit(0).cast("int").alias("hop"),
            F.lit(True).alias("chg"),
        )
        .localCheckpoint()
    )
    for i in range(1, max_hops + 1):
        frontier = state.where("chg").select("node")
        cand = (
            frontier.join(sym, frontier.node == sym.src)
            .select(F.col("dst").alias("node"))
            .distinct()
        )
        # ONE checkpoint per level (round 10, same treatment as the SSSP
        # round): a FULL OUTER join of the visited set against the
        # candidate frontier — already-visited nodes keep their hop
        # (chg=False), first-seen nodes take hop=i (chg=True) — so the
        # whole level materializes in a single job and the next frontier
        # is a filter on the checkpointed state. Same labels, same hashes.
        state = (
            state.select("node", "hop")
            .join(cand, "node", "full")
            .select(
                "node",
                F.coalesce("hop", F.lit(i).cast("int")).alias("hop"),
                F.col("hop").isNull().alias("chg"),
            )
            .localCheckpoint()
        )
        # bounded driver scalar: stop early once the frontier drains (the
        # unrolled oracle is invariant to this — empty levels add nothing)
        if state.where("chg").isEmpty():
            break
    return state.select("node", "hop")


def bfs_hops_oracle_sql(
    edges_sql: str,
    seeds_sql: str,
    max_hops: int = 3,
) -> str:
    """DuckDB twin of :func:`bfs_hops`: levels unrolled as CTE chains.
    ``edges_sql`` must yield (u, v) integer columns, ``seeds_sql`` a
    ``node`` integer column."""
    parts = [
        f"edges AS ({edges_sql})",
        "sym AS (SELECT DISTINCT src, dst FROM ("
        "  SELECT CAST(u AS BIGINT) AS src, CAST(v AS BIGINT) AS dst FROM edges"
        "  UNION ALL SELECT CAST(v AS BIGINT), CAST(u AS BIGINT) FROM edges)"
        " WHERE src <> dst)",
        f"v_0 AS (SELECT DISTINCT CAST(node AS BIGINT) AS node, 0 AS hop"
        f" FROM ({seeds_sql}))",
        "f_0 AS (SELECT node FROM v_0)",
    ]
    for i in range(1, max_hops + 1):
        parts.append(
            f"""n_{i} AS (
  SELECT DISTINCT s.dst AS node
  FROM f_{i - 1} f JOIN sym s ON s.src = f.node)"""
        )
        parts.append(
            f"""new_{i} AS (
  SELECT n.node, {i} AS hop
  FROM n_{i} n LEFT JOIN v_{i - 1} v ON v.node = n.node
  WHERE v.node IS NULL)"""
        )
        parts.append(
            f"v_{i} AS (SELECT * FROM v_{i - 1} UNION ALL SELECT * FROM new_{i})"
        )
        parts.append(f"f_{i} AS (SELECT node FROM new_{i})")
    return (
        "WITH "
        + ",\n".join(parts)
        + f"\nSELECT node, hop FROM v_{max_hops}"
    )


def triangles_oracle_sql(edges_sql: str) -> str:
    """DuckDB twin of :func:`triangles`; ``edges_sql`` must yield (u, v)
    integer columns (undirected, any orientation)."""
    return f"""
WITH raw AS ({edges_sql}),
canon AS (
  SELECT DISTINCT least(u, v) AS a, greatest(u, v) AS b
  FROM raw WHERE u <> v
),
deg AS (
  SELECT node, count(*) AS deg FROM (
    SELECT a AS node FROM canon UNION ALL SELECT b FROM canon
  ) GROUP BY node
),
oriented AS (
  SELECT CASE WHEN (da.deg < db.deg) OR (da.deg = db.deg AND c.a < c.b)
              THEN c.a ELSE c.b END AS src,
         CASE WHEN (da.deg < db.deg) OR (da.deg = db.deg AND c.a < c.b)
              THEN c.b ELSE c.a END AS dst
  FROM canon c
  JOIN deg da ON da.node = c.a
  JOIN deg db ON db.node = c.b
),
wedges AS (
  SELECT o1.src AS apex, o1.dst AS x, o2.dst AS y
  FROM oriented o1 JOIN oriented o2 ON o1.src = o2.src AND o1.dst < o2.dst
),
tri AS (
  SELECT w.apex, w.x, w.y
  FROM wedges w JOIN canon c ON c.a = w.x AND c.b = w.y
),
per_node AS (
  SELECT node, count(*) AS n_triangles FROM (
    SELECT apex AS node FROM tri
    UNION ALL SELECT x FROM tri
    UNION ALL SELECT y FROM tri
  ) GROUP BY node
)
SELECT d.node, d.deg,
       CAST(COALESCE(p.n_triangles, 0) AS BIGINT) AS n_triangles,
       CASE WHEN d.deg >= 2
            THEN <CC>
            ELSE 0.0 END AS clustering_coeff
FROM deg d LEFT JOIN per_node p ON p.node = d.node
""".replace(
    "<CC>",
    dratio_sql("2 * COALESCE(p.n_triangles, 0)", "d.deg * (d.deg - 1)", 6),
)


def sssp(
    edges: DataFrame,
    seeds: DataFrame,
    n_rounds: int = 4,
    u_col: str = "u",
    v_col: str = "v",
    w_col: str = "w",
    seed_col: str = "node",
) -> DataFrame:
    """Multi-source weighted shortest path (label-correcting Bellman-Ford,
    ``n_rounds`` synchronous relaxation rounds) over an undirected edge
    list with EXACT INTEGER weights: every node gets the minimum path cost
    from the seed set using at most ``n_rounds`` edges (seeds at 0;
    unreached nodes absent). Returns (node, dist).

    Scale shape — the Pregel relaxation as three DataFrame ops per round,
    the weighted sibling of :func:`bfs_hops`: frontier ⋈ edges on the node
    key (co-partitioned both sides at 100 TB), one groupBy(node).min on
    the candidate costs (map-side partial agg), one join against the
    current labels keeping strict improvements. The frontier carries only
    IMPROVED nodes, so relaxation work tracks the wavefront, not |V|, and
    the driver's only per-round scalar is the frontier-empty early-stop
    check (bounded control, same class as BFS's). Costs are exact BIGINT
    sums of BIGINT weights — no float accumulation — so the result
    value-hashes against the unrolled CTE twin at any partitioning, and
    early-stop is invariant (an empty improvement round leaves labels
    fixed, exactly as the oracle's remaining rounds do). Bounded rounds
    are the 100 TB posture (cost-bounded ego nets / supply-chain reach),
    not diameter convergence; ``localCheckpoint`` cuts per-round lineage.

    [ABSENT in reference: SURVEY §2.7 — engine extension.]
    """
    sym = (
        edges.select(
            F.col(u_col).cast("long").alias("src"),
            F.col(v_col).cast("long").alias("dst"),
            F.col(w_col).cast("long").alias("w"),
        )
        .union(
            edges.select(
                F.col(v_col).cast("long").alias("src"),
                F.col(u_col).cast("long").alias("dst"),
                F.col(w_col).cast("long").alias("w"),
            )
        )
        .where(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.min("w").alias("w"))  # parallel edges: keep the cheapest
        .localCheckpoint()
    )
    state = (
        seeds.select(F.col(seed_col).cast("long").alias("node"))
        .distinct()
        .select(
            "node",
            F.lit(0).cast("long").alias("dist"),
            F.lit(True).alias("chg"),
        )
        .localCheckpoint()
    )
    for _ in range(n_rounds):
        frontier = state.where("chg").select("node", "dist")
        dist = state.select("node", "dist")
        # ONE checkpoint per round (round 10; was two): the merge is a
        # FULL OUTER join that references the improvement set exactly once,
        # so the whole round — relaxation agg + merge — materializes in a
        # single job, and the next round's frontier is a cheap filter on
        # the checkpointed state (chg marks improved-or-new labels). Same
        # labels, same hashes; one fewer shuffle and one fewer job per
        # round.
        state = _sssp_merge(dist, _sssp_improved(frontier, sym, dist)).localCheckpoint()
        # bounded driver scalar: empty improvement round -> labels fixed
        if state.where("chg").isEmpty():
            break
    return state.select("node", "dist")


def _sssp_improved(
    frontier: DataFrame, sym: DataFrame, dist: DataFrame
) -> DataFrame:
    """Relaxation phase of one SSSP round (un-checkpointed, so its plan is
    auditable — tests/test_plans.py asserts the round shape on exactly this
    code path): frontier ⋈ edges, groupBy(node).min with map-side partial
    agg, then keep only strictly-better labels."""
    cand = (
        frontier.join(sym, frontier.node == sym.src)
        .select(
            F.col("dst").alias("node"),
            (F.col("dist") + F.col("w")).alias("dist"),
        )
        .groupBy("node")
        .agg(F.min("dist").alias("dist"))
    )
    return (
        cand.join(dist.select("node", F.col("dist").alias("_old")),
                  "node", "left")
        .where(F.col("_old").isNull() | (F.col("dist") < F.col("_old")))
        .select("node", "dist")
    )


def _sssp_merge(dist: DataFrame, improved: DataFrame) -> DataFrame:
    """Merge phase of one SSSP round: existing labels take the improvement
    if present; brand-new nodes append. ONE full-outer join on the node key
    — it references ``improved`` exactly once, so the caller can consume
    the relaxation lazily and checkpoint the whole round in a single job
    (the previous left-join + anti-union form read ``improved`` twice and
    forced a second materialization). ``chg`` marks improved-or-new rows —
    the next round's frontier is a filter, not a diff."""
    return dist.join(
        improved.select("node", F.col("dist").alias("_new")), "node", "full"
    ).select(
        "node",
        F.coalesce("_new", "dist").alias("dist"),
        F.col("_new").isNotNull().alias("chg"),
    )


def sssp_oracle_sql(
    edges_sql: str,
    seeds_sql: str,
    n_rounds: int = 4,
) -> str:
    """DuckDB twin of :func:`sssp`: relaxation rounds unrolled as CTE
    chains. ``edges_sql`` must yield (u, v, w) integer columns,
    ``seeds_sql`` a ``node`` integer column."""
    # Every round CTE is MATERIALIZED: d_i and f_i are each referenced
    # multiple times downstream, and DuckDB's unhinted inliner re-expands
    # the chain multiplicatively (measured 56 s -> ~1 s at a 60 k-edge
    # supply graph — the same hazard kcore_oracle_sql documents).
    parts = [
        f"edges AS MATERIALIZED ({edges_sql})",
        "sym AS MATERIALIZED (SELECT src, dst, min(w) AS w FROM ("
        "  SELECT CAST(u AS BIGINT) AS src, CAST(v AS BIGINT) AS dst,"
        "         CAST(w AS BIGINT) AS w FROM edges"
        "  UNION ALL SELECT CAST(v AS BIGINT), CAST(u AS BIGINT),"
        "         CAST(w AS BIGINT) FROM edges)"
        " WHERE src <> dst GROUP BY src, dst)",
        f"d_0 AS MATERIALIZED (SELECT DISTINCT CAST(node AS BIGINT) AS node,"
        f" CAST(0 AS BIGINT) AS dist FROM ({seeds_sql}))",
        "f_0 AS MATERIALIZED (SELECT node, dist FROM d_0)",
    ]
    for i in range(1, n_rounds + 1):
        parts.append(
            f"""c_{i} AS MATERIALIZED (
  SELECT s.dst AS node, min(f.dist + s.w) AS dist
  FROM f_{i - 1} f JOIN sym s ON s.src = f.node
  GROUP BY s.dst)"""
        )
        parts.append(
            f"""f_{i} AS MATERIALIZED (
  SELECT c.node, c.dist
  FROM c_{i} c LEFT JOIN d_{i - 1} d ON d.node = c.node
  WHERE d.node IS NULL OR c.dist < d.dist)"""
        )
        parts.append(
            f"""d_{i} AS MATERIALIZED (
  SELECT d.node, CASE WHEN f.dist IS NOT NULL AND f.dist < d.dist
                      THEN f.dist ELSE d.dist END AS dist
  FROM d_{i - 1} d LEFT JOIN f_{i} f ON f.node = d.node
  UNION ALL
  SELECT f.node, f.dist FROM f_{i} f LEFT JOIN d_{i - 1} d ON d.node = f.node
  WHERE d.node IS NULL)"""
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"\nSELECT node, dist FROM d_{n_rounds}"
    )


def kcore(
    edges: DataFrame,
    k: int | str = 2,
    n_rounds: int = 4,
    u_col: str = "u",
    v_col: str = "v",
) -> DataFrame:
    """k-core decomposition by synchronous peeling, ``n_rounds`` rounds:
    repeatedly delete every node whose CURRENT degree is below ``k``
    (deleting a node lowers its neighbors' degrees, which is why peeling
    iterates). Returns (node, deg) for the surviving nodes with their
    within-subgraph degree — after enough rounds this IS the k-core, the
    standard cohesion filter (graph-quality gating, spam/core separation,
    dense-community seeds). Bounded rounds are the 100 TB posture: each
    round strictly shrinks the node set or the result is already the
    fixpoint, and a peel that converged early is invariant under further
    rounds (empty deletions change nothing — mirrored exactly by the
    oracle's remaining unrolled rounds).

    Scale shape: per round ONE groupBy(endpoint) degree count over the
    surviving edge list (map-side partial agg) and one semi-join filter of
    the edges against the surviving nodes — both shuffle on the node key,
    co-partitioned round to round at 100 TB. The driver sees only the
    did-anything-change early-stop scalar (bounded control, same class as
    BFS/SSSP's frontier check). Exact integer degrees → value-hashes
    against the unrolled CTE twin at any partitioning.

    [ABSENT in reference: SURVEY §2.7 — engine extension.]
    """
    live = (
        edges.select(
            F.col(u_col).cast("long").alias("a"),
            F.col(v_col).cast("long").alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .select(F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b"))
        .distinct()
        .localCheckpoint()
    )
    if k == "lowcut":
        # low-tail cut from the INITIAL canonical degree table (one bounded
        # control-scalar agg on checkpointed data) — exactly
        # KCORE_LOW_CUT_K's integer arithmetic, so the oracle computes the
        # identical threshold. Data-dependent k keeps the peel meaningful
        # on graphs whose density scales with volume (a fixed small k
        # never peels them; an above-mean cut empties them).
        row = (
            live.select(F.col("a").alias("node"))
            .union(live.select(F.col("b").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("deg"))
            .agg(
                F.min("deg").alias("mn"),
                F.sum("deg").alias("sm"),
                F.count(F.lit(1)).alias("cnt"),
            )
            .collect()[0]
        )
        if int(row["cnt"]) == 0:
            # empty edge set: the agg row is (null, null, 0) — there is no
            # degree distribution to cut, and the k-core of an empty graph
            # is empty at any k, so return the empty (node, deg) frame
            # directly instead of raising on int(None).
            return (
                live.select(F.col("a").alias("node"))
                .groupBy("node")
                .agg(F.count(F.lit(1)).cast("long").alias("deg"))
            )
        mn, mean = int(row["mn"]), int(row["sm"]) // int(row["cnt"])
        k = mn + (mean - mn) * 2 // 5
    n_live = live.count()
    for _ in range(n_rounds):
        pruned = _kcore_peel_round(live, k).localCheckpoint()
        # bounded driver scalar: fixpoint reached -> further rounds no-op.
        # One count job per round: the survivor count carries over as the
        # next round's baseline instead of re-counting the checkpointed
        # input (round 10 — was two count jobs per round).
        n_pruned = pruned.count()
        live = pruned
        if n_pruned == n_live:
            break
        n_live = n_pruned
    return (
        live.select(F.col("a").alias("node"))
        .union(live.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
    )


#: SQL scalar for the low-tail degree cut, evaluated against the initial
#: degree table ``d0``: min + (floor-mean − min)·2//5 — exact integers, so
#: the Spark side (k="lowcut") computes the identical threshold. The 2/5
#: fraction is the measured sweet spot on graphs whose degree distribution
#: is tight (the co-supplier graph): an above-mean cut cascades such a
#: graph to EMPTY (near-regular ⇒ removing the below-mean half drags the
#: rest under), while this cut peels the low tail and leaves a surviving
#: core at every SF.
KCORE_LOW_CUT_K = (
    "(SELECT min(deg) + (sum(deg) // count(*) - min(deg)) * 2 // 5 FROM d0)"
)


def _kcore_peel_round(live: DataFrame, k: int) -> DataFrame:
    """One synchronous peel (un-checkpointed, so its plan is auditable —
    tests/test_plans.py asserts the round shape on exactly this code
    path): degree count with map-side partial agg, the >= k survivor
    filter, and two LEFT SEMI edge filters. The identical survivor subtree
    feeds both semi joins; Spark's exchange reuse collapses the duplicate
    degree aggregation at runtime."""
    deg = (
        live.select(F.col("a").alias("node"))
        .union(live.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    keep = deg.where(F.col("deg") >= k).select("node")
    return (
        live.join(keep.select(F.col("node").alias("a")), "a", "left_semi")
        .join(keep.select(F.col("node").alias("b")), "b", "left_semi")
        .select("a", "b")
    )


def kcore_oracle_sql(
    edges_sql: str, k: int | str = 2, n_rounds: int = 4
) -> str:
    """DuckDB twin of :func:`kcore`: peeling rounds unrolled as CTE chains.
    ``edges_sql`` must yield (u, v) integer columns.

    ``k`` may be an int literal or a SQL scalar expression string evaluated
    against the canonical edge set ``e_0`` (e.g. the above-mean-degree cut
    the catalog entry uses — data-dependent k is what keeps the peel
    meaningful across SFs on graphs whose density scales with volume).

    Every round CTE is MATERIALIZED and the survivor filter is a SEMI JOIN:
    each e_i is referenced three times downstream (twice by the degree
    union, once by the next filter), and without the hint DuckDB's inliner
    re-expanded the whole chain multiplicatively — the unhinted form took
    >120 s on a 215 k-edge graph where this one takes ~0.2 s."""
    parts = [
        f"edges AS MATERIALIZED ({edges_sql})",
        "e_0 AS MATERIALIZED (SELECT DISTINCT"
        " least(CAST(u AS BIGINT), CAST(v AS BIGINT)) AS a,"
        " greatest(CAST(u AS BIGINT), CAST(v AS BIGINT)) AS b"
        " FROM edges WHERE u <> v)",
    ]
    if isinstance(k, str):
        parts.append(
            "d0 AS MATERIALIZED (SELECT node, count(*) AS deg FROM ("
            "SELECT a AS node FROM e_0 UNION ALL SELECT b FROM e_0"
            ") GROUP BY node)"
        )
        parts.append(f"kk AS MATERIALIZED (SELECT {k} AS k)")
        k = "(SELECT k FROM kk)"
    for i in range(1, n_rounds + 1):
        parts.append(
            f"""d_{i} AS MATERIALIZED (
  SELECT node, count(*) AS deg FROM (
    SELECT a AS node FROM e_{i - 1} UNION ALL SELECT b FROM e_{i - 1}
  ) GROUP BY node)"""
        )
        parts.append(
            f"k_{i} AS MATERIALIZED (SELECT node FROM d_{i} WHERE deg >= {k})"
        )
        parts.append(
            f"""e_{i} AS MATERIALIZED (
  SELECT e.a, e.b FROM e_{i - 1} e
  SEMI JOIN k_{i} ka ON e.a = ka.node
  SEMI JOIN k_{i} kb ON e.b = kb.node)"""
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
  SELECT a AS node FROM e_{n_rounds} UNION ALL SELECT b FROM e_{n_rounds}
) GROUP BY node"""
    )
