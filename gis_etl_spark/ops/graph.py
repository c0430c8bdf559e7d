"""Graph analytics [beyond-reference]: fixed-iteration PageRank in
EXACT int64 arithmetic.

The reference engine has no graph surface (SURVEY §2); the engine
already ships one iterative graph algorithm — connected components by
star contraction for duplicate clusters (ops/dedup.py label_components)
— and this adds the other canonical one. PageRank here is the
canonical Spark ITERATIVE-algorithm shape done right: each iteration
is a join + one partial-aggregated groupBy (never a collect, never a
cross join), the rank vector stays distributed, and the iteration
count is fixed so the lazy plan is bounded (at deeper iteration
counts, checkpoint the rank frame each ~5 rounds to truncate lineage
— the dedup star-contraction loop checkpoints every round).

Exactness contract (what makes the oracle a hash-match, not an
approximation): ranks are int64 fixed-point units summing to ~PR_SCALE.
- initial rank = PR_SCALE div N,
- contribution  = rank div degree       (integer division),
- new rank      = (15·base + 85·inbound) div 100   (damping 0.85).
Integer division is deterministic in every engine — no float sum ever
happens, so shuffle order cannot flip a single unit. The mass lost to
the divisions is itself deterministic. (Float PageRank would need the
fixedpoint.py quantize-per-iteration treatment instead.)

Graph: the customer↔supplier trade graph — distinct
(o_custkey, l_suppkey) pairs from orders⋈lineitem, undirected (both
directions materialized), node id = 2·custkey for customers and
2·suppkey+1 for suppliers. Undirected-from-edges means degree ≥ 1
everywhere: no dangling-mass redistribution term is needed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gis_etl_spark.io import memo, read_table, table_path

PR_SCALE = 10**12
PR_ITERS = 3


def _edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected trade edges, both directions, distinct."""
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    pairs = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("c"),
            (F.col("l_suppkey") * 2 + 1).alias("s"),
        )
        .distinct()
    )
    return pairs.select(
        F.col("c").alias("src"), F.col("s").alias("dst")
    ).unionAll(pairs.select(F.col("s").alias("src"), F.col("c").alias("dst")))


def _edges_deg_cached(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Persisted (edges, degrees), memoized per (session, input
    fingerprint) — one entry per dataset, not per builder call."""

    def build() -> tuple[DataFrame, DataFrame]:
        # the unionAll doubles the distinct's partition count, so the
        # persisted edge frame held 2×shuffle.partitions slivers and
        # every iteration's broadcast-join stage ran 64 tiny tasks
        # (~200 KB each, half the task time pure launch/wait overhead).
        # Narrow-coalesce to cluster width before persisting — no
        # shuffle, same rows, per-iteration stages at defaultParallelism.
        para = spark.sparkContext.defaultParallelism
        edges = _edges(spark, sf_dir).coalesce(para).persist()
        deg = edges.groupBy("src").agg(F.count("*").alias("deg")).persist()
        return edges, deg

    inputs = [table_path(sf_dir, t) for t in ("orders", "lineitem")]
    return memo(spark, "trade_edges", inputs, (), build)


def pagerank_reference(
    edges: list[tuple[int, int]], iters: int = PR_ITERS
) -> dict[int, int]:
    """Sequential pure-Python twin of the distributed loop — the
    independent reference tests compare against (same role as
    kmeans_reference for the Lloyd trainer)."""
    from collections import defaultdict

    adj: dict[int, list[int]] = defaultdict(list)
    for u, v in edges:
        adj[u].append(v)
    n = len(adj)
    base = PR_SCALE // n
    rank = {u: base for u in adj}
    for _ in range(iters):
        inbound: dict[int, int] = defaultdict(int)
        for u, nbrs in adj.items():
            c = rank[u] // len(nbrs)
            for v in nbrs:
                inbound[v] += c
        rank = {u: (15 * base + 85 * inbound[u]) // 100 for u in adj}
    return rank


def pagerank_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration PageRank over the customer↔supplier trade graph.

    Per iteration: contributions = edges ⋈ ranks (equi-join on src),
    inbound = groupBy(dst).sum (int64, partial map-side), new ranks =
    closed-form integer update. N (node count) is the one driver scalar
    (the A8 aggregate-to-driver pattern); everything else stays
    distributed. At 100 TB-scale graphs, pre-partition edges and ranks
    on the node key once (bucketing) so the per-iteration join stops
    shuffling the edge table — the rank side is the only mover."""
    # materialize the edge list ONCE: without this, each iteration's
    # lazy plan re-runs the orders⋈lineitem distinct (3x the dominant
    # cost). At cluster scale this is the same move — write/bucket the
    # edge table once, iterate over it. The persisted frames are
    # memoized per (session, corpus fingerprint): the gate calls the
    # builder repeatedly and a fresh persist per call would leak a
    # cache entry each time.
    edges, deg = _edges_deg_cached(spark, sf_dir)
    n = deg.count()
    base = PR_SCALE // n
    # rank/inbound tables are O(nodes) — when the node population fits
    # an executor (≤ ~1M ids × 24 B), broadcasting them makes every
    # per-iteration join map-side and the edge table NEVER moves (the
    # bucketed-join recipe below stays the >1M-node path). Measured
    # 2.8 → 2.1 s at sf0.1 (r8); the n-guard keeps the plan honest at
    # graph scales where a broadcast would OOM.
    bcast = (lambda df: F.broadcast(df)) if n <= 1_000_000 else (
        lambda df: df
    )
    ranks = deg.select(
        F.col("src").alias("node"), "deg", F.lit(base).alias("rank")
    )
    for _ in range(PR_ITERS):
        contribs = edges.join(
            bcast(ranks), edges.src == ranks.node
        ).select(
            F.col("dst").alias("node"),
            F.expr("rank div deg").alias("c"),
        )
        inbound = contribs.groupBy("node").agg(F.sum("c").alias("inb"))
        ranks = (
            deg.select(F.col("src").alias("node"), "deg")
            .join(bcast(inbound), "node", "left")
            .select(
                "node",
                "deg",
                (
                    F.lit(15 * base)
                    + F.lit(85) * F.coalesce(F.col("inb"), F.lit(0))
                )
                .cast("long")
                .alias("num"),
            )
            .select("node", "deg", F.expr("num div 100").alias("rank"))
        )
    return ranks.select(
        F.col("node").alias("node_id"),
        F.when(F.col("node") % 2 == 0, F.lit("customer"))
        .otherwise(F.lit("supplier"))
        .alias("kind"),
        F.col("rank").alias("rank_units"),
    ).orderBy(F.desc("rank_units"), "node_id")


def pagerank_trade_sql() -> str:
    """The same 3 iterations unrolled as CTEs — integer division via
    DuckDB's `//` (floor division; all operands non-negative, so it
    agrees with Spark's `div`)."""
    steps = [
        f"""pairs AS (
          SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
          FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        ), edges AS (
          SELECT c AS src, s AS dst FROM pairs
          UNION ALL
          SELECT s AS src, c AS dst FROM pairs
        ), deg AS (
          SELECT src AS node, count(*)::BIGINT AS deg
          FROM edges GROUP BY src
        ), params AS (
          SELECT {PR_SCALE}::BIGINT // count(*) AS base FROM deg
        ), r0 AS (
          SELECT node, deg, (SELECT base FROM params) AS rank FROM deg
        )"""
    ]
    for t in range(PR_ITERS):
        steps.append(
            f"""c{t} AS (
          SELECT e.dst AS node, sum(r.rank // r.deg)::BIGINT AS inb
          FROM edges e JOIN r{t} r ON e.src = r.node
          GROUP BY e.dst
        ), r{t + 1} AS (
          SELECT d.node, d.deg,
                 (15 * (SELECT base FROM params)
                  + 85 * COALESCE(c.inb, 0)) // 100 AS rank
          FROM deg d LEFT JOIN c{t} c USING (node)
        )"""
        )
    ctes = ",\n        ".join(steps)
    return f"""
        WITH {ctes}
        SELECT node AS node_id,
               CASE WHEN node % 2 = 0 THEN 'customer'
                    ELSE 'supplier' END AS kind,
               rank AS rank_units
        FROM r{PR_ITERS}
        ORDER BY rank_units DESC, node_id
    """


# --- triangle counting (degree-ordered) ------------------------------------

TRI_EDGE_FACTOR = 5  # sparsifier keeps top 5·|suppliers| edges
TRI_TOP_N = 20
_TRI_ORD = 1 << 32  # ord = deg·2^32 + node: a total (degree, id) order


def copurchase_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census over the supplier co-purchase similarity graph —
    the canonical motif count, in the degree-ordered formulation that
    survives scale [beyond-reference].

    Stage 1 — deterministic sparsification. The raw co-purchase
    projection of a uniform corpus is near-COMPLETE (measured C(n,2)
    edges at both bench SFs), where triangle counting is degenerate
    and Θ(n³). Keep the top TRI_EDGE_FACTOR·|supplier| edges by
    (n_shared DESC, sa, sb) — the k-NN-style similarity-graph
    sparsification; the order is total, so both engines keep the
    identical edge set. In Spark this is a TakeOrdered (per-partition
    top-m + driver merge), never a global sort.

    Stage 2 — degree-ordered triangle counting (the MapReduce-classic
    trick): orient every edge from its (degree, id)-smaller endpoint
    to the larger, packed as one int64 `ord = deg·2^32 + id`. Each
    triangle then has exactly ONE out-degree-2 apex, so wedges
    (u→v, u→w with ord_v < ord_w) joined against the oriented closing
    edge (v→w) count each triangle exactly once, and the wedge volume
    is Σ out_deg² ≤ m·√(2m) instead of Σ deg² — the hub that breaks
    the naive formulation is precisely the node the orientation
    de-fans. Both joins are equi-joins; no CartesianProduct.

    Output: top-TRI_TOP_N suppliers by (triangles DESC, suppkey) with
    degree — a total order, so LIMIT is deterministic cross-engine.
    """
    return (
        triangle_census(_tri_edges_cached(spark, sf_dir))
        .select(
            F.col("s").alias("suppkey"),
            F.col("deg").alias("degree"),
            "triangles",
        )
        .orderBy(F.desc("triangles"), "suppkey")
        .limit(TRI_TOP_N)
    )


def _tri_edges_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted sparsified edge set, memoized per (session, input
    fingerprint) — the census consumes `edges` from three places
    (degrees + both orientation joins), and without a persist each
    consumer re-executes the orders⋈lineitem projection + top-m.
    Measured: steady-state 1.1 s at BOTH sf0.01 and sf0.1 with the
    persist (the remaining cold-gate cost is first-materialization of
    the co-purchase subtree, paid once)."""
    from gis_etl_spark.ops.relational import supplier_copurchase_pairs

    def build() -> DataFrame:
        n_sup = read_table(spark, sf_dir, "supplier").count()
        return (
            supplier_copurchase_pairs(spark, sf_dir)
            .orderBy(F.desc("n_shared"), "sa", "sb")
            .limit(TRI_EDGE_FACTOR * n_sup)
            .select("sa", "sb")
            .persist()
        )

    inputs = [
        table_path(sf_dir, t) for t in ("orders", "lineitem", "supplier")
    ]
    return memo(spark, "tri_edges", inputs, (), build)


def triangle_census(edges: DataFrame) -> DataFrame:
    """Per-node triangle counts over an undirected (sa < sb, distinct)
    edge frame — the degree-ordered stage of copurchase_triangles,
    exposed for direct testing on crafted graphs. Returns
    (s, deg, triangles) for every node in ≥1 triangle, unordered."""
    deg = (
        edges.select(F.col("sa").alias("v"))
        .unionAll(edges.select(F.col("sb").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("deg"))
    )
    e2 = (
        edges.join(
            deg.select(
                F.col("v").alias("sa"),
                (F.col("deg") * _TRI_ORD + F.col("v")).alias("orda"),
            ),
            "sa",
        )
        .join(
            deg.select(
                F.col("v").alias("sb"),
                (F.col("deg") * _TRI_ORD + F.col("v")).alias("ordb"),
            ),
            "sb",
        )
    )
    lt = F.col("orda") < F.col("ordb")
    oriented = e2.select(
        F.when(lt, F.col("sa")).otherwise(F.col("sb")).alias("src"),
        F.when(lt, F.col("sb")).otherwise(F.col("sa")).alias("dst"),
        F.greatest("orda", "ordb").alias("od"),
    )
    w1 = oriented.select(
        F.col("src").alias("u"), F.col("dst").alias("v"),
        F.col("od").alias("ov"),
    )
    w2 = oriented.select(
        F.col("src").alias("u"), F.col("dst").alias("w"),
        F.col("od").alias("ow"),
    )
    closing = oriented.select(
        F.col("src").alias("v"), F.col("dst").alias("w")
    )
    tris = (
        w1.join(w2, "u")
        .filter(F.col("ov") < F.col("ow"))
        .join(closing, ["v", "w"])
    )
    pern = (
        tris.select(F.explode(F.array("u", "v", "w")).alias("s"))
        .groupBy("s")
        .agg(F.count("*").alias("triangles"))
    )
    return pern.join(deg.select(F.col("v").alias("s"), "deg"), "s")


def copurchase_triangles_sql() -> str:
    """DuckDB twin: identical sparsification order (row_number over the
    same total order stands in for the TakeOrdered) and identical
    degree-ordered counting arithmetic."""
    from gis_etl_spark.ops.relational import (
        _COPURCHASE_CS_SQL,
        COPURCHASE_HUB_CAP,
        COPURCHASE_MIN_SHARED,
    )

    return f"""
        WITH cs AS (
          {_COPURCHASE_CS_SQL}
        ), dg0 AS (
          SELECT c, count(*) AS k FROM cs GROUP BY c
        ), kept AS (
          SELECT cs.c, cs.s FROM cs JOIN dg0 USING (c)
          WHERE k <= {COPURCHASE_HUB_CAP}
        ), pairs AS (
          SELECT a.s AS sa, b.s AS sb, count(*) AS n_shared
          FROM kept a JOIN kept b USING (c)
          WHERE a.s < b.s
          GROUP BY a.s, b.s
          HAVING count(*) >= {COPURCHASE_MIN_SHARED}
        ), ranked AS (
          SELECT sa, sb,
                 row_number() OVER (ORDER BY n_shared DESC, sa, sb) AS rn
          FROM pairs
        ), edges AS (
          SELECT sa, sb FROM ranked
          WHERE rn <= {TRI_EDGE_FACTOR} * (SELECT count(*) FROM supplier)
        ), dg AS (
          SELECT v, count(*) AS deg FROM (
            SELECT sa AS v FROM edges
            UNION ALL SELECT sb AS v FROM edges
          ) GROUP BY v
        ), e2 AS (
          SELECT sa, sb,
                 da.deg * {_TRI_ORD} + sa AS orda,
                 db.deg * {_TRI_ORD} + sb AS ordb
          FROM edges
          JOIN dg da ON da.v = sa
          JOIN dg db ON db.v = sb
        ), oriented AS (
          SELECT CASE WHEN orda < ordb THEN sa ELSE sb END AS src,
                 CASE WHEN orda < ordb THEN sb ELSE sa END AS dst,
                 greatest(orda, ordb) AS od
          FROM e2
        ), tri AS (
          SELECT w1.u, w1.v, w2.w
          FROM (SELECT src AS u, dst AS v, od AS ov FROM oriented) w1
          JOIN (SELECT src AS u, dst AS w, od AS ow FROM oriented) w2
            USING (u)
          JOIN (SELECT src AS v, dst AS w FROM oriented) cl
            ON cl.v = w1.v AND cl.w = w2.w
          WHERE ov < ow
        ), pern AS (
          SELECT s, count(*)::BIGINT AS triangles FROM (
            SELECT u AS s FROM tri
            UNION ALL SELECT v AS s FROM tri
            UNION ALL SELECT w AS s FROM tri
          ) GROUP BY s
        )
        SELECT s AS suppkey, deg AS degree, triangles
        FROM pern JOIN dg ON dg.v = s
        ORDER BY triangles DESC, suppkey
        LIMIT {TRI_TOP_N}
    """
