"""Iterative graph analytics with exact cross-engine parity: PageRank
over the customer-supplier purchase graph, all arithmetic in scaled
integers so Spark and DuckDB agree bit-for-bit after every iteration.

Floating-point PageRank cannot be oracle-compared — Spark sums partial
contributions in nondeterministic order, so double ranks drift run to
run.  The fix is the same discipline as the HLL/quantile sketches: hold
rank mass as a scaled BIGINT (SCALE = 1e12), make every per-edge
contribution an integer floor-division (rank div out_degree), sum
exactly, and apply damping as integer (85 * in_sum) div 100.  Exact,
order-free, engine-identical — at the cost of leaking a few units of
mass per division, which is identical in both engines and irrelevant to
ranking.

Graph: bipartite customer<->supplier edges from lineitem x orders (an
edge each way per distinct trading pair), so every node has in- and
out-edges and there is no dangling-mass special case.  FIXED_ITERS
unrolled iterations (the registry oracle needs a closed form; DuckDB
mirrors each iteration as a generated CTE).  At scale each iteration is
one join-shuffle on the edge key + one aggregation.  Every Pregel-style
loop of the family (pagerank, LPA, hierarchy, BFS, k-core, SSSP, HITS and
dedup_components' CC) runs through ``dedup.rounds``: one localCheckpoint
per round (local-mode stand-in for the written iteration table a
production job would use), one shuffle-width pin (``dedup.core_width``)
and one non-convergence error.  maximal_matching_rounds keeps its own
loop under the same pin, because its residual is part of its output.

Reference pairing: the reference has no graph operator; this extends the
engine-added analytics library (dedup_components' connected components
being the other graph op).

The co-purchase graph family reads two session artifacts defined next to
custsupp_cached: basket_cached (the deduped (order, part) pairs) and
copurchase_sup_cached (part pairs co-ordered at least twice).  k-truss
edge support, SSSP, link prediction, degree assortativity and the
market-basket ops in behavior.py all derive their edges from them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from pdf_craft_spark.queries import dedup
from pdf_craft_spark.queries.dedup import (
    DEDUP_COMPONENTS_SQL,
    DEDUP_MINHASH_LSH_SQL,
    cc_labels_cached,
    lsh_pairs_cached,
    md5_prefix_long_sql,
)
from pdf_craft_spark.sources import load_table

SCALE = 10**12
FIXED_ITERS = 3
_TELEPORT = (15 * SCALE) // 100  # (1 - d) * SCALE with d = 0.85


def custsupp_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session artifact: the distinct customer<->supplier trading-pair
    table every bipartite-graph consumer (pagerank, HITS, random walks,
    maximal matching) derives its edges from — the written edge table at
    prod, built once per session instead of once per consumer."""
    def build() -> DataFrame:
        li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
        orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
        # dedup on the raw int pair (cheap fixed-width hashing) — string
        # ids are built by consumers that need them
        return (
            li.join(F.broadcast(orders), li.l_orderkey == orders.o_orderkey)
            .select(
                F.col("o_custkey").alias("cust"), F.col("l_suppkey").alias("supp")
            )
            .distinct()
        )

    return dedup.session_artifact(spark, f"custsupp:{sf_dir}", build)


def basket_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session artifact: the deduped (l_orderkey, l_partkey) basket table
    — the one input the whole market-basket / co-purchase-graph family
    (pairs, triples, recsys, sssp, link prediction, truss, assortativity)
    derives from.  At prod this is a written table of the basket-prep
    job; here the scan+distinct runs once per session instead of once
    per consumer (guide §2.4: shared exchange)."""
    return dedup.session_artifact(
        spark,
        f"basket:{sf_dir}",
        lambda: load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct(),
    )


def copurchase_sup_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session artifact: undirected co-purchase edges (u < v) with their
    support, support >= 2 — the one edge rule sssp / link prediction /
    edge support / assortativity / market-basket all share (three copies
    of this recipe used to drift independently; now there is one)."""
    def build() -> DataFrame:
        basket = basket_cached(spark, sf_dir)
        a, b = basket.alias("a"), basket.alias("b")
        return (
            a.join(
                b,
                (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
                & (F.col("a.l_partkey") < F.col("b.l_partkey")),
            )
            .groupBy(F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v"))
            .agg(F.count(F.lit(1)).alias("sup"))
            .filter(F.col("sup") >= 2)
        )

    return dedup.session_artifact(spark, f"copurchase_sup:{sf_dir}", build)


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    return copurchase_sup_cached(spark, sf_dir).select("u", "v")


def pagerank_purchase_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the shared bipartite trading-pair artifact.  The rank loop runs on
    # BIGINT node keys (customer id*2, supplier id*2+1 — bijective): the
    # million-row edge table then checkpoints and joins as 16 bytes/row
    # instead of two ~8-char strings, and every per-round hash join keys
    # on a long.  The 'c…'/'s…' strings the contract returns are rebuilt
    # in the final 20-row projection — rank arithmetic is key-agnostic,
    # and the final (rank DESC, node-string) ordering is computed on the
    # reconstructed strings, so the output is bit-identical.
    pairs = custsupp_cached(spark, sf_dir).selectExpr(
        "CAST(cust AS BIGINT) * 2 AS src",
        "CAST(supp AS BIGINT) * 2 + 1 AS dst",
    )
    edges = pairs.unionByName(
        pairs.selectExpr("dst AS src", "src AS dst")
    ).localCheckpoint(eager=True)
    # one row per node — materialized ONCE; without this every reference
    # below re-aggregates the million-row edge table
    deg = (
        edges.groupBy(F.col("src").alias("node"))
        .agg(F.count(F.lit(1)).alias("out_deg"))
        .localCheckpoint(eager=True)
    )

    # the rank vector (one row per node) is tiny relative to the edge
    # table — broadcast it into the edge join so edges are NEVER
    # shuffled; each iteration's only wide operation is the partial-agg
    # sum of contributions by dst.  (At billion-node scale the vector
    # outgrows broadcast and this becomes a co-partitioned shuffle join
    # on a bucketed edge table — same loop, different join strategy.)
    def step(ranks: DataFrame) -> DataFrame:
        per_src = ranks.join(F.broadcast(deg), "node").selectExpr(
            "node AS src", "rank DIV out_deg AS c"
        )
        contrib = (
            edges.join(F.broadcast(per_src), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("c").alias("in_sum"))
        )
        return deg.select("node").join(contrib, "node", "left").selectExpr(
            "node",
            f"{_TELEPORT} + (85 * coalesce(in_sum, CAST(0 AS BIGINT))) DIV 100 AS rank",
        )

    r0 = deg.select("node", F.lit(SCALE).cast("long").alias("rank"))
    ranks = dedup.rounds(spark, "pagerank_purchase_graph", r0, step, FIXED_ITERS)
    named = ranks.selectExpr(
        "CASE WHEN node % 2 = 0 THEN 'c' || CAST(node DIV 2 AS STRING)"
        " ELSE 's' || CAST(node DIV 2 AS STRING) END AS node",
        "rank",
    )
    return named.orderBy(F.col("rank").desc(), "node").limit(20).select(
        "node", F.col("rank").alias("rank_scaled")
    )


def _pagerank_sql() -> str:
    base = """
WITH pairs AS (
  SELECT DISTINCT 'c' || CAST(o_custkey AS STRING) AS src,
                  's' || CAST(l_suppkey AS STRING) AS dst
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
), e AS (
  SELECT src, dst FROM pairs
  UNION ALL
  SELECT dst AS src, src AS dst FROM pairs
), deg AS (
  SELECT src AS node, CAST(count(*) AS BIGINT) AS out_deg FROM e GROUP BY 1
), r0 AS (
  SELECT node, CAST({scale} AS BIGINT) AS rank FROM deg
)""".format(scale=SCALE)
    for i in range(FIXED_ITERS):
        base += """, r{cur} AS (
  SELECT d.node,
         {teleport} + (85 * coalesce(s.in_sum, 0)) // 100 AS rank
  FROM deg d LEFT JOIN (
    SELECT e.dst AS node, CAST(sum(r.rank // g.out_deg) AS BIGINT) AS in_sum
    FROM r{prev} r JOIN deg g USING (node) JOIN e ON e.src = r.node
    GROUP BY 1
  ) s USING (node)
)""".format(cur=i + 1, prev=i, teleport=_TELEPORT)
    base += f"""
SELECT node, CAST(rank AS BIGINT) AS rank_scaled
FROM r{FIXED_ITERS}
ORDER BY rank DESC, node LIMIT 20
"""
    return base


PAGERANK_PURCHASE_GRAPH_SQL = _pagerank_sql()

QUERIES = {"pagerank_purchase_graph": pagerank_purchase_graph}
ORACLES = {"pagerank_purchase_graph": PAGERANK_PURCHASE_GRAPH_SQL}


# --- triangle / wedge statistics over the near-dup graph --------------------
# The third graph operator (PageRank here, connected components in
# dedup_components): per-node triangle and wedge counts plus the local
# clustering coefficient over the minhash-LSH near-duplicate graph — the
# structure signal that separates tight duplicate CLUSTERS (triangles)
# from chain-like false-positive strings (wedges without triangles).
#
# Shape: the pair list is materialized ONCE (localCheckpoint — without
# it Catalyst re-derives the whole shingle->minhash->band pipeline into
# every one of the four references below); triangles come from the
# classic oriented edge-join — edges are (lo, hi) ordered, so
# e(a,b) ⋈ e(b,c) ⋈ semi e(a,c) enumerates each triangle exactly once
# with no direction dedup pass.  Everything else is integer arithmetic:
# wedges = C(degree, 2), clustering_ppm = 1e6 * triangles div wedges.
# At web scale the standard refinement is degree-ordering the
# orientation (lower-degree endpoint first) to bound the join fan-out on
# skewed nodes; id-ordering is the right default for the near-dup graph
# whose max degree is bounded by the dedup cutoffs upstream.
def graph_triangle_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = lsh_pairs_cached(spark, sf_dir)
    nodes = pairs.selectExpr("doc_a AS d").unionAll(pairs.selectExpr("doc_b AS d"))
    deg = nodes.groupBy("d").agg(F.count(F.lit(1)).alias("degree"))
    cand = (
        pairs.selectExpr("doc_a AS a", "doc_b AS b")
        .join(pairs.selectExpr("doc_a AS b", "doc_b AS c"), "b")
        .select("a", "b", "c")
    )
    tri = cand.join(
        pairs.selectExpr("doc_a AS a", "doc_b AS c"), ["a", "c"], "leftsemi"
    )
    tn = (
        tri.selectExpr("explode(array(a, b, c)) AS d")
        .groupBy("d")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return (
        deg.join(tn, "d", "left")
        .selectExpr(
            "d AS doc_id",
            "degree",
            "(degree * (degree - 1)) DIV 2 AS n_wedges",
            "CAST(coalesce(n_triangles, 0) AS BIGINT) AS n_triangles",
            "CASE WHEN degree < 2 THEN CAST(0 AS BIGINT) "
            "ELSE (1000000 * coalesce(n_triangles, 0)) "
            "DIV ((degree * (degree - 1)) DIV 2) END AS clustering_ppm",
        )
        .orderBy("doc_id")
    )


def _triangle_stats_sql() -> str:
    return f"""
WITH pairs AS (
  SELECT doc_a, doc_b FROM ({DEDUP_MINHASH_LSH_SQL})
), nodes AS (
  SELECT doc_a AS d FROM pairs UNION ALL SELECT doc_b FROM pairs
), deg AS (
  SELECT d, CAST(count(*) AS BIGINT) AS degree FROM nodes GROUP BY d
), cand AS (
  SELECT e1.doc_a AS a, e1.doc_b AS b, e2.doc_b AS c
  FROM pairs e1 JOIN pairs e2 ON e1.doc_b = e2.doc_a
), tri AS (
  SELECT a, b, c FROM cand WHERE EXISTS (
    SELECT 1 FROM pairs p WHERE p.doc_a = cand.a AND p.doc_b = cand.c)
), tn AS (
  SELECT d, CAST(count(*) AS BIGINT) AS n_triangles FROM (
    SELECT a AS d FROM tri
    UNION ALL SELECT b FROM tri
    UNION ALL SELECT c FROM tri
  ) GROUP BY d
)
SELECT deg.d AS doc_id, deg.degree,
       CAST((deg.degree * (deg.degree - 1)) // 2 AS BIGINT) AS n_wedges,
       coalesce(tn.n_triangles, CAST(0 AS BIGINT)) AS n_triangles,
       CAST(CASE WHEN deg.degree < 2 THEN 0
            ELSE (1000000 * coalesce(tn.n_triangles, 0))
                 // ((deg.degree * (deg.degree - 1)) // 2) END AS BIGINT)
         AS clustering_ppm
FROM deg LEFT JOIN tn ON deg.d = tn.d
ORDER BY doc_id
"""


GRAPH_TRIANGLE_STATS_SQL = _triangle_stats_sql()

QUERIES["graph_triangle_stats"] = graph_triangle_stats
ORACLES["graph_triangle_stats"] = GRAPH_TRIANGLE_STATS_SQL


# --- label propagation communities ------------------------------------------
# The fourth graph operator: synchronous label propagation over the
# near-dup graph.  LPA's usual nondeterminism (random tie-breaks, async
# update order) is removed the house way: SYNCHRONOUS rounds, new label
# = the most frequent label among neighbors with ties broken by SMALLEST
# label, FIXED round count — every round is then a pure function of the
# previous labeling, identical in both engines, and the DuckDB oracle
# unrolls the same rounds as generated CTEs (the PageRank discipline,
# minus the arithmetic because labels are ids, not mass).  Each round is
# one edge-keyed join + one (v,label) count + one per-v argmax window —
# the Pregel shape, run by dedup.rounds.  Communities out: per-node final
# label + community size.
LPA_ITERS = 2


def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = dedup.lsh_edges_cached(spark, sf_dir).selectExpr("src AS v", "dst AS u")

    def step(labels: DataFrame) -> DataFrame:
        freq = (
            edges.join(labels.withColumnRenamed("v", "u"), "u")
            .groupBy("v", "lab")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        best = dedup.top_k(freq, ["v"], [F.desc("c"), F.asc("lab")], 1, "rk")
        return best.select("v", "lab")

    l0 = edges.select("v").distinct().selectExpr("v", "v AS lab")
    labels = dedup.rounds(spark, "graph_label_propagation", l0, step, LPA_ITERS)
    size = labels.groupBy("lab").agg(F.count(F.lit(1)).alias("community_size"))
    return (
        labels.join(size, "lab")
        .selectExpr(
            "v AS doc_id",
            "CAST(lab AS BIGINT) AS community",
            "CAST(community_size AS BIGINT) AS community_size",
        )
        .orderBy("doc_id")
    )


def _label_propagation_sql() -> str:
    rounds = []
    for i in range(1, LPA_ITERS + 1):
        rounds.append(f"""f{i} AS (
  SELECT e.v, l.lab, count(*) AS c
  FROM edges e JOIN l{i - 1} l ON l.v = e.u
  GROUP BY 1, 2
), l{i} AS (
  SELECT v, lab FROM (
    SELECT v, lab,
           row_number() OVER (PARTITION BY v ORDER BY c DESC, lab) AS rk
    FROM f{i}
  ) WHERE rk = 1
)""")
    last = f"l{LPA_ITERS}"
    return f"""
WITH pairs AS (
  SELECT doc_a, doc_b FROM ({DEDUP_MINHASH_LSH_SQL})
), edges AS (
  SELECT doc_a AS v, doc_b AS u FROM pairs
  UNION ALL
  SELECT doc_b AS v, doc_a AS u FROM pairs
), l0 AS (
  SELECT DISTINCT v, v AS lab FROM edges
), {", ".join(rounds)}, csize AS (
  SELECT lab, CAST(count(*) AS BIGINT) AS community_size
  FROM {last} GROUP BY 1
)
SELECT {last}.v AS doc_id,
       CAST({last}.lab AS BIGINT) AS community,
       csize.community_size
FROM {last} JOIN csize USING (lab)
ORDER BY doc_id
"""


GRAPH_LABEL_PROPAGATION_SQL = _label_propagation_sql()

QUERIES["graph_label_propagation"] = graph_label_propagation
ORACLES["graph_label_propagation"] = GRAPH_LABEL_PROPAGATION_SQL


# --- recursive hierarchy flattening ------------------------------------------
# The classic recursive-CTE workload (org charts, category trees, thread
# hierarchies) Spark SQL lacks natively: flatten every node of a forest to
# (root_id, depth, root_size).  The hierarchy is synthesized
# deterministically from doc_id (roots are doc_id < 7, else parent =
# doc_id div 7 — a base-7 forest, depth ~ log7 N), matching the DuckDB
# WITH RECURSIVE oracle exactly.
#
# Plan: the ancestor walk is a driver-bounded iterative loop — each round
# left-joins the full state against the parent table and advances
# (cur, depth) where a parent exists; rows already at a root pass through
# unchanged (their cost is the join probe, not extra traversal).  Rounds =
# max depth = O(log N) (4 at sf0.01, ~7 at 10^12 docs), each one
# equi-join + no aggregation, run by dedup.rounds.  For pathological depth the
# pointer-jumping variant (self-composing the ancestor function, rounds =
# log2 depth) is the escalation path; for b-ary forests the linear walk
# is already log-bounded and cheaper per round.  Convergence is CHECKED —
# a cycle in the parent column raises instead of silently looping.
def hierarchy_flatten_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    nodes = docs.selectExpr(
        "doc_id AS child",
        "CASE WHEN doc_id < 7 THEN NULL ELSE doc_id div 7 END AS parent",
    ).localCheckpoint(eager=True)

    def step(state: DataFrame) -> DataFrame:
        return state.join(nodes, state["cur"] == nodes["child"], "left").select(
            "doc_id",
            F.coalesce("parent", "cur").alias("cur"),
            (F.col("depth") + F.when(F.col("parent").isNotNull(), 1).otherwise(0)).alias(
                "depth"
            ),
        )

    def advanced(new: DataFrame, old: DataFrame) -> int:
        return new.join(
            old.selectExpr("doc_id", "depth AS od"), "doc_id"
        ).filter(F.col("depth") != F.col("od")).count()

    s0 = nodes.selectExpr("child AS doc_id", "child AS cur", "CAST(0 AS INT) AS depth")
    state = dedup.rounds(spark, "hierarchy_flatten_docs", s0, step, 64, advanced)
    w = W.partitionBy("cur")
    return state.select(
        "doc_id",
        F.col("cur").cast("long").alias("root_id"),
        F.col("depth").cast("int").alias("depth"),
        F.count(F.lit(1)).over(w).cast("long").alias("root_size"),
    ).orderBy("doc_id")


HIERARCHY_FLATTEN_DOCS_SQL = """
WITH RECURSIVE nodes AS (
  SELECT doc_id AS child,
         CASE WHEN doc_id < 7 THEN NULL ELSE doc_id // 7 END AS parent
  FROM documents
), walk(doc_id, cur, depth) AS (
  SELECT child, child, 0 FROM nodes
  UNION ALL
  SELECT w.doc_id, n.parent, w.depth + 1
  FROM walk w JOIN nodes n ON n.child = w.cur
  WHERE n.parent IS NOT NULL
), flat AS (
  SELECT doc_id, cur, depth FROM (
    SELECT doc_id, cur, depth,
           row_number() OVER (PARTITION BY doc_id ORDER BY depth DESC) AS rk
    FROM walk
  ) WHERE rk = 1
)
SELECT doc_id, CAST(cur AS BIGINT) AS root_id, CAST(depth AS INT) AS depth,
       CAST(count(*) OVER (PARTITION BY cur) AS BIGINT) AS root_size
FROM flat ORDER BY doc_id
"""

QUERIES["hierarchy_flatten_docs"] = hierarchy_flatten_docs
ORACLES["hierarchy_flatten_docs"] = HIERARCHY_FLATTEN_DOCS_SQL


# --- multi-source BFS distance -------------------------------------------------
# The distance member of the graph family (components = membership,
# LPA = community, PageRank = centrality, triangles = local structure,
# BFS = reachability + hops): minimum hop count from a deterministic seed
# set (the 5 smallest node ids — data-derived, so seeds always exist on
# the sparse near-dup node set) over the near-dup graph.  Frontier relaxation as
# a Pregel-style loop (dedup.rounds) — each round one equi-join (edges x
# current distances) + a min-aggregate; convergence is CHECKED and a
# non-terminating relaxation raises.  Rounds = eccentricity
# of the seed set (near-dup clusters are shallow); at 10^12 docs the same
# loop runs over the persisted edge table with distance state as a table
# per round.  Unreachable docs are excluded (they carry no distance).
BFS_MAX_ROUNDS = 32
BFS_N_SEEDS = 5


def graph_bfs_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = dedup.lsh_edges_cached(spark, sf_dir)
    nodes = edges.select(F.col("src").alias("doc_id")).distinct()
    seeds = (
        nodes.orderBy("doc_id")
        .limit(BFS_N_SEEDS)
        .selectExpr("doc_id", "CAST(0 AS INT) AS dist")
        .localCheckpoint(eager=True)
    )

    def step(dist: DataFrame) -> DataFrame:
        return (
            edges.join(dist.withColumnRenamed("doc_id", "src"), "src")
            .selectExpr("dst AS doc_id", "dist + 1 AS dist")
            .unionByName(dist)
            .groupBy("doc_id")
            .agg(F.min("dist").alias("dist"))
        )

    def changed(new: DataFrame, old: DataFrame) -> int:
        return (
            new.join(old.withColumnRenamed("dist", "od"), "doc_id", "left")
            .filter(F.col("od").isNull() | (F.col("dist") != F.col("od")))
            .count()
        )

    dist = dedup.rounds(spark, "graph_bfs_distance", seeds, step, BFS_MAX_ROUNDS, changed)
    return dist.selectExpr("doc_id", "CAST(dist AS INT) AS dist").orderBy("doc_id")


def _bfs_distance_sql() -> str:
    return f"""
WITH RECURSIVE pairs AS (
  SELECT doc_a, doc_b FROM ({DEDUP_MINHASH_LSH_SQL})
), edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM pairs
), nodes AS (
  SELECT DISTINCT src AS doc_id FROM edges
), walk(doc_id, d) AS (
  SELECT doc_id, 0 FROM (SELECT doc_id FROM nodes ORDER BY doc_id LIMIT {BFS_N_SEEDS})
  UNION
  SELECT e.dst, w.d + 1
  FROM walk w JOIN edges e ON e.src = w.doc_id
  WHERE w.d < {BFS_MAX_ROUNDS}
)
SELECT doc_id, CAST(min(d) AS INT) AS dist
FROM walk GROUP BY doc_id ORDER BY doc_id
"""


GRAPH_BFS_DISTANCE_SQL = _bfs_distance_sql()

QUERIES["graph_bfs_distance"] = graph_bfs_distance
ORACLES["graph_bfs_distance"] = GRAPH_BFS_DISTANCE_SQL


# --- k-core decomposition (iterative peel) -----------------------------------
# The seventh graph operator: the 2-core of the near-dup graph — every
# node that survives repeated deletion of degree-<2 nodes, i.e. the part
# of the duplicate graph that is CLUSTERED (cycles/cliques) rather than
# mere isolated pair bridges.  Dedup pipelines use exactly this cut to
# separate "true duplicate families" from incidental pairwise hits.
# Synchronous peel rounds (degree count -> keep set -> edge restrict),
# each one shuffle on the node key, run by dedup.rounds; the loop is
# CONVERGENCE-CHECKED — if the last unrolled round still removed edges
# the op raises instead of returning a non-core (same discipline as
# dedup_components / hierarchy_flatten_docs).  The oracle unrolls the
# identical rounds as generated CTEs.  Output: surviving nodes with
# their in-core degree.
KCORE_K = 2
KCORE_ITERS = 3


def graph_kcore_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = dedup.lsh_edges_cached(spark, sf_dir).selectExpr("src AS v", "dst AS u")

    def step(live: DataFrame) -> DataFrame:
        keep = (
            live.groupBy("v").agg(F.count(F.lit(1)).alias("deg"))
            .filter(F.col("deg") >= KCORE_K)
            .select("v")
        )
        return live.join(keep, "v").join(keep.withColumnRenamed("v", "u"), "u").select("v", "u")

    # the previous round's edge count is carried, so each round counts once
    counts = [edges.count()]

    def peeled(new: DataFrame, _old: DataFrame) -> int:
        counts.append(new.count())
        return counts[-2] - counts[-1]

    edges = dedup.rounds(spark, "graph_kcore_decomposition", edges, step, KCORE_ITERS, peeled)
    return (
        edges.groupBy("v")
        .agg(F.count(F.lit(1)).alias("core_degree"))
        .selectExpr(
            "CAST(v AS BIGINT) AS doc_id",
            "CAST(core_degree AS BIGINT) AS core_degree",
        )
        .orderBy("doc_id")
    )


def _kcore_sql() -> str:
    rounds = []
    for i in range(1, KCORE_ITERS + 1):
        rounds.append(f"""d{i} AS (
  SELECT v, count(*) AS deg FROM e{i - 1} GROUP BY 1
), k{i} AS (
  SELECT v FROM d{i} WHERE deg >= {KCORE_K}
), e{i} AS (
  SELECT e.v, e.u FROM e{i - 1} e
  JOIN k{i} a ON e.v = a.v
  JOIN k{i} b ON e.u = b.v
)""")
    return f"""
WITH pairs AS (
  SELECT doc_a, doc_b FROM ({DEDUP_MINHASH_LSH_SQL})
), e0 AS (
  SELECT doc_a AS v, doc_b AS u FROM pairs
  UNION ALL
  SELECT doc_b AS v, doc_a AS u FROM pairs
), {", ".join(rounds)}
SELECT CAST(v AS BIGINT) AS doc_id,
       CAST(count(*) AS BIGINT) AS core_degree
FROM e{KCORE_ITERS}
GROUP BY 1 ORDER BY 1
"""


GRAPH_KCORE_DECOMPOSITION_SQL = _kcore_sql()

QUERIES["graph_kcore_decomposition"] = graph_kcore_decomposition
ORACLES["graph_kcore_decomposition"] = GRAPH_KCORE_DECOMPOSITION_SQL


# --- link prediction over the co-purchase graph ------------------------------
# Classic common-neighbors / Jaccard link prediction: rank part pairs that
# were NEVER co-ordered but share co-purchase neighbors (the
# recommendation primitive behind "bought X also consider Z").  Graph =
# market-basket edges (distinct (order, part) baskets self-joined, support
# >= 2 — the same recipe as market_basket_pairs, support-thresholded so
# hub degree is bounded by real co-purchase signal, not basket noise).
#
# Scale shape: wedge generation (adj ⋈ adj on the middle vertex) is the
# only quadratic term and is bounded by per-vertex degree — at 100 TB the
# standard hub-cap (drop vertices whose degree exceeds a df-style cutoff,
# exactly like dedup's DF_CUTOFF_FRAC) bounds the fan-out; on this graph
# the support filter already caps degree.  Jaccard is exact integer ppm
# over neighbor-set sizes; scoring is order-free, the final top-50 has a
# total deterministic order (cn desc, jaccard desc, part_a, part_b).
LP_TOP = 50


def graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the shared co-purchase edge artifact — already materialized, so all
    # 4 plan branches (two adjacency directions, the wedge join's both
    # sides via adj, the existing-edge anti-join) read the written table
    edges = copurchase_sup_cached(spark, sf_dir).selectExpr("u AS pa", "v AS pb")
    adj = edges.selectExpr("pa AS u", "pb AS v").unionAll(
        edges.selectExpr("pb AS u", "pa AS v")
    )
    deg = adj.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    cand = (
        adj.alias("l")
        .join(adj.alias("r"), F.col("l.v") == F.col("r.u"))
        .filter(F.col("l.u") < F.col("r.v"))
        .groupBy(F.col("l.u").alias("x"), F.col("r.v").alias("z"))
        .agg(F.count(F.lit(1)).alias("cn"))
    )
    newp = cand.join(
        edges.selectExpr("pa AS x", "pb AS z"), ["x", "z"], "left_anti"
    )
    return (
        newp.join(F.broadcast(deg.selectExpr("u AS x", "d AS dx")), "x")
        .join(F.broadcast(deg.selectExpr("u AS z", "d AS dz")), "z")
        .selectExpr(
            "CAST(x AS BIGINT) AS part_a",
            "CAST(z AS BIGINT) AS part_b",
            "CAST(cn AS BIGINT) AS common_neighbors",
            "CAST((1000000 * cn) DIV (dx + dz - cn) AS BIGINT) AS jaccard_ppm",
        )
        .orderBy(
            F.desc("common_neighbors"), F.desc("jaccard_ppm"), "part_a", "part_b"
        )
        .limit(LP_TOP)
    )


GRAPH_LINK_PREDICTION_SQL = f"""
WITH basket AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), edges AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb
  FROM basket a JOIN basket b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 2
), adj AS (
  SELECT pa AS u, pb AS v FROM edges
  UNION ALL SELECT pb, pa FROM edges
), deg AS (
  SELECT u, count(*) AS d FROM adj GROUP BY 1
), cand AS (
  SELECT l.u AS x, r.v AS z, count(*) AS cn
  FROM adj l JOIN adj r ON l.v = r.u AND l.u < r.v
  GROUP BY 1, 2
), newp AS (
  SELECT * FROM cand WHERE NOT EXISTS (
    SELECT 1 FROM edges p WHERE p.pa = cand.x AND p.pb = cand.z)
)
SELECT CAST(n.x AS BIGINT) AS part_a,
       CAST(n.z AS BIGINT) AS part_b,
       CAST(n.cn AS BIGINT) AS common_neighbors,
       CAST((1000000 * n.cn) // (gx.d + gz.d - n.cn) AS BIGINT) AS jaccard_ppm
FROM newp n JOIN deg gx ON gx.u = n.x JOIN deg gz ON gz.u = n.z
ORDER BY common_neighbors DESC, jaccard_ppm DESC, part_a, part_b
LIMIT {LP_TOP}
"""

QUERIES["graph_link_prediction"] = graph_link_prediction
ORACLES["graph_link_prediction"] = GRAPH_LINK_PREDICTION_SQL


# --- deterministic random-walk sampling (node2vec-style corpus builder) ---
# The representation-learning feeder the graph family lacked: skip-gram /
# node2vec embedding training consumes WALKS, not edges, and at scale the
# walk generator is itself a distributed job.  Each start node takes
# WALK_LEN hash-driven steps: at node v on step t of the walk started at
# s, the next hop is the neighbor with 1-based rank
#     H(s | t | v) mod deg(v) + 1
# in v's dst-sorted adjacency list (H = the shared 60-bit md5 helper) —
# a uniform, seedless, engine-identical choice, so the "random" walk is
# a pure function of the graph: reruns, retries and repartitions emit
# identical corpora (the determinism-under-retry contract of
# split_train_val_test, applied to graph sampling).
#
# Scale shape: the adjacency list (src, dst, rnk, deg) is materialized
# once — rnk via one row_number window per src (localCheckpoint here; the
# written adjacency table at prod) — and each step is TWO equi-joins:
# attach deg, compute the rank, then the (src, rnk) EXACT-neighbor
# lookup.  Never a fan-out join over all neighbors followed by a filter,
# so a hub node costs one probe per visiting walk, not one row per
# neighbor.  Walks are embarrassingly parallel across start nodes and
# the data volume is constant per step (one row per walk).
#
# Graph: the same customer<->supplier bipartite purchase graph as
# pagerank (walks alternate c->s->c->s, the standard metapath walk on a
# bipartite graph).  Oracle: the identical unrolled joins in DuckDB.
WALK_LEN = 3


def graph_random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = custsupp_cached(spark, sf_dir).selectExpr(
        "'c' || CAST(cust AS STRING) AS src",
        "'s' || CAST(supp AS STRING) AS dst",
    )
    edges = pairs.unionByName(pairs.selectExpr("dst AS src", "src AS dst"))
    adj = edges.selectExpr(
        "src",
        "dst",
        "row_number() OVER (PARTITION BY src ORDER BY dst) AS rnk",
        "count(1) OVER (PARTITION BY src) AS deg",
    ).localCheckpoint(eager=True)
    # one row per node, referenced by every walk step — materialize once
    # instead of re-distincting the full adjacency per step
    deg = (
        adj.selectExpr("src AS node", "deg").distinct().localCheckpoint(eager=True)
    )

    walk = (
        adj.filter("src LIKE 'c%'")
        .select(F.col("src").alias("start"))
        .distinct()
        .withColumn("node", F.col("start"))
    )
    for t in range(1, WALK_LEN + 1):
        h = md5_prefix_long_sql(f"concat(start, '|{t}|', node)", 15, "spark")
        walk = (
            walk.join(deg, "node")
            .withColumn("r", F.expr(f"CAST(({h}) % deg + 1 AS INT)"))
            .withColumnRenamed("node", "prev")
            .join(
                adj.selectExpr("src AS prev", "rnk AS r", "dst AS node"),
                ["prev", "r"],
            )
            .drop("deg", "prev", "r")
            .withColumn(f"hop{t}", F.col("node"))
        )
    return walk.select("start", "hop1", "hop2", "hop3")


def _random_walks_sql() -> str:
    steps = []
    prev = "w0"
    for t in range(1, WALK_LEN + 1):
        h = md5_prefix_long_sql(f"(w.start || '|{t}|' || w.node)", 15, "duck")
        carry = "".join(f", w.hop{i}" for i in range(1, t))
        carry_out = "".join(f", s.hop{i}" for i in range(1, t))
        steps.append(
            f"""w{t} AS (
  SELECT s.start{carry_out}, a.dst AS node, a.dst AS hop{t}
  FROM (
    SELECT w.start, w.node{carry}, ({h}) % d.deg + 1 AS r
    FROM {prev} w JOIN deg d ON d.node = w.node
  ) s
  JOIN adj a ON a.src = s.node AND a.rnk = s.r
)"""
        )
        prev = f"w{t}"
    body = ",\n".join(steps)
    return f"""
WITH pairs AS (
  SELECT DISTINCT 'c' || CAST(o.o_custkey AS VARCHAR) AS src,
                  's' || CAST(l.l_suppkey AS VARCHAR) AS dst
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
), edges AS (
  SELECT src, dst FROM pairs
  UNION ALL
  SELECT dst AS src, src AS dst FROM pairs
), adj AS (
  SELECT src, dst,
         row_number() OVER (PARTITION BY src ORDER BY dst) AS rnk,
         count(1) OVER (PARTITION BY src) AS deg
  FROM edges
), deg AS (
  SELECT DISTINCT src AS node, deg FROM adj
), w0 AS (
  SELECT DISTINCT src AS start, src AS node FROM adj WHERE src LIKE 'c%'
),
{body}
SELECT start, hop1, hop2, hop3 FROM w{WALK_LEN}
"""


GRAPH_RANDOM_WALKS_SQL = _random_walks_sql()

QUERIES["graph_random_walks"] = graph_random_walks
ORACLES["graph_random_walks"] = GRAPH_RANDOM_WALKS_SQL


# --- weighted single-source shortest paths (Bellman-Ford relaxation) --------
# The weighted-distance member of the graph family (BFS gives hops; this
# gives COST): shortest weighted distance from a 3-seed set over the
# co-purchase graph, edge weight w = 1000 DIV support (strong ties are
# short — the standard affinity-to-distance inversion, exact integer).
# Pregel/Bellman-Ford relaxation: each round joins the edge table to the
# current distance table and takes a per-vertex min,
#     d'(v) = min(d(v), min_{(u,v) in E} d(u) + w(u,v)),
# one shuffle per round, run by dedup.rounds, convergence CHECKED (a
# graph still relaxing after SSSP_MAX_ROUNDS raises rather than emitting
# an unconverged table).  The oracle unrolls the same relaxation a fixed
# SSSP_MAX_ROUNDS times — after convergence extra rounds are fixpoint
# no-ops, so the driver hash proves the loop computed the true fixpoint.
# Bellman-Ford is exactly how weighted SSSP runs at 10^12-edge scale
# (GraphX/Pregel shape): no priority queue, just iterated joins.
SSSP_MAX_ROUNDS = 24
SSSP_N_SEEDS = 3


def sssp_weighted_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the shared co-purchase edge artifact (support >= 2, built once per
    # session — copurchase_sup_cached); weight derives from
    # the carried support
    und = copurchase_sup_cached(spark, sf_dir).selectExpr(
        "u AS pa", "v AS pb", "1000 DIV sup AS w"
    )
    edges = (
        und.selectExpr("pa AS src", "pb AS dst", "w")
        .unionAll(und.selectExpr("pb AS src", "pa AS dst", "w"))
        .localCheckpoint(eager=True)  # relaxed every round; = written edges
    )
    seeds = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .orderBy("node")
        .limit(SSSP_N_SEEDS)
        .selectExpr("node", "CAST(0 AS BIGINT) AS dist")
        .localCheckpoint(eager=True)
    )

    # carry the previous distance through the relax aggregate (min(od)
    # ignores the candidate rows' NULLs), so convergence is a filter over
    # the materialized round table instead of a second join per round —
    # one shuffle per round, period (guide §2.4)
    def step(dist: DataFrame) -> DataFrame:
        cand = edges.join(dist.withColumnRenamed("node", "src"), "src").selectExpr(
            "dst AS node", "dist + w AS d", "CAST(NULL AS BIGINT) AS od"
        )
        return (
            cand.unionByName(dist.selectExpr("node", "dist AS d", "dist AS od"))
            .groupBy("node")
            .agg(F.min("d").alias("dist"), F.min("od").alias("od"))
        )

    def changed(new: DataFrame, _old: DataFrame) -> int:
        return new.filter(F.col("od").isNull() | (F.col("dist") != F.col("od"))).count()

    dist = dedup.rounds(spark, "sssp_weighted_copurchase", seeds, step, SSSP_MAX_ROUNDS, changed)
    return dist.selectExpr(
        "CAST(node AS BIGINT) AS part_id", "CAST(dist AS BIGINT) AS dist"
    ).orderBy("part_id")


def _sssp_sql() -> str:
    rounds = []
    prev = "d0"
    for r in range(1, SSSP_MAX_ROUNDS + 1):
        # MATERIALIZED is load-bearing: d{r} references d{r-1} twice
        # (relaxation join + UNION ALL carry), so an inlining planner
        # would expand the 24-round chain exponentially.
        rounds.append(
            f"""d{r} AS MATERIALIZED (
  SELECT node, min(dist) AS dist FROM (
    SELECT e.dst AS node, p.dist + e.w AS dist
    FROM edges e JOIN {prev} p ON e.src = p.node
    UNION ALL SELECT node, dist FROM {prev}
  ) GROUP BY node
)"""
        )
        prev = f"d{r}"
    body = ",\n".join(rounds)
    return f"""
WITH basket AS MATERIALIZED (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), und AS MATERIALIZED (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb, 1000 // count(*) AS w
  FROM basket a JOIN basket b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 2
), edges AS MATERIALIZED (
  SELECT pa AS src, pb AS dst, w FROM und
  UNION ALL SELECT pb, pa, w FROM und
), d0 AS (
  SELECT node, CAST(0 AS BIGINT) AS dist FROM (
    SELECT DISTINCT src AS node FROM edges ORDER BY node
    LIMIT {SSSP_N_SEEDS})
),
{body}
SELECT CAST(node AS BIGINT) AS part_id, CAST(dist AS BIGINT) AS dist
FROM {prev} ORDER BY part_id
"""


SSSP_WEIGHTED_COPURCHASE_SQL = _sssp_sql()

QUERIES["sssp_weighted_copurchase"] = sssp_weighted_copurchase
ORACLES["sssp_weighted_copurchase"] = SSSP_WEIGHTED_COPURCHASE_SQL


# --- HITS hubs & authorities -------------------------------------------------
# Kleinberg's HITS on the bipartite purchase graph: customers are hubs
# (good buyers point at good suppliers), suppliers are authorities.  Each
# iteration is the pair of half-steps a = A^T h, h = A a with a max-
# normalization after each half-step so the vectors stay in scaled
# integers: v <- (v * SCALE) DIV max(v) — the 1-row max broadcasts, the
# floor is engine-identical, and v * SCALE stays under 2^63 (scores are
# <= SCALE after normalization, degree sums <= deg_max * SCALE ~ 1e10,
# times SCALE = 1e16).  Same loop discipline as pagerank: the score
# vector (one row per node) broadcasts into the edge join so the edge
# table is NEVER shuffled; one partial-agg per half-step; dedup.rounds
# checkpoints the hub vector per round and the step checkpoints the
# authority half-step.  FIXED unrolled iterations so DuckDB mirrors the
# exact arithmetic as CTEs.
HITS_SCALE = 10**6
HITS_ITERS = 3
HITS_TOPK = 10


def graph_hits_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the shared bipartite trading-pair artifact IS the edge table here
    edges = custsupp_cached(spark, sf_dir)
    auth = []  # each round's authority vector; the last one is output

    def step(h: DataFrame) -> DataFrame:
        a = (
            edges.join(F.broadcast(h), "cust")
            .groupBy("supp")
            .agg(F.sum("h").alias("a"))
        )
        amax = a.agg(F.max("a").alias("mx"))
        auth.append(
            a.crossJoin(F.broadcast(amax))
            .selectExpr("supp", f"(a * {HITS_SCALE}) DIV mx AS a")
            .localCheckpoint(eager=True)
        )
        h = (
            edges.join(F.broadcast(auth[-1]), "supp")
            .groupBy("cust")
            .agg(F.sum("a").alias("h"))
        )
        hmax = h.agg(F.max("h").alias("mx"))
        return h.crossJoin(F.broadcast(hmax)).selectExpr(
            "cust", f"(h * {HITS_SCALE}) DIV mx AS h"
        )

    h0 = edges.select("cust").distinct().select(
        "cust", F.lit(HITS_SCALE).cast("long").alias("h")
    )
    h = dedup.rounds(spark, "graph_hits_scores", h0, step, HITS_ITERS)
    a = auth[-1]
    top_a = (
        a.orderBy(F.desc("a"), "supp")
        .limit(HITS_TOPK)
        .selectExpr("'authority' AS role", "CAST(supp AS BIGINT) AS node", "a AS score")
    )
    top_h = (
        h.orderBy(F.desc("h"), "cust")
        .limit(HITS_TOPK)
        .selectExpr("'hub' AS role", "CAST(cust AS BIGINT) AS node", "h AS score")
    )
    return top_a.unionByName(top_h).orderBy("role", F.desc("score"), "node")


def _hits_sql() -> str:
    ctes = [
        """edges AS (
  SELECT DISTINCT o_custkey AS cust, l_suppkey AS supp
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
), h0 AS (
  SELECT cust, CAST(%d AS BIGINT) AS h FROM (SELECT DISTINCT cust FROM edges)
)"""
        % HITS_SCALE
    ]
    prev_h = "h0"
    for i in range(1, HITS_ITERS + 1):
        ctes.append(
            f"""a{i}r AS (
  SELECT supp, CAST(sum(h) AS BIGINT) AS a
  FROM edges JOIN {prev_h} USING (cust) GROUP BY supp
), a{i} AS (
  SELECT supp, CAST((a * {HITS_SCALE}) // (SELECT max(a) FROM a{i}r) AS BIGINT) AS a
  FROM a{i}r
), h{i}r AS (
  SELECT cust, CAST(sum(a) AS BIGINT) AS h
  FROM edges JOIN a{i} USING (supp) GROUP BY cust
), h{i} AS (
  SELECT cust, CAST((h * {HITS_SCALE}) // (SELECT max(h) FROM h{i}r) AS BIGINT) AS h
  FROM h{i}r
)"""
        )
        prev_h = f"h{i}"
    n = HITS_ITERS
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT * FROM (
  SELECT 'authority' AS role, CAST(supp AS BIGINT) AS node, a AS score
  FROM a{n} ORDER BY a DESC, supp LIMIT {HITS_TOPK}
)
UNION ALL
SELECT * FROM (
  SELECT 'hub' AS role, CAST(cust AS BIGINT) AS node, h AS score
  FROM h{n} ORDER BY h DESC, cust LIMIT {HITS_TOPK}
)
ORDER BY role, score DESC, node
"""
    )


GRAPH_HITS_SCORES_SQL = _hits_sql()

QUERIES["graph_hits_scores"] = graph_hits_scores
ORACLES["graph_hits_scores"] = GRAPH_HITS_SCORES_SQL


# --- graph_modularity_partitions: score competing partitions ------------------
# LPA and connected components both partition the near-dup graph; Newman-
# Girvan modularity Q says which partition is BETTER than chance — the
# acceptance gate a clustering job needs before anyone trusts its
# communities.  Exact integer formula over the pair graph (the same
# lsh_pairs_cached table both algorithms ran on):
#   Q = sum_c e_c / m  -  sum_c (d_c / 2m)^2
#     = (4m * sum_c e_c - sum_c d_c^2) / (4 m^2)
# emitted as q_ppm via one integer division (numerator ~1e15, int64-
# safe).  One row per partition: connected components score near the
# graph's ceiling (every edge internal, Q = 1 - sum d_c^2/4m^2), while
# synchronous LPA's known oscillation on small near-bipartite clusters
# shows up as a LOW Q — the op quantifies an algorithmic artifact
# instead of hiding it, which is exactly what a quality gate is for.
# Shape: labels broadcast into the pair table twice, one degree agg,
# arithmetic on a handful of rows.
def _modularity_of(pairs: DataFrame, labels: DataFrame, name: str) -> DataFrame:
    la = labels.selectExpr("v AS doc_a", "c AS ca")
    lb = labels.selectExpr("v AS doc_b", "c AS cb")
    tagged = pairs.join(F.broadcast(la), "doc_a").join(F.broadcast(lb), "doc_b")
    m = pairs.agg(F.count(F.lit(1)).cast("long").alias("m"))
    e_within = tagged.where(F.col("ca") == F.col("cb")).agg(
        F.count(F.lit(1)).cast("long").alias("e_in")
    )
    deg = (
        pairs.selectExpr("doc_a AS v")
        .unionAll(pairs.selectExpr("doc_b AS v"))
        .groupBy("v")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
    )
    dcsq = (
        deg.join(F.broadcast(labels), "v")
        .groupBy("c")
        .agg(F.sum("d").cast("long").alias("dc"))
        .agg(
            F.sum(F.col("dc") * F.col("dc")).cast("long").alias("sum_dc2"),
            F.count(F.lit(1)).cast("long").alias("n_comm"),
        )
    )
    return (
        m.crossJoin(F.broadcast(e_within))
        .crossJoin(F.broadcast(dcsq))
        .selectExpr(
            f"'{name}' AS partition_by",
            "m AS n_edges",
            "e_in AS edges_within",
            "sum_dc2",
            "n_comm AS n_communities",
            "(1000000 * (4 * m * e_in - sum_dc2)) DIV (4 * m * m) AS q_ppm",
        )
    )


def graph_modularity_partitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = lsh_pairs_cached(spark, sf_dir).select("doc_a", "doc_b")
    lpa = graph_label_propagation(spark, sf_dir).selectExpr(
        "doc_id AS v", "community AS c"
    )
    cc = cc_labels_cached(spark, sf_dir).selectExpr("doc_id AS v", "component AS c")
    return (
        _modularity_of(pairs, cc, "components")
        .unionByName(_modularity_of(pairs, lpa, "lpa"))
        .orderBy("partition_by")
    )


def _modularity_sql() -> str:
    rounds = []
    for i in range(1, LPA_ITERS + 1):
        rounds.append(f"""f{i} AS (
  SELECT e.v, l.lab, count(*) AS c
  FROM edges e JOIN l{i - 1} l ON l.v = e.u
  GROUP BY 1, 2
), l{i} AS (
  SELECT v, lab FROM (
    SELECT v, lab,
           row_number() OVER (PARTITION BY v ORDER BY c DESC, lab) AS rk
    FROM f{i}
  ) WHERE rk = 1
)""")
    last = f"l{LPA_ITERS}"

    def block(labels_sql: str, name: str) -> str:
        return f"""
SELECT partition_by, n_edges, edges_within, sum_dc2, n_communities, q_ppm
FROM (
  WITH pairs AS (
    SELECT doc_a, doc_b FROM ({DEDUP_MINHASH_LSH_SQL})
  ), edges AS (
    SELECT doc_a AS v, doc_b AS u FROM pairs
    UNION ALL
    SELECT doc_b AS v, doc_a AS u FROM pairs
  ), labs AS (
{labels_sql}
  ), m AS (
    SELECT CAST(count(*) AS BIGINT) AS m FROM pairs
  ), ein AS (
    SELECT CAST(count(*) AS BIGINT) AS e_in
    FROM pairs p
    JOIN labs a ON a.v = p.doc_a
    JOIN labs b ON b.v = p.doc_b
    WHERE a.lab = b.lab
  ), deg AS (
    SELECT v, CAST(count(*) AS BIGINT) AS d FROM edges GROUP BY v
  ), dc AS (
    SELECT l.lab, CAST(sum(deg.d) AS BIGINT) AS dc
    FROM deg JOIN labs l ON l.v = deg.v
    GROUP BY l.lab
  ), agg AS (
    SELECT CAST(sum(dc * dc) AS BIGINT) AS sum_dc2,
           CAST(count(*) AS BIGINT) AS n_comm
    FROM dc
  )
  SELECT '{name}' AS partition_by, m AS n_edges, e_in AS edges_within,
         sum_dc2, n_comm AS n_communities,
         CAST((1000000 * (4 * m * e_in - sum_dc2)) // (4 * m * m) AS BIGINT)
           AS q_ppm
  FROM m, ein, agg
)"""

    lpa_labels = f"""    WITH l0 AS (
      SELECT DISTINCT v, v AS lab FROM edges
    ), {", ".join(rounds)}
    SELECT v, lab FROM {last}"""
    lpa_block = block(lpa_labels, "lpa")
    cc_labels = f"""    SELECT doc_id AS v, component AS lab
    FROM ({DEDUP_COMPONENTS_SQL})"""
    cc_block = block(cc_labels, "components")
    return f"""
SELECT * FROM (
{cc_block}
UNION ALL
{lpa_block}
)
ORDER BY partition_by
"""


GRAPH_MODULARITY_PARTITIONS_SQL = _modularity_sql()

QUERIES["graph_modularity_partitions"] = graph_modularity_partitions
ORACLES["graph_modularity_partitions"] = GRAPH_MODULARITY_PARTITIONS_SQL


# --- maximal_matching_rounds: parallel greedy matching -------------------------
# Matching is the canonical "sequential-looking" graph problem with a
# classic parallel answer (Israeli-Itai '86): in each round every
# unmatched customer PROPOSES to its minimum-hash unmatched supplier
# neighbor, every supplier ACCEPTS its minimum-hash proposer, matched
# pairs leave the graph, repeat — symmetry broken by the deterministic
# edge hash, so the whole run is reproducible and oracle-mirrorable as
# unrolled CTE rounds.  Each round is two equi-join + argmin-agg passes
# over the LIVE edge set (shrinking every round); MM_ROUNDS = 5 empties
# the residual on this corpus and the op EMITS the residual edge count
# per round rather than asserting maximality (residual 0 in the last
# row IS the maximality certificate, hash-checked).
MM_ROUNDS = 5


def maximal_matching_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    h = md5_prefix_long_sql("concat(cust, '_', supp)", 15, "spark")
    # edge-hash projection over the shared trading-pair artifact; still
    # checkpointed because every matching round re-reads the eh column
    edges = (
        custsupp_cached(spark, sf_dir)
        .selectExpr("cust", "supp", f"({h}) AS eh")
        .localCheckpoint(eager=True)
    )
    live = edges
    total = 0
    out_rows = []
    # the one hand-written round loop: the residual is part of the output,
    # not a convergence failure; it runs under the round driver's pin
    with dedup.core_width(spark):
        for rnd in range(1, MM_ROUNDS + 1):
            prop = (
                live.groupBy("cust")
                .agg(F.min(F.struct("eh", "supp")).alias("m"))
                .selectExpr("cust", "m.supp AS supp", "m.eh AS eh")
            )
            acc = (
                prop.groupBy("supp")
                .agg(F.min(F.struct("eh", "cust")).alias("m"))
                .selectExpr("m.cust AS cust", "supp")
                .localCheckpoint(eager=True)
            )
            n_round = acc.count()
            total += n_round
            live = (
                live.join(F.broadcast(acc.select("cust")), "cust", "left_anti")
                .join(F.broadcast(acc.select("supp")), "supp", "left_anti")
                .localCheckpoint(eager=True)
            )
            residual = live.count()
            out_rows.append((rnd, n_round, total, residual))
            if residual == 0:
                # remaining rounds act on an empty graph — emit their rows
                # without paying 2 joins + 2 checkpoints each (the driver-sim
                # vanilla session measured 17.6s for the dead rounds alone)
                for r2 in range(rnd + 1, MM_ROUNDS + 1):
                    out_rows.append((r2, 0, total, 0))
                break
    return spark.createDataFrame(
        out_rows,
        "round long, matched_this_round long, matched_total long,"
        " residual_edges long",
    ).orderBy("round")


def _mm_sql() -> str:
    h = md5_prefix_long_sql("(cust || '_' || supp)", 15, "duck")
    # MATERIALIZED: DuckDB inlines CTEs per reference by default, so the
    # md5 edge build and every round table would re-execute once per
    # mention across the round chain (measured 13.7s -> 0.6s)
    ctes = [
        f"""e0 AS MATERIALIZED (
  SELECT cust, supp, ({h}) AS eh
  FROM (SELECT DISTINCT o_custkey AS cust, l_suppkey AS supp
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
)"""
    ]
    for r in range(1, MM_ROUNDS + 1):
        p = r - 1
        ctes.append(f"""p{r} AS MATERIALIZED (
  SELECT cust, arg_min(supp, eh) AS supp, min(eh) AS eh
  FROM e{p} GROUP BY cust
), a{r} AS MATERIALIZED (
  SELECT arg_min(cust, eh) AS cust, supp FROM p{r} GROUP BY supp
), e{r} AS MATERIALIZED (
  SELECT e.* FROM e{p} e
  ANTI JOIN a{r} ac ON e.cust = ac.cust
  ANTI JOIN a{r} asup ON e.supp = asup.supp
)""")
    rows = "\n  UNION ALL\n".join(
        f"""  SELECT CAST({r} AS BIGINT) AS round,
         (SELECT CAST(count(*) AS BIGINT) FROM a{r}) AS matched_this_round,
         (SELECT CAST({'+'.join(f'(SELECT count(*) FROM a{k})' for k in range(1, r + 1))} AS BIGINT)) AS matched_total,
         (SELECT CAST(count(*) AS BIGINT) FROM e{r}) AS residual_edges"""
        for r in range(1, MM_ROUNDS + 1)
    )
    return (
        "WITH " + ",\n".join(ctes) + f"\nSELECT * FROM (\n{rows}\n) ORDER BY round"
    )


MAXIMAL_MATCHING_ROUNDS_SQL = _mm_sql()

QUERIES["maximal_matching_rounds"] = maximal_matching_rounds
ORACLES["maximal_matching_rounds"] = MAXIMAL_MATCHING_ROUNDS_SQL


# --- k-truss edge support ----------------------------------------------------
# The k-truss primitive the k-core op doesn't cover: per-EDGE triangle
# support (an edge is in the k-truss iff it participates in ≥ k−2
# triangles; iterative peeling then just re-runs this count on the
# surviving subgraph).  Graph = the co-purchase part graph (parts sharing
# ≥2 orders — the sssp edge rule).  Wedges are enumerated from the
# center vertex with both endpoints ordered (u < v), so each triangle
# contributes each of its edges exactly once; the wedge→edge leftsemi-free
# inner join keeps only wedges that close.  At scale the standard
# degree-orientation refinement bounds the wedge fan-out by the
# arboricity; here the support-≥2 edge rule already caps degrees.  Top-50
# edges by support keeps output bounded.
TRUSS_TOPK = 50



def graph_edge_support(spark: SparkSession, sf_dir: str) -> DataFrame:
    und = _copurchase_edges(spark, sf_dir)
    adj = und.selectExpr("u AS w", "v AS x").unionAll(und.selectExpr("v AS w", "u AS x"))
    wedges = (
        adj.selectExpr("w", "x AS eu")
        .join(adj.selectExpr("w", "x AS ev"), "w")
        .where(F.col("eu") < F.col("ev"))
        .select("eu", "ev")
    )
    support = (
        wedges.join(und.selectExpr("u AS eu", "v AS ev"), ["eu", "ev"])
        .groupBy("eu", "ev")
        .agg(F.count(F.lit(1)).cast("long").alias("support"))
    )
    order = [F.col("support").desc(), F.col("eu"), F.col("ev")]
    return (
        dedup.top_k(support, [], order, TRUSS_TOPK, "rk")
        .selectExpr(
            "CAST(rk AS INT) AS rk",
            "eu AS part_a",
            "ev AS part_b",
            "support",
            "CAST(support + 2 AS BIGINT) AS max_truss",
        )
        .orderBy("rk")
    )


GRAPH_EDGE_SUPPORT_SQL = f"""
WITH basket AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), und AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM basket a JOIN basket b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY a.l_partkey, b.l_partkey
  HAVING count(*) >= 2
), adj AS (
  SELECT u AS w, v AS x FROM und UNION ALL SELECT v AS w, u AS x FROM und
), wedges AS (
  SELECT a1.x AS eu, a2.x AS ev
  FROM adj a1 JOIN adj a2 ON a1.w = a2.w AND a1.x < a2.x
), support AS (
  SELECT w.eu, w.ev, CAST(count(*) AS BIGINT) AS support
  FROM wedges w JOIN und ON und.u = w.eu AND und.v = w.ev
  GROUP BY w.eu, w.ev
)
SELECT CAST(row_number() OVER (ORDER BY support DESC, eu, ev) AS INT) AS rk,
       eu AS part_a, ev AS part_b, support,
       CAST(support + 2 AS BIGINT) AS max_truss
FROM support
QUALIFY rk <= {TRUSS_TOPK}
ORDER BY rk
"""

QUERIES["graph_edge_support"] = graph_edge_support
ORACLES["graph_edge_support"] = GRAPH_EDGE_SUPPORT_SQL


# --- degree assortativity ------------------------------------------------------
# Newman's degree assortativity of the co-purchase graph (same edge
# recipe as sssp_weighted_copurchase: parts co-ordered >= 2 times):
# the Pearson correlation of endpoint degrees over the DIRECTED edge
# list (both orientations, which symmetrizes the undirected graph).
# Positive r = hubs link hubs (social nets); negative = hub-and-spoke
# (catalogs).  Every moment is an int64 sum over edges; r happens once
# in doubles with two correctly-rounded sqrts.
ASSORT_MIN_SUP = 2


def graph_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the shared co-purchase edge artifact — one edge rule,
    # built once per session (ASSORT_MIN_SUP == its support-2 threshold)
    und = copurchase_sup_cached(spark, sf_dir).selectExpr("u AS pa", "v AS pb")
    edges = und.selectExpr("pa AS src", "pb AS dst").unionAll(
        und.selectExpr("pb AS src", "pa AS dst")
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).cast("long").alias("deg"))
    ed = (
        edges.join(deg.withColumnRenamed("src", "s2"), F.col("src") == F.col("s2"))
        .selectExpr("dst", "deg AS dx")
        .join(
            deg.selectExpr("src AS d2", "deg AS dy"), F.col("dst") == F.col("d2")
        )
        .select("dx", "dy")
    )
    m = ed.agg(
        F.count(F.lit(1)).cast("long").alias("m"),
        F.sum("dx").cast("long").alias("sx"),
        F.sum("dy").cast("long").alias("sy"),
        F.sum(F.col("dx") * F.col("dy")).cast("long").alias("sxy"),
        F.sum(F.col("dx") * F.col("dx")).cast("long").alias("sxx"),
        F.sum(F.col("dy") * F.col("dy")).cast("long").alias("syy"),
    )
    return m.selectExpr(
        "m AS n_directed_edges",
        """CAST(round(1000000.0 *
             (CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (sqrt(CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                * sqrt(CAST(m AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
           ) AS BIGINT) AS assortativity_micro""",
    )


GRAPH_DEGREE_ASSORTATIVITY_SQL = """
WITH basket AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), und AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb
  FROM basket a JOIN basket b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY a.l_partkey, b.l_partkey
  HAVING COUNT(*) >= 2
), edges AS (
  SELECT pa AS src, pb AS dst FROM und
  UNION ALL
  SELECT pb AS src, pa AS dst FROM und
), deg AS (
  SELECT src, COUNT(*) AS deg FROM edges GROUP BY src
), ed AS (
  SELECT da.deg AS dx, db.deg AS dy
  FROM edges e
  JOIN deg da ON e.src = da.src
  JOIN deg db ON e.dst = db.src
), m AS (
  SELECT COUNT(*) AS m, SUM(dx) AS sx, SUM(dy) AS sy,
         SUM(dx*dy) AS sxy, SUM(dx*dx) AS sxx, SUM(dy*dy) AS syy
  FROM ed
)
SELECT CAST(m AS BIGINT) AS n_directed_edges,
       CAST(round(1000000.0 *
            (CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
            / (sqrt(CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
               * sqrt(CAST(m AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
          ) AS BIGINT) AS assortativity_micro
FROM m
"""

QUERIES["graph_degree_assortativity"] = graph_degree_assortativity
ORACLES["graph_degree_assortativity"] = GRAPH_DEGREE_ASSORTATIVITY_SQL
