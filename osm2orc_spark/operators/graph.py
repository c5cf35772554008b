"""Iterative graph analytics over the relational corpus.

The reference (osm2orc) has no graph operators; its data model (ways ->
nodes, relations -> members) is nevertheless graph-shaped, and a corpus
engine at 100 TB needs the pregel-style iterate-join-aggregate pattern
(the same dataflow GraphX/GraphFrames use). ``dedup_components``
(operators/dedup.py) already covers label propagation / connected
components; this module adds weighted-influence ranking.

PageRank here is exact-integer so the DuckDB oracle can replay it
bit-for-bit: ranks are scaled by 1e6 and every update uses only BIGINT
sums and truncating integer division (order-independent, engine-exact).
Damping 0.85 becomes ``150000 + (85 * contrib_sum) div 100``.

Scale notes: the edge list is built once, degree-annotated, and
persisted; each iteration is one shuffle-join (ranks x edges on src,
both hash-partitioned on the same key, so AQE reuses the exchange) plus
one groupBy(dst) with map-side partial sums. At 100 TB the graph is the
small side of the data (distinct trade pairs), iterations are fixed, and
beyond ~10 rounds you'd checkpoint the rank lineage exactly as
dedup_components does (a reliable checkpoint when the SparkContext has a
checkpoint dir, localCheckpoint otherwise).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from osm2orc_spark.operators.cache import release_with
from osm2orc_spark.registry import register
from osm2orc_spark.tables import load

PR_SCALE = 1_000_000  # rank fixed-point scale
PR_ITERS = 3  # fixed so the oracle unrolls to a flat CTE chain
PR_TOP = 20


def _pagerank_oracle(iters: int) -> str:
    """Unrolled-SQL twin of the Spark loop: r0..r{iters} CTEs."""
    parts = [
        """pairs AS (
      SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    edges AS (
      SELECT 'c:' || CAST(c AS VARCHAR) AS src, 's:' || CAST(s AS VARCHAR) AS dst FROM pairs
      UNION ALL
      SELECT 's:' || CAST(s AS VARCHAR) AS src, 'c:' || CAST(c AS VARCHAR) AS dst FROM pairs
    ),
    deg AS (SELECT src, COUNT(*) AS d FROM edges GROUP BY src),
    dedges AS (SELECT e.src, e.dst, g.d FROM edges e JOIN deg g USING (src)),
    r0 AS (SELECT src AS node, CAST(1000000 AS BIGINT) AS pr FROM deg)"""
    ]
    for i in range(1, iters + 1):
        parts.append(
            f"""r{i} AS (
      SELECT e.dst AS node,
             CAST(150000 + (85 * SUM(r.pr // e.d)) // 100 AS BIGINT) AS pr
      FROM dedges e JOIN r{i - 1} r ON r.node = e.src
      GROUP BY e.dst
    )"""
        )
    return ",\n    ".join(parts)


@register(
    "pagerank_trade_graph",
    oracle=f"""
    WITH {_pagerank_oracle(PR_ITERS)}
    SELECT node, pr AS pr_scaled
    FROM r{PR_ITERS}
    ORDER BY pr_scaled DESC, node
    LIMIT {PR_TOP}
    """,
    doc="Integer-exact PageRank over the customer<->supplier trade graph "
    "(distinct (custkey, suppkey) pairs from orders x lineitem, edges in "
    "both directions so the chain is irreducible and no dangling-mass "
    "term is needed). Fixed-point ranks scaled 1e6; damping 0.85 applied "
    "as BIGINT ops only, so Spark and the unrolled-CTE DuckDB oracle "
    f"agree exactly. {PR_ITERS} pregel iterations: join(ranks, edges) on "
    "src + groupBy(dst) per round — the GraphX dataflow expressed as "
    "DataFrame ops, with the degree-annotated edge list built once and "
    "persisted across rounds.",
    tags=("graph", "iterative"),
)
def pagerank_trade_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    pairs = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    cnode = F.concat(F.lit("c:"), F.col("c").cast("string"))
    snode = F.concat(F.lit("s:"), F.col("s").cast("string"))
    edges = pairs.select(cnode.alias("src"), snode.alias("dst")).unionAll(
        pairs.select(snode.alias("src"), cnode.alias("dst"))
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    # Degree-annotated edges: built once, reused every iteration.
    dedges = edges.join(deg, "src").persist()
    ranks = deg.select(
        F.col("src").alias("node"), F.lit(PR_SCALE).cast("bigint").alias("pr")
    )
    for _ in range(PR_ITERS):
        ranks = (
            dedges.join(ranks, dedges.src == ranks.node)
            .select(F.col("dst"), F.expr("pr div d").alias("contrib"))
            .groupBy("dst")
            .agg(F.sum("contrib").alias("cs"))
            .select(
                F.col("dst").alias("node"),
                (F.lit(150000) + F.expr("(85 * cs) div 100")).cast("bigint").alias("pr"),
            )
        )
    return release_with(
        ranks.orderBy(F.desc("pr"), "node")
        .limit(PR_TOP)
        .select("node", F.col("pr").alias("pr_scaled")),
        dedges,
    )


# ---------------------------------------------------------------------------
# Triangle / wedge census of the near-duplicate pair graph.
# ---------------------------------------------------------------------------
@register(
    "dupgraph_triangle_stats",
    oracle="__DEFERRED__",  # assembled below from the minhash-LSH oracle
    doc="Triangle census over the LSH-verified near-dup pair graph: "
    "n_edges, n_wedges (open triads, sum deg*(deg-1)/2), n_triangles "
    "(degree-ordered node-iterator: every triangle is counted once at "
    "its lowest-(degree, id) apex — r10, replacing the id-ordered "
    "orientation), and the global clustering coefficient 3*tri/wedges "
    "in exact micro units. A transitivity probe for dedup quality: "
    "near-dup clusters should be near-cliques, so a LOW coefficient "
    "flags chains of borderline pairs that clustering will over-merge. "
    "Scale (r10 measured, triangle_hub_xl in SCALING_SKEW.jsonl): "
    "id-ordering fans each node out by in_deg*out_deg, which is "
    "Theta(hub_deg^2) join rows on a hub-skewed pair graph — the "
    "boilerplate-doc shape dedup graphs actually produce — even when "
    "zero triangles exist; degree-ordering caps every edge's fan-out "
    "by its LOWER-degree endpoint (the Suri-Vassilvitskii bound, "
    "Theta(E^1.5) worst case), leaving only the irreducible "
    "true-triangle term on cliques. Output identical by construction "
    "(each triangle has exactly one minimum-rank apex with out-edges "
    "to the other two); same DuckDB oracle.",
    tags=("graph", "dedup"),
)
def dupgraph_triangle_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm2orc_spark.operators.dedup import dedup_minhash_lsh

    # Hold the upstream result: its shingle cache is scoped to it and
    # must stay warm while this query's plan materializes e.
    lsh_pairs = dedup_minhash_lsh(spark, sf_dir)
    e = lsh_pairs.select(
        F.col("doc_a").alias("a"), F.col("doc_b").alias("b")
    ).persist()
    und = e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    deg = und.groupBy("a").agg(F.count(F.lit(1)).alias("d"))
    wedges = deg.agg(
        F.sum(F.expr("d * (d - 1) div 2")).cast("bigint").alias("n_wedges")
    )
    tri = _triangle_count_degree_ordered(e, deg)
    edges = e.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))
    cc = F.when(
        F.col("n_wedges") > 0,
        F.floor((F.lit(1e6) * 3 * F.col("n_triangles")) / F.col("n_wedges")).cast(
            "bigint"
        ),
    ).otherwise(F.lit(0).cast("bigint"))
    return release_with(
        edges.crossJoin(wedges)
        .crossJoin(tri)
        .select("n_edges", "n_wedges", "n_triangles", cc.alias("clustering_micro")),
        e,
        lsh_pairs,
    )


def _triangle_count_degree_ordered(e: DataFrame, deg: DataFrame) -> DataFrame:
    """Exact triangle count via the degree-ordered node-iterator
    (Suri-Vassilvitskii / Cohen): rank nodes by (degree, id), orient
    every undirected edge from lower to higher rank, enumerate wedges
    at each apex's OUT-neighbors only, and close them against the
    oriented edge set.

    Why ranks instead of ids: the apex fan-out is C(out_deg, 2), and
    degree-ordering bounds every node's out-degree by ~sqrt(2E)
    amortized, so a degree-10^6 hub contributes ~0 wedges (all its
    edges point AT it) instead of the Theta(hub^2) in*out fan-out the
    id-ordering pays — measured on the 1e6-edge hub twin as 5e11
    analytic join rows (DNF class) vs 2.0e6 wedges
    (``triangle_hub_xl``).  Cliques keep their irreducible C(f,3)
    wedge term — every one of those wedges IS a triangle the exact
    count must touch.

    Exactness: (degree, id) is a total order, so each triangle
    {x, y, z} has exactly one minimum-rank vertex; both its edges to
    the other two are out-edges of that vertex, and the remaining edge
    is oriented low->high rank — exactly the closure row the join
    checks.  Hence one wedge-closure match per triangle, no double
    counting, no misses.  ``e`` is the dedup pair list (a < b, both
    directions absent), ``deg`` the UNDIRECTED degree table."""
    da = deg.select(F.col("a"), F.col("d").alias("da"))
    db = deg.select(F.col("a").alias("b"), F.col("d").alias("db"))
    ann = e.join(da, "a").join(db, "b")
    lower_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    # oriented edge (x -> y) with y's rank carried for the wedge order
    o = ann.select(
        F.when(lower_first, F.col("a")).otherwise(F.col("b")).alias("x"),
        F.when(lower_first, F.col("b")).otherwise(F.col("a")).alias("y"),
        F.when(lower_first, F.col("db")).otherwise(F.col("da")).alias("dy"),
    ).persist()
    o1 = o.select("x", "y", "dy")
    o2 = o.select("x", F.col("y").alias("z"), F.col("dy").alias("dz"))
    wedge_order = (F.col("dy") < F.col("dz")) | (
        (F.col("dy") == F.col("dz")) & (F.col("y") < F.col("z"))
    )
    closure = o.select(F.col("x").alias("y"), F.col("y").alias("z"))
    # left-semi: o's rows are unique edges, so a wedge closes 0-or-1
    # times — semi keeps the 0/1 multiplicity explicit and drops the
    # closure columns from the count stage.
    tri = (
        o1.join(o2, "x")
        .filter(wedge_order)
        .join(closure, ["y", "z"], "left_semi")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))
    )
    return release_with(tri, o)


def _assemble_triangle_oracle() -> None:
    from osm2orc_spark.registry import REGISTRY

    pairs_sql = REGISTRY["dedup_minhash_lsh"].oracle
    REGISTRY["dupgraph_triangle_stats"].oracle = f"""
    WITH p AS ({pairs_sql}),
    e AS (SELECT doc_a AS a, doc_b AS b FROM p),
    und AS (SELECT a, b FROM e UNION ALL SELECT b, a FROM e),
    deg AS (SELECT a, COUNT(*) AS d FROM und GROUP BY a),
    w AS (SELECT CAST(SUM(d * (d - 1) // 2) AS BIGINT) AS n_wedges FROM deg),
    t AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
      FROM e e1 JOIN e e2 ON e2.a = e1.b JOIN e e3
        ON e3.a = e1.a AND e3.b = e2.b
    ),
    ne AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM e)
    SELECT ne.n_edges, w.n_wedges, t.n_triangles,
           CASE WHEN w.n_wedges > 0
                THEN CAST(FLOOR((1e6 * 3 * t.n_triangles) / w.n_wedges) AS BIGINT)
                ELSE 0 END AS clustering_micro
    FROM ne, w, t
    """


_assemble_triangle_oracle()
