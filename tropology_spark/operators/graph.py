"""Graph-analysis layer (SURVEY.md §2 I-rows) — tropology's identity.

The reference stores a wiki-link property graph relationally
(``pages`` + ``links`` tables) and serves degree counts, neighbor
lists, common-neighbor intersections, and 1-hop ego networks for its
sigma.js visualization (``db.clj`` / ``api.clj`` — reconstructed,
SURVEY.md §0/§3.2).  Here the graph is the derived bipartite
customer→part edge table (FIXTURES.md §6); node ids are namespaced
``c:<custkey>`` / ``p:<partkey>`` so the two key spaces never collide.

Scale posture (§7.7): every query below is a join/agg over the edge
table keyed on src or dst — at 100 TB the edge table is stored twice,
bucketed by src and by dst, making each direction a shuffle-free
bucket join; celebrity-node skew is handled by AQE skew-join.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tropology_spark.registry import register
from tropology_spark.session import iter_materialize
from tropology_spark.sources.tables import (
    CUST_A,
    CUST_B,
    SESSION_CACHES,
    cache_get_or_build,
    edges,
)

_EDGES_CTE = """
    WITH edges AS (SELECT DISTINCT o_custkey AS src, l_partkey AS dst
                   FROM orders JOIN lineitem ON o_orderkey = l_orderkey)
"""


#: Undirected namespaced edge lists shared across queries in a session
#: (same discipline as sources.tables._EDGE_CACHE): eight traversal /
#: iterative queries consume exactly the (u, v) both-directions shape,
#: and each used to re-derive + re-checkpoint its own copy.
_BI_CACHE: dict[tuple[str, str], DataFrame] = {}
SESSION_CACHES.append(_BI_CACHE)


def bi_materialized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(u, v)`` undirected namespaced edges (``c:<custkey>`` /
    ``p:<partkey>``, both directions), eagerly materialized once per
    (session, sf_dir)."""
    from tropology_spark.sources.tables import edges_materialized

    key = (spark.sparkContext.applicationId, sf_dir)

    def build() -> DataFrame:
        e = edges_materialized(spark, sf_dir)
        c_node = F.concat(F.lit("c:"), F.col("src").cast("string"))
        p_node = F.concat(F.lit("p:"), F.col("dst").cast("string"))
        return (
            e.select(c_node.alias("u"), p_node.alias("v"))
            .unionByName(e.select(p_node.alias("u"), c_node.alias("v")))
            .localCheckpoint(eager=True)
        )

    return cache_get_or_build(_BI_CACHE, key, build)


#: Co-citation pair counts shared across queries in a session: the
#: dst-blocked self-join that dominates graph_twohop_count and
#: graph_link_prediction (and at sf0.1 produces ~18M intermediate
#: rows) runs once over the a.src < b.src half and mirrors.
_COPAIR_CACHE: dict[tuple[str, str], DataFrame] = {}
SESSION_CACHES.append(_COPAIR_CACHE)


def copair_counts_materialized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(cust_a, cust_b, n_common)`` for every ORDERED pair of works
    sharing >= 1 trope — derived once from the half join (a < b), then
    mirrored, eagerly materialized per (session, sf_dir).  n_common is
    symmetric, so the mirror is exact and halves the join/agg cost."""
    from tropology_spark.sources.tables import edges_materialized

    key = (spark.sparkContext.applicationId, sf_dir)
    return cache_get_or_build(
        _COPAIR_CACHE, key, lambda: _copair_build(spark, sf_dir)
    )


def _copair_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tropology_spark.sources.tables import edges_materialized

    e = edges_materialized(spark, sf_dir)
    a, b = e.alias("a"), e.alias("b")
    # Only the a < b half is joined, aggregated, and stored; the
    # mirror is a lazy projection over the checkpoint — half the
    # block-manager footprint and the join runs once, not once per
    # union branch.
    half = (
        a.join(b, (F.col("a.dst") == F.col("b.dst")) & (F.col("a.src") < F.col("b.src")))
        .groupBy(F.col("a.src").alias("cust_a"), F.col("b.src").alias("cust_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
        .localCheckpoint(eager=True)
    )
    return half.unionByName(
        half.select(
            F.col("cust_b").alias("cust_a"),
            F.col("cust_a").alias("cust_b"),
            "n_common",
        )
    )


@register(
    "graph_build_edges",
    oracle=_EDGES_CTE + "SELECT src, dst FROM edges",
)
def graph_build_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I1 — edge-table construction (the links import: normalized
    pairs, deduplicated)."""
    return edges(spark, sf_dir)


@register(
    "graph_degrees",
    oracle=_EDGES_CTE
    + """
    , o AS (SELECT 'c:' || CAST(src AS VARCHAR) AS node,
                   CAST(count(*) AS BIGINT) AS out_degree FROM edges GROUP BY src),
      i AS (SELECT 'p:' || CAST(dst AS VARCHAR) AS node,
                   CAST(count(*) AS BIGINT) AS in_degree FROM edges GROUP BY dst)
    SELECT coalesce(o.node, i.node) AS node,
           coalesce(o.out_degree, 0) AS out_degree,
           coalesce(i.in_degree, 0) AS in_degree
    FROM o FULL OUTER JOIN i ON o.node = i.node
    """,
)
def graph_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I2 — in/out degree per node, the materialized aggregate
    tropology persists on every crawl (``update-link-count!``).  In the
    bipartite model customers have only out-degree and parts only
    in-degree; the full-outer merge is the general (non-bipartite)
    shape."""
    e = edges(spark, sf_dir)
    out_deg = e.groupBy(
        F.concat(F.lit("c:"), F.col("src").cast("string")).alias("node")
    ).agg(F.count(F.lit(1)).alias("out_degree"))
    in_deg = e.groupBy(
        F.concat(F.lit("p:"), F.col("dst").cast("string")).alias("node")
    ).agg(F.count(F.lit(1)).alias("in_degree"))
    joined = out_deg.withColumnRenamed("node", "o_node").join(
        in_deg, F.col("o_node") == F.col("node"), "full_outer"
    )
    return joined.select(
        F.coalesce(F.col("o_node"), F.col("node")).alias("node"),
        F.coalesce(F.col("out_degree"), F.lit(0)).alias("out_degree"),
        F.coalesce(F.col("in_degree"), F.lit(0)).alias("in_degree"),
    )


@register(
    "graph_neighbors",
    oracle=_EDGES_CTE
    + f"""
    SELECT e.dst AS partkey, p.p_name, p.p_brand
    FROM edges e JOIN part p ON e.dst = p.p_partkey
    WHERE e.src = {CUST_A}
    """,
)
def graph_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I3 — 1-hop out-neighbors with node attributes (the
    ``query-from`` API: links joined back to pages)."""
    from tropology_spark.sources.tables import load

    e = edges(spark, sf_dir).filter(F.col("src") == CUST_A)
    part = load(spark, sf_dir, "part")
    return e.join(part, e.dst == part.p_partkey).select(
        F.col("dst").alias("partkey"), "p_name", "p_brand"
    )


@register(
    "graph_common_neighbors",
    oracle=_EDGES_CTE
    + f"""
    SELECT a.dst AS partkey, p.p_name
    FROM edges a
    JOIN edges b ON a.dst = b.dst
    JOIN part p ON a.dst = p.p_partkey
    WHERE a.src = {CUST_A} AND b.src = {CUST_B}
    """,
)
def graph_common_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I4 — the marquee tropes-in-common query with attributes
    (``query-common-links``): neighbor-set intersection of two works,
    joined to the trope pages."""
    from tropology_spark.sources.tables import edges_materialized, load

    e = edges_materialized(spark, sf_dir, srcs=[CUST_A, CUST_B])
    a = e.filter(F.col("src") == CUST_A).select("dst")
    b = e.filter(F.col("src") == CUST_B).select(F.col("dst").alias("b_dst"))
    part = load(spark, sf_dir, "part")
    return (
        a.join(b, a.dst == b.b_dst)
        .join(part, F.col("dst") == F.col("p_partkey"))
        .select(F.col("dst").alias("partkey"), "p_name")
    )


@register(
    "graph_ego_edges",
    oracle=_EDGES_CTE
    + f"""
    SELECT e.src, e.dst
    FROM edges e
    WHERE e.dst IN (SELECT dst FROM edges WHERE src = {CUST_A})
    """,
)
def graph_ego_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I5 — ego network edge list for ``/api/network/:code``: every
    edge incident to the focus node's neighborhood (the induced
    subgraph the visualization renders)."""
    from tropology_spark.sources.tables import edges_materialized

    e = edges_materialized(spark, sf_dir)
    hood = e.filter(F.col("src") == CUST_A).select(F.col("dst").alias("n_dst"))
    return e.join(hood, e.dst == F.col("n_dst"), "left_semi").select("src", "dst")


@register(
    "graph_twohop_count",
    oracle=_EDGES_CTE
    + """
    SELECT a.src AS custkey, CAST(count(DISTINCT b.src) AS BIGINT) AS n_twohop
    FROM edges a JOIN edges b ON a.dst = b.dst AND a.src <> b.src
    GROUP BY a.src
    """,
)
def graph_twohop_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I6 — 2-hop reachability count (related-works discovery): how
    many other works share at least one trope.  Exact/oracle-scale
    form; at 100 TB run the declared capped twin (M119,
    ``graph_twohop_capped``) which keeps celebrity tropes out of the
    quadratic pair join."""
    return (
        copair_counts_materialized(spark, sf_dir)
        .groupBy(F.col("cust_a").alias("custkey"))
        .agg(F.count(F.lit(1)).alias("n_twohop"))
    )


#: Degree cap for the celebrity-split two-hop path (M119).  Parts with
#: more than this many incident works are "hot": their wedge
#: contribution is deg² and at 100 TB the handful of celebrity tropes
#: would dominate the pair shuffle.  32 sits at the ~90th degree
#: percentile of the test corpus so both classes are exercised at
#: every sf.
TWOHOP_DEGREE_CAP = 32


def twohop_capped_frames(
    e: DataFrame, cap: int, materialize: bool = True
) -> tuple[DataFrame, DataFrame]:
    """The degree-capped two-hop pipeline (SCALE.md §graph watch-item 1)
    over an arbitrary ``(src, dst)`` edge table.

    Splits dst nodes at ``cap``: cold dsts (degree <= cap) go through
    the exact wedge self-join, whose pair count is bounded by
    cap·|E_cold| instead of Σ deg²; hot (celebrity) dsts are routed to
    a separate exact path — a per-src aggregate over the
    ``(dst, degree)`` hot list.  The hot list (|E|/cap rows by
    construction) is materialized once and broadcast only while it is
    provably small (BROADCAST_NODE_LIMIT, the pagerank gate — never an
    unconditional hint); the half pair table is checkpointed so the
    mirror branch reuses it instead of re-running the wedge join.

    Returns ``(result, hot)`` where ``result`` has one row per src:
    ``custkey, n_twohop_cold`` (distinct partners via cold dsts),
    ``n_hot_parts`` (hot dsts touched), ``hot_exposure``
    (Σ degree-1 over those — the exact partner-slot count the cap
    excluded), and ``hot`` is the celebrity list for inspection/tests.
    """
    parts = capped_copair_parts(e, cap, materialize)
    return _twohop_from_parts(e, parts), parts[0]


def capped_copair_parts(
    e: DataFrame, cap: int, materialize: bool = True
) -> tuple[DataFrame, DataFrame, DataFrame, bool]:
    """Shared core of the capped family (M119/M121): returns
    ``(hot, half, cold_deg, small)`` — the celebrity ``(dst, d)`` list,
    the ORDERED-half cold co-pair table ``(cust_a < cust_b, n_common)``,
    per-src cold degrees, and whether the hot list passed the broadcast
    gate.  The session-cached instance (``capped_copair_materialized``)
    is consumed by both the capped two-hop and capped link-prediction
    queries, so the wedge join over cold edges runs once per session."""
    deg = e.groupBy("dst").agg(F.count(F.lit(1)).alias("d"))
    hot = deg.filter(F.col("d") > cap)
    if materialize:  # False only for plan tests, which need the full lineage
        hot = hot.localCheckpoint(eager=True)
    small = hot.count() <= BROADCAST_NODE_LIMIT
    hot_keys = hot.select("dst")
    cold_e = e.join(
        F.broadcast(hot_keys) if small else hot_keys, "dst", "left_anti"
    )
    a, b = cold_e.alias("a"), cold_e.alias("b")
    half = (
        a.join(b, (F.col("a.dst") == F.col("b.dst")) & (F.col("a.src") < F.col("b.src")))
        .groupBy(F.col("a.src").alias("cust_a"), F.col("b.src").alias("cust_b"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_common"))
    )
    if materialize:
        half = half.localCheckpoint(eager=True)
    cold_deg = cold_e.groupBy("src").agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    return hot, half, cold_deg, small


#: Session-shared capped co-pair parts at the production cap.
_CAPPED_CACHE: dict[tuple[str, str], tuple] = {}
SESSION_CACHES.append(_CAPPED_CACHE)


def capped_copair_materialized(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame, bool]:
    from tropology_spark.sources.tables import edges_materialized

    key = (spark.sparkContext.applicationId, sf_dir)
    return cache_get_or_build(
        _CAPPED_CACHE,
        key,
        lambda: capped_copair_parts(
            edges_materialized(spark, sf_dir), TWOHOP_DEGREE_CAP
        ),
    )


def _twohop_from_parts(e: DataFrame, parts: tuple) -> DataFrame:
    hot, half, _cold_deg, small = parts
    pairs = half.select("cust_a", "cust_b").unionByName(
        half.select(F.col("cust_b").alias("cust_a"), F.col("cust_a").alias("cust_b"))
    )
    cold_cnt = pairs.groupBy(F.col("cust_a").alias("custkey")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_twohop_cold")
    )
    hot_sum = (
        e.join(F.broadcast(hot) if small else hot, "dst")
        .groupBy(F.col("src").alias("custkey"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_hot_parts"),
            F.sum(F.col("d") - 1).cast("bigint").alias("hot_exposure"),
        )
    )
    base = e.select(F.col("src").alias("custkey")).distinct()
    return (
        base.join(cold_cnt, "custkey", "left")
        .join(hot_sum, "custkey", "left")
        .select(
            "custkey",
            F.coalesce("n_twohop_cold", F.lit(0)).cast("bigint").alias("n_twohop_cold"),
            F.coalesce("n_hot_parts", F.lit(0)).cast("bigint").alias("n_hot_parts"),
            F.coalesce("hot_exposure", F.lit(0)).cast("bigint").alias("hot_exposure"),
        )
    )


@register(
    "graph_twohop_capped",
    oracle=_EDGES_CTE
    + f"""
    , deg AS (SELECT dst, count(*) AS d FROM edges GROUP BY dst),
    hot AS (SELECT dst, d FROM deg WHERE d > {TWOHOP_DEGREE_CAP}),
    cold_e AS (SELECT src, dst FROM edges
               WHERE dst NOT IN (SELECT dst FROM hot)),
    cold_cnt AS (SELECT a.src AS custkey,
                        CAST(count(DISTINCT b.src) AS BIGINT) AS n_twohop_cold
                 FROM cold_e a JOIN cold_e b
                   ON a.dst = b.dst AND a.src <> b.src
                 GROUP BY a.src),
    hot_sum AS (SELECT e.src AS custkey,
                       CAST(count(*) AS BIGINT) AS n_hot_parts,
                       CAST(sum(h.d - 1) AS BIGINT) AS hot_exposure
                FROM edges e JOIN hot h ON e.dst = h.dst GROUP BY e.src)
    SELECT b.custkey,
           CAST(coalesce(c.n_twohop_cold, 0) AS BIGINT) AS n_twohop_cold,
           CAST(coalesce(h.n_hot_parts, 0) AS BIGINT) AS n_hot_parts,
           CAST(coalesce(h.hot_exposure, 0) AS BIGINT) AS hot_exposure
    FROM (SELECT DISTINCT src AS custkey FROM edges) b
    LEFT JOIN cold_cnt c ON b.custkey = c.custkey
    LEFT JOIN hot_sum h ON b.custkey = h.custkey
    """,
)
def graph_twohop_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M119 — celebrity-degree-capped two-hop reachability, the
    100 TB-safe form of I6 (SCALE.md §graph watch-item 1 wired as
    code).  Exact wedge counts flow only through dsts with degree <=
    TWOHOP_DEGREE_CAP; celebrity dsts are summarized exactly on a
    separate path (hot-part count + excluded partner-slot exposure)
    without ever entering the quadratic pair join."""
    from tropology_spark.sources.tables import edges_materialized

    return _twohop_from_parts(
        edges_materialized(spark, sf_dir), capped_copair_materialized(spark, sf_dir)
    )


@register(
    "graph_sample_nodes",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE c_acctbal > 0.0
      AND substring(md5(CAST(c_custkey AS VARCHAR)), 1, 2) <= '19'
    """,
)
def graph_sample_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I7 — random-article sampling of eligible pages.

    Deterministic hash sampling (md5 prefix, ~10%) instead of
    ``DataFrame.sample``: reproducible across engines, runs, AND
    partitionings — the correct idiom at scale, and it upgrades this
    query from the rows-only check SURVEY.md §2 anticipated to a full
    SQL-oracle row."""
    from tropology_spark.sources.tables import load

    c = load(spark, sf_dir, "customer")
    return (
        c.filter(
            (F.col("c_acctbal") > 0.0)
            & (F.substring(F.md5(F.col("c_custkey").cast("string")), 1, 2) <= "19")
        )
        .select("c_custkey", "c_name")
    )


_PAGERANK_ITER = """
    , it{n} AS (
        SELECT n.node, 0.15 + 0.85 * coalesce(m.mass, 0.0) AS pr
        FROM nodes n LEFT JOIN (
            SELECT b.v AS node, sum(r.pr / d.deg) AS mass
            FROM bi b JOIN deg d ON b.u = d.u JOIN it{p} r ON b.u = r.node
            GROUP BY b.v
        ) m ON n.node = m.node)
"""


@register(
    "graph_pagerank3",
    oracle=_EDGES_CTE
    + """
    , bi AS (SELECT 'c:' || CAST(src AS VARCHAR) AS u,
                    'p:' || CAST(dst AS VARCHAR) AS v FROM edges
             UNION ALL
             SELECT 'p:' || CAST(dst AS VARCHAR), 'c:' || CAST(src AS VARCHAR)
             FROM edges),
      deg AS (SELECT u, count(*) AS deg FROM bi GROUP BY u),
      nodes AS (SELECT DISTINCT u AS node FROM bi),
      it0 AS (SELECT node, 1.0 AS pr FROM nodes)
    """
    + _PAGERANK_ITER.format(n=1, p=0)
    + _PAGERANK_ITER.format(n=2, p=1)
    + _PAGERANK_ITER.format(n=3, p=2)
    + """
    SELECT node, CAST(floor(pr * 1000000 + 0.5) AS BIGINT) AS pr_micro
    FROM it3
    """,
)
def graph_pagerank3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I8 — PageRank, 3 iterations, damping 0.85, on the undirected
    view of the bipartite graph (each edge contributes both ways, as
    wiki links are traversed both directions in the reference UI).

    Driver-side loop of join+agg with ``localCheckpoint()`` per
    iteration to cut lineage (SURVEY.md §4.2) — the Spark idiom for
    iterative algorithms.  Verified by a fixed-point unit test
    (tests/test_units.py) AND, since the iteration count is fixed, by a
    full DuckDB oracle: the three iterations unroll into chained CTEs.
    The compared value is the micro-rank integer
    ``floor(pr * 1e6 + 0.5)`` — an integer carrier (accumulation-order
    drift across engines/partitionings is ~1e-14 relative, flip
    probability ~1e-8 per node; `round(pr, 6)` as a double carrier
    would additionally expose Spark-vs-DuckDB rounding-rule skew)."""
    # Undirected: both traversal directions (session-shared handle).
    bi = bi_materialized(spark, sf_dir)
    ranks = pagerank(bi, iters=3)
    return ranks.select(
        "node",
        F.floor(F.col("pr") * F.lit(1000000.0) + F.lit(0.5)).cast("bigint").alias("pr_micro"),
    )


#: Above this node count a per-iteration rank/label vector (~50 B/node
#: → ~100 MB) stops being comfortable to broadcast every iteration; the
#: iterative loops switch to a co-partitioned shuffle-hash join where
#: the checkpointed edge list keeps its hash partitioning on ``u`` and
#: only the O(nodes) vector shuffles per iteration.  This is the code
#: path SCALE.md §"iterative graph" promised: at 100 TB (billions of
#: nodes) the broadcast variant is simply not runnable.
BROADCAST_NODE_LIMIT = 2_000_000


def _vector_join(bi_edges: DataFrame, vec: DataFrame, use_broadcast: bool) -> DataFrame:
    """Join the static edge list with the per-iteration node vector on
    ``bi_edges.u == vec.node``, choosing the physical strategy:

    * broadcast — edge partitions never move; the vector ships whole to
      every executor.  Right while the vector fits in memory.
    * shuffle-hash — the edge list was pre-partitioned by ``u`` and its
      ``localCheckpoint`` preserves that hash partitioning, so Catalyst
      inserts an exchange ONLY on the vector side and builds the hash
      table from it (hint prevents AQE from "helpfully" broadcasting
      the small side, which is exactly what cannot happen at scale).
      No sort, no edge movement — per-iteration cost is O(nodes)
      shuffle, not O(edges).  Pinned by tests/test_plans.py.
    """
    if use_broadcast:
        return bi_edges.join(F.broadcast(vec), bi_edges.u == vec.node)
    return bi_edges.join(vec.hint("shuffle_hash"), bi_edges.u == vec.node)


def pagerank(
    bi_edges: DataFrame,
    iters: int = 3,
    damping: float = 0.85,
    teleport: float = 0.15,
    use_broadcast: bool | None = None,
) -> DataFrame:
    """PageRank over an undirected edge list ``(u, v)``: returns
    ``(node, pr)``.  The edge list is persisted once (every iteration
    reuses it); the loop body is one join + one aggregation.
    ``use_broadcast=None`` picks the join strategy from the node count
    (BROADCAST_NODE_LIMIT); both paths are proven equal in
    tests/test_units.py."""
    out_deg = bi_edges.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    bi_deg = bi_edges.join(out_deg, "u")
    nodes = (
        bi_edges.select(F.col("u").alias("node")).distinct().localCheckpoint(eager=True)
    )
    if use_broadcast is None:
        use_broadcast = nodes.count() <= BROADCAST_NODE_LIMIT
    if use_broadcast:
        bi_deg = bi_deg.localCheckpoint(eager=True)
    else:
        # One up-front shuffle of the edges onto the join key.  persist
        # (NOT localCheckpoint: a checkpoint scan reports
        # UnknownPartitioning, verified empirically) keeps the
        # InMemoryTableScan's hashpartitioning(u) visible to Catalyst,
        # so each iteration exchanges only the rank vector.
        bi_deg = bi_deg.repartition("u").persist()
        bi_deg.count()  # materialize once
    ranks = nodes.withColumn("pr", F.lit(1.0))

    # Round-20 optimization (guide §2.4 "remove shuffles outright"):
    # the rank update used to be groupBy(node) over the contribution
    # rows FOLLOWED by a left join back onto the node spine (to give
    # mass-less dangling nodes their teleport row).  The spine join
    # cost one more exchange + join per iteration — the checkpointed
    # `nodes` scan reports UnknownPartitioning, so Catalyst re-shuffled
    # it every time.  Instead the spine rides the SAME aggregation as
    # a zero-mass contribution row per node: sum(contribs ∪ {0.0}) is
    # bit-identical to coalesce(sum(contribs), 0.0) in IEEE754 (x+0.0
    # == x for every finite x, and the mass doubles already carry the
    # documented accumulation-order tolerance), so per iteration the
    # whole update is ONE exchange of map-side-combined partials and
    # zero joins beyond the edge hop.
    zero_rows = nodes.select("node", F.lit(0.0).alias("contrib"))
    for _ in range(iters):
        contribs = (
            _vector_join(bi_deg, ranks, use_broadcast)
            .select(F.col("v").alias("node"), (F.col("pr") / F.col("deg")).alias("contrib"))
        )
        # Eager checkpoint: truncates lineage so iteration N+1 does not
        # re-execute iterations 1..N (SURVEY.md §4.2).  Reliable-
        # checkpoint swap via TROPOLOGY_CHECKPOINT_DIR (SCALE.md #4).
        ranks = iter_materialize(
            contribs.unionByName(zero_rows)
            .groupBy("node")
            .agg(F.sum("contrib").alias("mass"))
            .select(
                "node",
                (F.lit(teleport) + F.lit(damping) * F.col("mass")).alias("pr"),
            )
        )
    return ranks


def min_label_rounds(edges: DataFrame, labels: DataFrame, rounds: int) -> DataFrame:
    """``rounds`` synchronous min-label steps — the one Spark home of the
    bounded-round dedup clustering (dedup_cluster3, mm_phash_clusters,
    the M24 canonical labels); the independent SQL oracles are
    ``dedup._MINLABEL_STEP_SQL`` and ``pipeline_ops._LABEL_ITER``.

    ``edges(u, v)`` holds both directions; ``labels`` is ``(doc_id,
    lbl)``.  With self-loops added, one round is one join and one min:
    ``lbl'(v) = min(lbl(u) : (u, v) ∈ edges ∪ (doc_id, doc_id))``.  A
    round reads the previous vector once (no DOUBLE-REFERENCE), so the
    fused plan is materialized once, at the end.

    Precondition: every endpoint of ``edges`` is a ``doc_id`` in
    ``labels``; otherwise the output gains rows for unknown nodes.
    Fixpoint components are :func:`connected_components`."""
    es = edges.select("u", "v").unionByName(
        labels.select(F.col("doc_id").alias("u"), F.col("doc_id").alias("v"))
    )
    for _ in range(rounds):
        labels = (
            es.join(labels, es.u == labels.doc_id)
            .groupBy(F.col("v").alias("doc_id"))
            .agg(F.min("lbl").alias("lbl"))
        )
    return iter_materialize(labels)


def connected_components(
    bi_edges: DataFrame,
    max_iter: int = 10,
    use_broadcast: bool | None = None,
    strict: bool = False,
) -> DataFrame:
    """Min-label propagation connected components over an undirected
    edge list ``(u, v)`` of string node ids.  Each iteration joins
    current labels across edges and keeps the minimum seen; stops early
    at a fixpoint.  Eager checkpoints cut lineage per iteration (the
    same discipline as PageRank).

    Convergence is an exact changed-label count, not a hashed signature:
    the pre-hop label is carried alongside the propagated one, so the
    same single aggregate that used to compute a (collidable) crc32 sum
    now counts ``comp != orig`` directly — zero extra jobs, no
    premature-stop window.  If the loop exhausts ``max_iter`` without
    reaching the fixpoint (changed == 0), a warning is logged — or,
    with ``strict=True`` (the registered/oracle-checked path), an
    exception is raised: the non-converged labels are a valid
    *refinement* (every labeled pair is truly connected) but
    high-eccentricity graphs may still have distinct labels inside one
    component, and a silent refinement would surface only as an
    unattributable oracle hash mismatch.

    Each cycle ends with a POINTER-JUMPING shortcut (``comp :=
    comp[comp]``, one O(nodes) self-join): label distance to the
    component minimum then contracts multiplicatively instead of by a
    constant per cycle — the Hash-to-Min idea — so a path graph of
    diameter d needs O(log d) cycles, not O(d).  On a 100 TB graph
    that is the difference between ~6 shuffle rounds and hundreds;
    correctness is unchanged because labels only ever decrease toward
    the same unique fixpoint (component-min everywhere), which is
    stable under both the hop and the shortcut."""
    nodes = (
        bi_edges.select(F.col("u").alias("node"))
        .unionByName(bi_edges.select(F.col("v").alias("node")))
        .distinct()
    )
    labels = nodes.withColumn("comp", F.col("node")).localCheckpoint(eager=True)
    if use_broadcast is None:
        use_broadcast = labels.count() <= BROADCAST_NODE_LIMIT
    if not use_broadcast:
        # One up-front shuffle of the edges onto the join key; persist
        # (not localCheckpoint) keeps hashpartitioning(u) visible so
        # each propagation hop exchanges only the label vector (see
        # pagerank).
        bi_edges = bi_edges.repartition("u").persist()
        bi_edges.count()  # materialize once

    def propagate(lbls):
        # Join the label vector to the static edge list (strategy per
        # _vector_join; the edge list never moves after setup).
        #
        # Round-20 optimization (guide §2.4, the pagerank spine rule):
        # the hop used to groupBy(node) the neighbor labels and LEFT
        # JOIN the min back onto lbls (least(own, neighbor-min)) —
        # one more exchange + join per hop, because the checkpointed
        # lbls scan reports UnknownPartitioning.  Instead the own
        # label rides the SAME aggregation as one more candidate row:
        # min(own ∪ neighbors) == least(own, coalesce(min(neighbors),
        # own)) exactly (string min, no floats), and the carry columns
        # (orig) ride as max over exactly-one-non-null.  Per hop the
        # whole update is ONE exchange of map-side-combined partials.
        carry = [
            (f.name, f.dataType.simpleString())
            for f in lbls.schema.fields
            if f.name not in ("node", "comp")
        ]
        neigh = _vector_join(bi_edges, lbls, use_broadcast).select(
            F.col("v").alias("node"),
            *[F.lit(None).cast(t).alias(c) for c, t in carry],
            F.col("comp"),
        )
        own = lbls.select("node", *[c for c, _ in carry], "comp")
        return (
            own.unionByName(neigh)
            .groupBy("node")
            .agg(
                *[F.max(c).alias(c) for c, _ in carry],
                F.min("comp").alias("comp"),
            )
            .select("node", *[c for c, _ in carry], "comp")
        )

    def shortcut(lbls):
        # Pointer jumping: comp := comp's current comp.  Labels are
        # node ids, so the lookup is a self-join of the O(nodes) label
        # table — cheap next to the edge hop, and it is what turns
        # per-cycle progress from additive into multiplicative.
        carry = [c for c in lbls.columns if c not in ("node", "comp")]
        lookup = lbls.select(
            F.col("node").alias("s_node"), F.col("comp").alias("s_comp")
        )
        return lbls.join(lookup, lbls.comp == lookup.s_node, "left").select(
            "node",
            *carry,
            F.coalesce(F.col("s_comp"), F.col("comp")).alias("comp"),
        )

    converged = False
    for _ in range(max_iter):
        # Two propagation hops + one shortcut per convergence check —
        # the shortcut compounds the distance contraction (O(log d)
        # cycles on a diameter-d path).  EACH STEP is materialized
        # (round-19 optimization, the repo's own DOUBLE-REFERENCE
        # RULE applied to this loop body): propagate and shortcut both
        # reference their input from two plan branches (join left side
        # + the derived neighbor-min / lookup), so the fused
        # shortcut(propagate(propagate(x))) plan re-derived the inner
        # hop up to 4x — measured at sf0.1: 14 checkpoint scans / 17
        # Exchanges / 0 reuse in the fused cycle plan, 16.7 s → 11.9 s
        # converged with per-step checkpoints.  At scale the trade is
        # two extra O(nodes) materializations per cycle against
        # re-running O(edges) hop joins multiple times — strictly
        # right whenever edges >> nodes.
        seeded = labels.select("node", F.col("comp").alias("orig"), "comp")
        hop1 = iter_materialize(propagate(seeded))
        hop2 = iter_materialize(propagate(hop1))
        new_labels = iter_materialize(shortcut(hop2))
        changed = new_labels.agg(
            F.sum((F.col("comp") != F.col("orig")).cast("long")).alias("c")
        ).collect()[0]["c"]
        labels = new_labels.select("node", "comp")
        if changed == 0:
            converged = True
            break
    if not converged:
        msg = (
            f"connected_components: max_iter={max_iter} exhausted before "
            "fixpoint; labels are a refinement, not final components"
        )
        if strict:
            raise RuntimeError(msg)
        logging.getLogger(__name__).warning(msg)
    return labels


@register(
    "graph_connected_components",
    # The iterative min-label fixpoint has an exact declarative twin:
    # a node's component id is the minimum node id among ALL ids
    # reachable from it, which DuckDB computes as a recursive
    # reachability closure (UNION dedups (node,label) pairs, so the
    # recursion terminates; min over the same 'c:'/'p:' string ids is
    # lexicographic in both engines' binary collation).  O(nodes ×
    # component-size) pairs — fine at oracle scale, which is exactly
    # why the Spark side uses propagation + pointer jumping instead.
    oracle="""
    WITH RECURSIVE
    edges AS (SELECT DISTINCT o_custkey AS src, l_partkey AS dst
              FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
    bi AS (SELECT 'c:' || CAST(src AS VARCHAR) AS u,
                  'p:' || CAST(dst AS VARCHAR) AS v FROM edges
           UNION ALL
           SELECT 'p:' || CAST(dst AS VARCHAR),
                  'c:' || CAST(src AS VARCHAR) FROM edges),
    walk(node, lab) AS (
        SELECT u, u FROM bi
        UNION
        SELECT bi.v, walk.lab FROM walk JOIN bi ON walk.node = bi.u
    )
    SELECT node, min(lab) AS comp FROM walk GROUP BY node
    """,
)
def graph_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components of the undirected bipartite graph via
    min-label propagation (the 'related-works clusters' view).
    Iterative Hash-to-Min loop on the Spark side; the DuckDB oracle is
    the reachability-closure formulation of the same fixpoint.  Also
    pinned by a unit test on a known disconnected graph
    (tests/test_units.py)."""
    return cc_labels_materialized(spark, sf_dir)


#: Converged CC label vectors shared across queries in one session
#: (same discipline as the edge / pair-graph caches): the fixpoint
#: loop is the most expensive computation in the repo, and every
#: component-level rollup starts from its output.
_CC_CACHE: dict[tuple[str, str], DataFrame] = {}
SESSION_CACHES.append(_CC_CACHE)


def cc_labels_materialized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(node, comp)`` labels of the converged fixpoint, eagerly
    materialized once per (session, sf_dir)."""
    from tropology_spark.sources.tables import edges_materialized

    key = (spark.sparkContext.applicationId, sf_dir)
    # strict: every consumer of this cache is oracle-checked against a
    # fully-converged closure, so a non-converged refinement must fail
    # loudly here, not as a bare hash mismatch downstream.
    return cache_get_or_build(
        _CC_CACHE,
        key,
        lambda: connected_components(
            bi_materialized(spark, sf_dir), strict=True
        ).localCheckpoint(eager=True),
    )


# ---------------------------------------------------------------------------
# M116 — component-size rollup
# ---------------------------------------------------------------------------


@register(
    "graph_component_sizes",
    oracle="""
    WITH RECURSIVE
    edges AS (SELECT DISTINCT o_custkey AS src, l_partkey AS dst
              FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
    bi AS (SELECT 'c:' || CAST(src AS VARCHAR) AS u,
                  'p:' || CAST(dst AS VARCHAR) AS v FROM edges
           UNION ALL
           SELECT 'p:' || CAST(dst AS VARCHAR),
                  'c:' || CAST(src AS VARCHAR) FROM edges),
    walk(node, lab) AS (
        SELECT u, u FROM bi
        UNION
        SELECT bi.v, walk.lab FROM walk JOIN bi ON walk.node = bi.u
    ),
    comp AS (SELECT node, min(lab) AS comp FROM walk GROUP BY node)
    SELECT comp,
           CAST(count(*) AS BIGINT) AS n_nodes,
           CAST(sum(CASE WHEN node LIKE 'c:%' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_works,
           CAST(sum(CASE WHEN node LIKE 'p:%' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_tropes
    FROM comp GROUP BY comp
    """,
)
def graph_component_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M116 — component-level rollup: size and work/trope composition
    of every connected component — the "how fragmented is the graph"
    summary that decides whether per-component processing is feasible
    (one giant component → the iterative operators must scale; many
    small ones → applyInPandas per component is an option).

    Reuses the session-cached converged label vector, so the marginal
    cost over CC itself is one aggregate."""
    labels = cc_labels_materialized(spark, sf_dir)
    return labels.groupBy("comp").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
        F.sum(F.when(F.col("node").startswith("c:"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_works"),
        F.sum(F.when(F.col("node").startswith("p:"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_tropes"),
    )


@register(
    "graph_network_payload",
    oracle=_EDGES_CTE
    + f"""
    , indeg AS (SELECT dst, CAST(count(*) AS BIGINT) AS d FROM edges GROUP BY dst),
    outdeg AS (SELECT src, CAST(count(*) AS BIGINT) AS d FROM edges GROUP BY src)
    SELECT 'c:' || CAST(c_custkey AS VARCHAR) AS node_id,
           c_name AS label,
           '#ff6600' AS color,
           round(ln(outdeg.d + 1), 6) AS size
    FROM customer JOIN outdeg ON c_custkey = outdeg.src
    WHERE c_custkey = {CUST_A}
    UNION ALL
    SELECT 'p:' || CAST(p_partkey AS VARCHAR) AS node_id,
           p_name AS label,
           '#3366cc' AS color,
           round(ln(indeg.d + 1), 6) AS size
    FROM part
    JOIN (SELECT DISTINCT dst FROM edges WHERE src = {CUST_A}) n ON p_partkey = n.dst
    JOIN indeg ON p_partkey = indeg.dst
    """,
)
def graph_network_payload(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``/api/network/:code`` presentation payload (SURVEY.md
    §3.2): the focus node plus its 1-hop neighborhood, each styled for
    sigma.js — category color, size ∝ log(degree+1).  Everything the
    reference's api.clj transform computes, as one declarative query;
    the JSON serialization is the driver-side ``toJSON()`` boundary."""
    from tropology_spark.sources.tables import edges_materialized, load

    e = edges_materialized(spark, sf_dir)
    indeg = e.groupBy("dst").agg(F.count(F.lit(1)).alias("d"))
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    customer = load(spark, sf_dir, "customer")
    part = load(spark, sf_dir, "part")
    focus = (
        customer.filter(F.col("c_custkey") == CUST_A)
        .join(outdeg, F.col("c_custkey") == F.col("src"))
        .select(
            F.concat(F.lit("c:"), F.col("c_custkey").cast("string")).alias("node_id"),
            F.col("c_name").alias("label"),
            F.lit("#ff6600").alias("color"),
            F.round(F.log(F.col("d") + 1), 6).alias("size"),
        )
    )
    hood = (
        e.filter(F.col("src") == CUST_A)
        .select("dst")
        .distinct()
        .join(part, F.col("dst") == F.col("p_partkey"))
        .join(indeg, "dst")
        .select(
            F.concat(F.lit("p:"), F.col("p_partkey").cast("string")).alias("node_id"),
            F.col("p_name").alias("label"),
            F.lit("#3366cc").alias("color"),
            F.round(F.log(F.col("d") + 1), 6).alias("size"),
        )
    )
    return focus.unionByName(hood)


@register(
    "graph_neighbors_in",
    oracle=_EDGES_CTE
    + """
    SELECT e.src AS custkey, c.c_name
    FROM edges e JOIN customer c ON e.src = c.c_custkey
    WHERE e.dst = 42
    """,
)
def graph_neighbors_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I3b — 1-hop IN-neighbors with attributes: the works linking to a
    given trope (the reference's ``query-to``, the mirror of
    ``query-from``/graph_neighbors).  At scale this reads the
    dst-bucketed copy of the edge table (SCALE.md)."""
    from tropology_spark.sources.tables import load

    e = edges(spark, sf_dir).filter(F.col("dst") == 42)
    customer = load(spark, sf_dir, "customer")
    return e.join(customer, e.src == customer.c_custkey).select(
        F.col("src").alias("custkey"), "c_name"
    )


@register(
    "graph_link_prediction",
    oracle=_EDGES_CTE
    + """
    , deg AS (SELECT src, CAST(count(*) AS BIGINT) AS d FROM edges GROUP BY src),
    common AS (
      SELECT a.src AS cust_a, b.src AS cust_b, CAST(count(*) AS BIGINT) AS n_common
      FROM edges a JOIN edges b ON a.dst = b.dst AND a.src <> b.src
      GROUP BY a.src, b.src
    ),
    scored AS (
      SELECT cust_a, cust_b, n_common,
             round(CAST(n_common AS DOUBLE) / (da.d + db.d - n_common), 6) AS jaccard
      FROM common
      JOIN deg da ON cust_a = da.src
      JOIN deg db ON cust_b = db.src
    )
    SELECT cust_a, cust_b, n_common, jaccard, CAST(rk AS BIGINT) AS rk
    FROM (SELECT *, row_number() OVER (PARTITION BY cust_a
                                       ORDER BY jaccard DESC, cust_b) AS rk
          FROM scored) t
    WHERE rk <= 3
    """,
)
def graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I9 — neighbor-set Jaccard link prediction: for every work, the 3
    most similar other works ranked by shared-trope Jaccard (the
    "related works you might also like" discovery query; common
    neighbors I4 generalized from one pair to all pairs).

    Pair enumeration is blocked by co-citation (only works sharing >= 1
    trope meet — the same bounded shape as graph_twohop_count), degrees
    join twice, and the top-3 window ranks on the 6-dp-rounded score
    with the unique cust_b tie-break (the CLAUDE.md rank rule).  At
    100 TB: run the declared capped twin (M121,
    ``graph_link_prediction_capped``) — celebrity tropes carry no
    similarity signal and explode the pair table; the capped view
    excises exactly them.  This exact form remains the oracle-scale
    reference."""
    from pyspark.sql import Window
    from tropology_spark.sources.tables import edges_materialized

    e = edges_materialized(spark, sf_dir)
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    # The pair table is the session-shared co-citation materialization
    # (one half self-join + mirror) also consumed by graph_twohop_count.
    common = copair_counts_materialized(spark, sf_dir)
    da = deg.select(F.col("src").alias("cust_a"), F.col("d").alias("da"))
    db = deg.select(F.col("src").alias("cust_b"), F.col("d").alias("db"))
    jac = F.round(
        F.col("n_common").cast("double") / (F.col("da") + F.col("db") - F.col("n_common")), 6
    )
    # Degrees are O(nodes) — broadcast them so the O(pairs) table
    # (17M rows at sf0.1) is never shuffled for the enrichment joins;
    # without the hint Catalyst sort-merge-joins the pair table twice.
    scored = (
        common.join(F.broadcast(da), "cust_a")
        .join(F.broadcast(db), "cust_b")
        .select("cust_a", "cust_b", "n_common", jac.alias("jaccard"))
    )
    w = Window.partitionBy("cust_a").orderBy(F.col("jaccard").desc(), F.col("cust_b"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= 3)
    )


@register(
    "graph_link_prediction_capped",
    oracle=_EDGES_CTE
    + f"""
    , deg0 AS (SELECT dst, count(*) AS d FROM edges GROUP BY dst),
    hot AS (SELECT dst FROM deg0 WHERE d > {TWOHOP_DEGREE_CAP}),
    cold AS (SELECT src, dst FROM edges
             WHERE dst NOT IN (SELECT dst FROM hot)),
    deg AS (SELECT src, CAST(count(*) AS BIGINT) AS d FROM cold GROUP BY src),
    common AS (
      SELECT a.src AS cust_a, b.src AS cust_b, CAST(count(*) AS BIGINT) AS n_common
      FROM cold a JOIN cold b ON a.dst = b.dst AND a.src <> b.src
      GROUP BY a.src, b.src
    ),
    scored AS (
      SELECT cust_a, cust_b, n_common,
             round(CAST(n_common AS DOUBLE) / (da.d + db.d - n_common), 6) AS jaccard
      FROM common
      JOIN deg da ON cust_a = da.src
      JOIN deg db ON cust_b = db.src
    )
    SELECT cust_a, cust_b, n_common, jaccard, CAST(rk AS BIGINT) AS rk
    FROM (SELECT *, row_number() OVER (PARTITION BY cust_a
                                       ORDER BY jaccard DESC, cust_b) AS rk
          FROM scored) t
    WHERE rk <= 3
    """,
)
def graph_link_prediction_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M121 — degree-capped link prediction: I9 with both the pair
    enumeration AND the Jaccard universe restricted to cold (degree <=
    TWOHOP_DEGREE_CAP) tropes.  This is the standard scale form of the
    query AND the better-signal one: a celebrity trope shared by half
    the corpus contributes ~nothing to similarity while exploding the
    pair table quadratically — capping removes exactly those terms.
    Consumes the session-shared capped co-pair view (one cold wedge
    join per session, shared with graph_twohop_capped); cold degrees
    ride the same cached parts; rank on the 6-dp score with the unique
    cust_b tie-break (CLAUDE.md rank rule)."""
    from pyspark.sql import Window

    _hot, half, cold_deg, _small = capped_copair_materialized(spark, sf_dir)
    pairs = half.unionByName(
        half.select(
            F.col("cust_b").alias("cust_a"),
            F.col("cust_a").alias("cust_b"),
            "n_common",
        )
    )
    da = cold_deg.select(F.col("src").alias("cust_a"), F.col("d").alias("da"))
    db = cold_deg.select(F.col("src").alias("cust_b"), F.col("d").alias("db"))
    jac = F.round(
        F.col("n_common").cast("double")
        / (F.col("da") + F.col("db") - F.col("n_common")),
        6,
    )
    # Degrees are O(nodes) — broadcast, same rationale as I9.
    scored = (
        pairs.join(F.broadcast(da), "cust_a")
        .join(F.broadcast(db), "cust_b")
        .select("cust_a", "cust_b", "n_common", jac.alias("jaccard"))
    )
    w = Window.partitionBy("cust_a").orderBy(F.col("jaccard").desc(), F.col("cust_b"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= 3)
    )


# ---------------------------------------------------------------------------
# M91 — k-core peeling (3 unrolled rounds)
# ---------------------------------------------------------------------------

_KCORE_K = 25
_KCORE_ROUNDS = 3


@register(
    "graph_kcore",
    oracle=_EDGES_CTE
    + f"""
    , ue AS (
      SELECT 'c:' || CAST(src AS VARCHAR) AS a, 'p:' || CAST(dst AS VARCHAR) AS b
      FROM edges
      UNION ALL
      SELECT 'p:' || CAST(dst AS VARCHAR), 'c:' || CAST(src AS VARCHAR)
      FROM edges
    ),
    d0 AS (SELECT a, count(*) AS deg FROM ue GROUP BY a),
    k0 AS (SELECT a FROM d0 WHERE deg >= {_KCORE_K}),
    e1 AS (SELECT ue.a, ue.b FROM ue
           JOIN k0 x ON ue.a = x.a JOIN k0 y ON ue.b = y.a),
    d1 AS (SELECT a, count(*) AS deg FROM e1 GROUP BY a),
    k1 AS (SELECT a FROM d1 WHERE deg >= {_KCORE_K}),
    e2 AS (SELECT e1.a, e1.b FROM e1
           JOIN k1 x ON e1.a = x.a JOIN k1 y ON e1.b = y.a),
    d2 AS (SELECT a, count(*) AS deg FROM e2 GROUP BY a),
    k2 AS (SELECT a FROM d2 WHERE deg >= {_KCORE_K}),
    e3 AS (SELECT e2.a, e2.b FROM e2
           JOIN k2 x ON e2.a = x.a JOIN k2 y ON e2.b = y.a)
    SELECT a AS node, CAST(count(*) AS BIGINT) AS degree
    FROM e3 GROUP BY a
    """,
)
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M91 — k-core peeling, {r} unrolled rounds at k={k}: repeatedly
    drop nodes whose degree in the surviving subgraph is below k, then
    report each survivor's induced degree.  The dense-core extractor
    (spam/boilerplate hubs in a link graph, community cores) — a fixed
    round count keeps it SQL-oracle-checkable; the fixpoint variant is
    the connected-components loop shape (rows-only).

    Scale: each round is degree-agg + two semi joins on the node set —
    all key-partitioned shuffles.  Each surviving edge set is eagerly
    materialized: round i+1 references round i from THREE plan branches
    (degree agg + both endpoint joins), and Spark does not reuse
    un-materialized shared subplans (BASELINE.md round-1 finding)."""
    cur = bi_materialized(spark, sf_dir).select(
        F.col("u").alias("a"), F.col("v").alias("b")
    )
    cur = kcore_peel(cur, _KCORE_K, _KCORE_ROUNDS)
    return cur.groupBy(F.col("a").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("degree")
    )


def kcore_peel(
    cur: DataFrame, k: int, rounds: int, deg0: DataFrame | None = None
) -> DataFrame:
    """``rounds`` unrolled k-core peel steps over a directed
    both-ways edge frame ``(a, b)`` — the single home of the peel
    arithmetic, shared by the registered graph_kcore (k=25) and the
    core-profile curve (k ∈ {5, 25, 50}).  Each surviving edge
    set is eagerly materialized: round i+1 references round i from
    THREE plan branches (degree agg + both endpoint joins) — the
    double-reference rule.

    ``deg0`` optionally supplies the ROUND-0 degree table
    ``(a, deg)`` of ``cur``: the input degrees do not depend on k, so
    a caller running peels at several thresholds over the SAME edge
    frame (the M314 curve) aggregates once and shares it — later
    rounds always re-aggregate the induced subgraph (induced degrees
    change per k).

    Round-19 note: a lazy FINAL round (the result is consumed once by
    a rollup, so the last checkpoint looks skippable) was tried and
    MEASURED SLOWER (graph_kcore 0.81 s → 1.44 s, graph_core_profile
    1.74 s → 2.24 s at sf0.1): ``localCheckpoint`` is an in-memory
    block write, far cheaper than re-deriving the two semi joins +
    degree agg inside the final aggregate — keep every round pinned."""
    for i in range(rounds):
        deg = (
            deg0
            if i == 0 and deg0 is not None
            else cur.groupBy("a").agg(F.count(F.lit(1)).alias("deg"))
        )
        keep = deg.filter(F.col("deg") >= k).select("a")
        cur = iter_materialize(
            cur.join(keep, "a", "left_semi")
            .join(keep.withColumnRenamed("a", "b"), "b", "left_semi")
            .select("a", "b")
        )
    return cur


# ---------------------------------------------------------------------------
# M114 — degree-distribution histogram (power-law audit)
# ---------------------------------------------------------------------------


@register(
    "graph_degree_histogram",
    oracle=_EDGES_CTE
    + """
    , deg AS (
      SELECT node, CAST(count(*) AS BIGINT) AS d FROM (
        SELECT 'c:' || CAST(src AS VARCHAR) AS node FROM edges
        UNION ALL
        SELECT 'p:' || CAST(dst AS VARCHAR) FROM edges) t
      GROUP BY node
    )
    , bucketed AS (
      SELECT d, CAST(length(printf('%b', d)) AS BIGINT) AS bucket FROM deg
    )
    SELECT bucket,
           CAST(power(2, bucket - 1) AS BIGINT) AS bucket_min,
           CAST(count(*) AS BIGINT) AS n_nodes,
           CAST(min(d) AS BIGINT) AS min_deg,
           CAST(max(d) AS BIGINT) AS max_deg
    FROM bucketed
    GROUP BY bucket
    """,
)
def graph_degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M114 — log2-bucketed degree distribution of the undirected
    bipartite graph: the power-law audit every graph pipeline runs
    before choosing a partitioning strategy (a heavy tail at bucket
    ≥ 12 is the signal to salt or split celebrity keys).

    The bucket is the integer bit-length of the degree (floor(log2 d)
    + 1) — computed as the length of the binary string representation
    in BOTH engines, so no float log at any point.  Scale: degree agg
    is one shuffle; the histogram is 32 rows regardless of graph
    size."""
    deg = (
        bi_materialized(spark, sf_dir)
        .groupBy(F.col("u").alias("node"))
        .agg(F.count(F.lit(1)).alias("d"))
    )
    bucket = F.length(F.bin(F.col("d"))).cast("bigint")
    return (
        deg.groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
            F.min("d").cast("bigint").alias("min_deg"),
            F.max("d").cast("bigint").alias("max_deg"),
        )
        .select(
            "bucket",
            F.pow(F.lit(2), F.col("bucket") - 1).cast("bigint").alias("bucket_min"),
            "n_nodes",
            "min_deg",
            "max_deg",
        )
    )


# ---------------------------------------------------------------------------
# M149 — related tropes (the reference's "related pages" feature)
# ---------------------------------------------------------------------------

#: Work-side (src) degree cap for the related-tropes wedge: the wedge
#: pivots on src, so the quadratic is per-WORK; 64 sits at ~p95 of the
#: fixture's customer degrees, exercising both the kept and dropped
#: classes at every sf (the TWOHOP_DEGREE_CAP philosophy applied to
#: the opposite side of the bipartite graph).
RELATED_SRC_CAP = 64

#: Session-shared src-capped edge list + trope co-occurrence pairs
#: (the M149/M167 wedge — same discipline as _CAPPED_CACHE).
_RELATED_CACHE: dict[tuple[str, str], tuple] = {}
SESSION_CACHES.append(_RELATED_CACHE)


def related_pairs_materialized(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """``(e, pairs)``: the src-capped edge list and the ordered-half
    trope co-occurrence counts ``(dst_a < dst_b, n_common)``, each
    checkpointed once per (session, sf).  Shared by the related-tropes
    ranking (M149) and the lift scoring (M167) so one session pays the
    dst-side wedge join once."""
    from tropology_spark.sources.tables import edges_materialized

    key = (spark.sparkContext.applicationId, sf_dir)

    def build() -> tuple[DataFrame, DataFrame]:
        e0 = edges_materialized(spark, sf_dir)
        keep = (
            e0.groupBy("src")
            .agg(F.count(F.lit(1)).alias("d"))
            .filter(F.col("d") <= RELATED_SRC_CAP)
            .select("src")
        )
        e = e0.join(keep, "src", "left_semi").localCheckpoint(eager=True)
        a = e.select(F.col("src").alias("s"), F.col("dst").alias("dst_a"))
        b = e.select(F.col("src").alias("s"), F.col("dst").alias("dst_b"))
        pairs = (
            a.join(b, "s")
            .filter(F.col("dst_a") < F.col("dst_b"))
            .groupBy("dst_a", "dst_b")
            .agg(F.count(F.lit(1)).alias("n_common"))
            .localCheckpoint(eager=True)
        )
        return e, pairs

    return cache_get_or_build(_RELATED_CACHE, key, build)


@register(
    "graph_related_tropes",
    oracle=_EDGES_CTE
    + f"""
    , keep AS (SELECT src FROM edges GROUP BY src
               HAVING count(*) <= {RELATED_SRC_CAP}),
    e AS (SELECT src, dst FROM edges WHERE src IN (SELECT src FROM keep)),
    pairs AS (
      SELECT a.dst AS dst_a, b.dst AS dst_b, count(*) AS n_common
      FROM e a JOIN e b ON a.src = b.src AND a.dst < b.dst
      GROUP BY 1, 2
    ),
    und AS (
      SELECT dst_a AS trope, dst_b AS related, n_common FROM pairs
      UNION ALL
      SELECT dst_b, dst_a, n_common FROM pairs
    )
    SELECT CAST(trope AS BIGINT) AS trope,
           CAST(related AS BIGINT) AS related,
           CAST(n_common AS BIGINT) AS n_shared_works,
           CAST(rn AS BIGINT) AS rn
    FROM (SELECT *, row_number() OVER (PARTITION BY trope
                                       ORDER BY n_common DESC, related) AS rn
          FROM und) t
    WHERE rn <= 3
    """,
)
def graph_related_tropes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M149 — "related tropes": for every trope (dst/part page), the
    top-3 other tropes by number of SHARED WORKS — the reference's
    flagship related-pages feature (tropology's network view surfaces
    tropes co-occurring across works; SURVEY.md §1.4/§3.4), on the
    OPPOSITE side of the bipartite graph from the customer-pair family
    (I4/I9/M119).  Rank is exact-integer count with unique related-id
    tie-break.

    The celebrity discipline is baked in, not bolted on: the wedge
    pivots on works, so works with more than RELATED_SRC_CAP linked
    tropes are dropped BEFORE the self-join (per-work pair cost
    ≤ C(cap, 2)) — the M120 sparsifier contract on the src side; at
    100 TB the cap is the knob, and the kept graph is a declared
    subset of the full projection.  Post-wedge everything is keyed by
    trope: mirror via unionAll (no shuffle), top-3 per key window.

    Plan: the src-capped wedge comes from the SESSION-SHARED
    ``related_pairs_materialized`` view (checkpointed half table,
    shared with M167's lift scoring) — without the materialization the
    wedge's two aliases and the union's two branches each re-derive
    orders⋈lineitem (Spark does not reuse aliased subplans; 54
    exchanges measured vs 2 after)."""
    _e, pairs = related_pairs_materialized(spark, sf_dir)
    und = pairs.select(
        F.col("dst_a").alias("trope"),
        F.col("dst_b").alias("related"),
        "n_common",
    ).unionAll(
        pairs.select(
            F.col("dst_b").alias("trope"),
            F.col("dst_a").alias("related"),
            "n_common",
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("trope").orderBy(F.col("n_common").desc(), F.col("related"))
    return (
        und.withColumn("rn", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rn") <= 3)
        .select(
            F.col("trope").cast("bigint").alias("trope"),
            F.col("related").cast("bigint").alias("related"),
            F.col("n_common").cast("bigint").alias("n_shared_works"),
            "rn",
        )
    )


# ---------------------------------------------------------------------------
# M167 — co-occurrence lift (PMI-style surprise score, exact integers)
# ---------------------------------------------------------------------------


@register(
    "graph_trope_lift",
    oracle=_EDGES_CTE
    + f"""
    , keep AS (SELECT src FROM edges GROUP BY src
               HAVING count(*) <= {RELATED_SRC_CAP}),
    e AS (SELECT src, dst FROM edges WHERE src IN (SELECT src FROM keep)),
    pairs AS (
      SELECT a.dst AS dst_a, b.dst AS dst_b, count(*) AS n_common
      FROM e a JOIN e b ON a.src = b.src AND a.dst < b.dst
      GROUP BY 1, 2
    ),
    deg AS (SELECT dst, count(*) AS d FROM e GROUP BY dst),
    nw AS (SELECT count(DISTINCT src) AS n_works FROM e),
    lift AS (
      SELECT p.dst_a, p.dst_b, p.n_common, da.d AS deg_a, db.d AS deg_b,
             (1000000 * p.n_common * (SELECT n_works FROM nw))
               // (da.d * db.d) AS lift_ppm
      FROM pairs p
      JOIN deg da ON p.dst_a = da.dst
      JOIN deg db ON p.dst_b = db.dst
      WHERE p.n_common >= 3
    )
    SELECT CAST(dst_a AS BIGINT) AS trope_a,
           CAST(dst_b AS BIGINT) AS trope_b,
           CAST(n_common AS BIGINT) AS n_common,
           CAST(deg_a AS BIGINT) AS deg_a,
           CAST(deg_b AS BIGINT) AS deg_b,
           CAST(lift_ppm AS BIGINT) AS lift_ppm
    FROM lift ORDER BY lift_ppm DESC, trope_a, trope_b LIMIT 20
    """,
)
def graph_trope_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M167 — co-occurrence LIFT between tropes: observed/expected
    co-occurrence P(a,b)/(P(a)P(b)) as the exact integer
    (10⁶·n_common·n_works) // (deg_a·deg_b) — the PMI-family surprise
    score that separates genuinely related pages from merely popular
    ones (raw counts, M149's rank key, favor hubs; lift corrects by
    both degrees).  Top-20 most surprising pairs with ≥3 shared works
    (rare-pair lift is noise).  Shares the session-cached src-capped
    wedge with M149 — the lift table costs two degree joins over the
    already-materialized half pairs.  All integers; the single global
    top-20 is a TakeOrdered, not a sort."""
    e, pairs = related_pairs_materialized(spark, sf_dir)
    deg = e.groupBy("dst").agg(F.count(F.lit(1)).alias("d"))
    nw = e.agg(F.countDistinct("src").alias("n_works"))
    da = deg.select(F.col("dst").alias("dst_a"), F.col("d").alias("deg_a"))
    db = deg.select(F.col("dst").alias("dst_b"), F.col("d").alias("deg_b"))
    lift = (
        pairs.filter(F.col("n_common") >= 3)
        .join(da, "dst_a")
        .join(db, "dst_b")
        .crossJoin(F.broadcast(nw))
        .select(
            F.col("dst_a").cast("bigint").alias("trope_a"),
            F.col("dst_b").cast("bigint").alias("trope_b"),
            F.col("n_common").cast("bigint").alias("n_common"),
            F.col("deg_a").cast("bigint").alias("deg_a"),
            F.col("deg_b").cast("bigint").alias("deg_b"),
            F.expr("(1000000 * n_common * n_works) div (deg_a * deg_b)")
            .cast("bigint")
            .alias("lift_ppm"),
        )
    )
    return lift.orderBy(
        F.col("lift_ppm").desc(), F.col("trope_a"), F.col("trope_b")
    ).limit(20)


# ---------------------------------------------------------------------------
# M180 — resource-allocation recommendations (seed-bounded serving shape)
# ---------------------------------------------------------------------------

_RA_MAX_SRC = 50  # seed set: the serving-path "recommend for these users"


@register(
    "graph_ra_recommend",
    oracle=_EDGES_CTE
    + f"""
    , deg AS (SELECT dst, CAST(count(*) AS BIGINT) AS d
              FROM edges GROUP BY dst),
    w AS (
      SELECT a.src AS seed, b.src AS cand,
             CAST(count(*) AS BIGINT) AS n_common,
             CAST(sum(1000000 // deg.d) AS BIGINT) AS ra_ppm
      FROM edges a
      JOIN edges b ON a.dst = b.dst AND a.src <> b.src
      JOIN deg ON deg.dst = a.dst
      WHERE a.src < {_RA_MAX_SRC}
      GROUP BY 1, 2
    )
    SELECT seed, cand, n_common, ra_ppm, CAST(rk AS BIGINT) AS rk
    FROM (SELECT *, row_number() OVER (PARTITION BY seed
                                       ORDER BY ra_ppm DESC, cand) AS rk
          FROM w) t
    WHERE rk <= 3
    """,
)
def graph_ra_recommend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M180 — top-3 neighbor recommendations per seed customer under
    the resource-allocation index (Zhou et al. 2009): score(a,b) =
    Σ_{{shared part p}} 1/deg(p) — unlike M32's Jaccard, RA discounts
    promiscuous shared parts individually, which is the metric of
    choice when item popularity is heavy-tailed.  Each term is
    1000000 div deg(p) (positive integers — engine-identical
    truncation), summed exactly; rank ties break on candidate id.

    This is deliberately the SERVING shape: a bounded seed set
    (src < {_RA_MAX_SRC}), so the wedge is Σ over seed edges of
    deg(dst) — proportional to the seed set, not to all C(n,2) pairs
    (the M121 capped query owns the corpus-wide variant's scale
    story; a production RA-for-everyone run would route through the
    same hot/cold split, where a hot part's per-pair contribution is
    ≤ 10⁶ div cap).  The seed filter pushes into the edge scan; the
    O(parts) degree table broadcasts onto the wedge."""
    from tropology_spark.sources.tables import edges_materialized

    e = edges_materialized(spark, sf_dir)
    deg = e.groupBy(F.col("dst").alias("deg_dst")).agg(
        F.count(F.lit(1)).cast("bigint").alias("d")
    )
    a = e.filter(F.col("src") < _RA_MAX_SRC).alias("a")
    b = e.alias("b")
    w = (
        a.join(b, (F.col("a.dst") == F.col("b.dst")) & (F.col("a.src") != F.col("b.src")))
        .join(F.broadcast(deg), F.col("a.dst") == F.col("deg_dst"))
        .groupBy(F.col("a.src").alias("seed"), F.col("b.src").alias("cand"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_common"),
            F.sum(F.expr("1000000 div d")).cast("bigint").alias("ra_ppm"),
        )
    )
    rk = Window.partitionBy("seed").orderBy(F.desc("ra_ppm"), F.asc("cand"))
    return (
        w.withColumn("rk", F.row_number().over(rk))
        .filter(F.col("rk") <= 3)
        .select("seed", "cand", "n_common", "ra_ppm", F.col("rk").cast("bigint").alias("rk"))
    )


# ---------------------------------------------------------------------------
# M190 — structural equivalence classes (mergeable neighbor-set fingerprint)
# ---------------------------------------------------------------------------


@register(
    "graph_struct_equiv",
    oracle="""
    WITH edges AS (
      SELECT DISTINCT o_custkey AS src, p.p_brand AS dst
      FROM orders o
      JOIN lineitem l ON o_orderkey = l_orderkey
      JOIN part p ON l_partkey = p_partkey
    ),
    h AS (
      SELECT src, dst,
             ('0x' || substring(md5(dst), 1, 8))::BIGINT AS hv
      FROM edges
    ),
    fp AS (
      SELECT src,
             CAST(sum(hv) AS BIGINT) AS fp_sum,
             CAST(count(*) AS BIGINT) AS deg,
             min(dst) AS min_dst,
             max(dst) AS max_dst
      FROM h GROUP BY src
    )
    SELECT fp_sum, deg, min_dst, max_dst,
           CAST(count(*) AS BIGINT) AS n_nodes,
           CAST(min(src) AS BIGINT) AS min_src,
           CAST(sum(src) AS BIGINT) AS src_checksum
    FROM fp GROUP BY fp_sum, deg, min_dst, max_dst
    HAVING count(*) >= 2
    """,
)
def graph_struct_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M190 — structural-equivalence classes: customers whose
    out-neighbor sets in the customer→brand projection are IDENTICAL
    (same brand portfolio — interchangeable "roles", the
    blockmodeling primitive; on the reference's trope graph these
    are pages citing exactly the same works).  The brand projection
    is the right granularity for this fixture: part-level sets are
    all unique (0 classes), brand-level yields real role classes.

    Two nodes are classed together when their neighbor-set
    FINGERPRINTS agree: (Σ md5-low-32(dst), degree, min dst, max dst)
    — an order-independent, MERGEABLE quadruple built by one
    map-side-combinable aggregate, deliberately NOT the D8
    sorted-collect_list string: no unbounded per-group list state
    for a celebrity node (the M169 concern), and partial fingerprints
    from two shards merge by addition/min/max.  Collision probability
    between two distinct equal-degree sets with equal min/max is
    ~2⁻³², and a false merge requires it — acceptable for the audit
    shape, stated here.

    Scale: two chained aggregates (src-keyed, then fingerprint-keyed)
    — both combine map-side; nothing holds a list; the part→brand
    broadcast is dimension-sized."""
    from tropology_spark.sources.tables import load

    o = load(spark, sf_dir, "orders")
    l = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    e = (
        o.join(l, o.o_orderkey == l.l_orderkey)
        .join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .select(F.col("o_custkey").alias("src"), F.col("p_brand").alias("dst"))
        .distinct()
    )
    h = e.select(
        "src", "dst",
        F.conv(F.substring(F.md5(F.col("dst")), 1, 8), 16, 10)
        .cast("bigint")
        .alias("hv"),
    )
    fp = h.groupBy("src").agg(
        F.sum("hv").cast("bigint").alias("fp_sum"),
        F.count(F.lit(1)).cast("bigint").alias("deg"),
        F.min("dst").alias("min_dst"),
        F.max("dst").alias("max_dst"),
    )
    return (
        fp.groupBy("fp_sum", "deg", "min_dst", "max_dst")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
            F.min("src").cast("bigint").alias("min_src"),
            F.sum("src").cast("bigint").alias("src_checksum"),
        )
        .filter(F.col("n_nodes") >= 2)
    )


# ---------------------------------------------------------------------------
# M200 — preferential-attachment recommendations (degree-product scoring)
# ---------------------------------------------------------------------------


@register(
    "graph_pref_attachment",
    oracle=_EDGES_CTE
    + f"""
    , cdeg AS (SELECT src, CAST(count(*) AS BIGINT) AS d
               FROM edges GROUP BY src),
    w AS (
      SELECT DISTINCT a.src AS seed, b.src AS cand
      FROM edges a
      JOIN edges b ON a.dst = b.dst AND a.src <> b.src
      WHERE a.src < {_RA_MAX_SRC}
    ),
    s AS (
      SELECT w.seed, w.cand, da.d AS deg_seed, db.d AS deg_cand,
             CAST(da.d * db.d AS BIGINT) AS pa_score
      FROM w
      JOIN cdeg da ON da.src = w.seed
      JOIN cdeg db ON db.src = w.cand
    )
    SELECT seed, cand, deg_seed, deg_cand, pa_score,
           CAST(rk AS BIGINT) AS rk
    FROM (SELECT *, row_number() OVER (PARTITION BY seed
                                       ORDER BY pa_score DESC, cand) AS rk
          FROM s) t
    WHERE rk <= 3
    """,
)
def graph_pref_attachment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M200 — top-3 link predictions per seed under PREFERENTIAL
    ATTACHMENT: score(a,b) = deg(a)·deg(b) — the baseline every link-
    prediction benchmark runs next to Jaccard (M32) and resource
    allocation (M180), and the one that needs NO overlap computation
    at scoring time: only the two degree lookups.  Candidates still
    come from the shared-neighbor wedge (the standard candidate
    generator — scoring truly all n² pairs is never run), restricted
    to the same bounded seed set as M180 (the serving shape).

    Exactness: bipartite degrees are distinct-part counts, the score
    an exact BIGINT product; ranks break ties on candidate id.

    Scale: the wedge is Σ over seed edges of deg(dst) — proportional
    to the seed set; the O(customers) degree table broadcasts onto
    both ends of each candidate pair, so after the wedge's one shuffle
    nothing data-sized moves.  A corpus-wide PA run would reuse the
    M119/M121 hot/cold split for candidate generation."""
    from tropology_spark.sources.tables import edges_materialized

    e = edges_materialized(spark, sf_dir)
    cdeg = e.groupBy(F.col("src").alias("d_src")).agg(
        F.count(F.lit(1)).cast("bigint").alias("d")
    )
    a = e.filter(F.col("src") < _RA_MAX_SRC).alias("a")
    b = e.alias("b")
    w = (
        a.join(b, (F.col("a.dst") == F.col("b.dst")) & (F.col("a.src") != F.col("b.src")))
        .select(F.col("a.src").alias("seed"), F.col("b.src").alias("cand"))
        .distinct()
    )
    s = (
        w.join(F.broadcast(cdeg), F.col("seed") == F.col("d_src"))
        .withColumnRenamed("d", "deg_seed")
        .drop("d_src")
        .join(F.broadcast(cdeg), F.col("cand") == F.col("d_src"))
        .withColumnRenamed("d", "deg_cand")
        .drop("d_src")
        .withColumn(
            "pa_score", (F.col("deg_seed") * F.col("deg_cand")).cast("bigint")
        )
    )
    rk = Window.partitionBy("seed").orderBy(F.desc("pa_score"), F.asc("cand"))
    return (
        s.withColumn("rk", F.row_number().over(rk))
        .filter(F.col("rk") <= 3)
        .select(
            "seed", "cand", "deg_seed", "deg_cand", "pa_score",
            F.col("rk").cast("bigint").alias("rk"),
        )
    )


# ---------------------------------------------------------------------------
# M251 graph_sample_neighbors2 — deterministic 2-hop neighbor sampling
# ---------------------------------------------------------------------------

_SAMPLE_FANOUT = 3


@register(
    "graph_sample_neighbors2",
    oracle=f"""
    WITH edges AS (SELECT DISTINCT o_custkey AS src, l_partkey AS dst
                   FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
    h1 AS (
      SELECT src AS seed, dst AS node,
             CAST(row_number() OVER (
               PARTITION BY src
               ORDER BY md5(CAST(src AS VARCHAR) || '_' || CAST(dst AS VARCHAR)),
                        dst) AS BIGINT) AS rk
      FROM edges QUALIFY rk <= {_SAMPLE_FANOUT}
    ),
    h2 AS (
      -- the rank alias must NOT be named rk: with h1 in scope QUALIFY
      -- would resolve a bare rk to h1.rk (always <= fanout, a no-op
      -- filter) instead of the new alias
      SELECT h1.seed, h1.node AS via, e.src AS node,
             CAST(row_number() OVER (
               PARTITION BY h1.seed, h1.node
               ORDER BY md5(CAST(h1.node AS VARCHAR) || '_'
                            || CAST(e.src AS VARCHAR)), e.src)
               AS BIGINT) AS rk2
      FROM h1 JOIN edges e ON e.dst = h1.node AND e.src <> h1.seed
      QUALIFY rk2 <= {_SAMPLE_FANOUT}
    )
    SELECT seed, CAST(1 AS BIGINT) AS hop, CAST(NULL AS BIGINT) AS via,
           node, rk
    FROM h1
    UNION ALL
    SELECT seed, CAST(2 AS BIGINT), via, node, rk2 FROM h2
    """,
)
def graph_sample_neighbors2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M251 — deterministic 2-HOP NEIGHBOR SAMPLING, the
    GraphSAGE/GNN minibatch-preparation primitive: per seed work-node,
    at most {f} hop-1 tropes ranked by the md5 edge hash, and per
    sampled trope at most {f} hop-2 works (excluding the seed) —
    bounded {f} + {f}² rows per seed, reproducible on any engine, any
    partitioning, any day (the I7/M43 md5-rank discipline; a `rand()`
    sample would never cross the hash gate, and more importantly
    would never re-materialize the same training neighborhoods).

    Scale: hop-1 is one per-src window over the edge list; hop-2 is
    one shuffle on the trope key + a per-(seed, trope) window whose
    partitions are bounded by trope degree — a celebrity trope at
    100 TB takes the capped-projection split (the M119/M120 pattern)
    before the rank; the output is bounded by seeds × ({f} + {f}²),
    never by edge count."""
    from tropology_spark.sources.tables import edges_materialized

    e = edges_materialized(spark, sf_dir)
    w1 = Window.partitionBy("src").orderBy(
        F.md5(F.concat_ws("_", F.col("src"), F.col("dst"))), F.col("dst")
    )
    h1 = (
        e.withColumn("rk", F.row_number().over(w1).cast("bigint"))
        .filter(F.col("rk") <= _SAMPLE_FANOUT)
        .select(F.col("src").alias("seed"), F.col("dst").alias("node"), "rk")
    )
    e2 = e.select(F.col("src").alias("node2"), F.col("dst").alias("via_d"))
    w2 = Window.partitionBy("seed", "node").orderBy(
        F.md5(F.concat_ws("_", F.col("node"), F.col("node2"))), F.col("node2")
    )
    h2 = (
        h1.join(e2, h1.node == e2.via_d)
        .filter(F.col("node2") != F.col("seed"))
        .withColumn("rk2", F.row_number().over(w2).cast("bigint"))
        .filter(F.col("rk2") <= _SAMPLE_FANOUT)
        .select(
            "seed",
            F.lit(2).cast("bigint").alias("hop"),
            F.col("node").alias("via"),
            F.col("node2").alias("node"),
            F.col("rk2").alias("rk"),
        )
    )
    out1 = h1.select(
        "seed",
        F.lit(1).cast("bigint").alias("hop"),
        F.lit(None).cast("bigint").alias("via"),
        "node",
        "rk",
    )
    return out1.unionByName(h2)


graph_sample_neighbors2.__doc__ = graph_sample_neighbors2.__doc__.format(
    f=_SAMPLE_FANOUT
)


# ---------------------------------------------------------------------------
# graph_degree_gini — attention concentration over trope in-degrees
# ---------------------------------------------------------------------------

from tropology_spark.plans.global_order import global_row_number  # noqa: E402

_DEG_GINI_ORACLE = (
    _EDGES_CTE
    + """
    , deg AS (SELECT dst, CAST(count(*) AS BIGINT) AS degree
              FROM edges GROUP BY dst),
    r AS (SELECT degree,
                 CAST(row_number() OVER (ORDER BY degree, dst) AS BIGINT)
                   AS pos
          FROM deg),
    a AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes,
                 CAST(sum(degree) AS BIGINT) AS total_degree,
                 CAST(sum(pos * degree) AS BIGINT) AS s1
          FROM r)
    SELECT n_nodes, total_degree,
           CAST((1000000 * (2 * CAST(s1 AS HUGEINT)
                            - (n_nodes + 1) * CAST(total_degree AS HUGEINT)))
                // (CAST(n_nodes AS HUGEINT) * total_degree)
                AS BIGINT) AS gini_ppm
    FROM a
    """
)


@register("graph_degree_gini", oracle=_DEG_GINI_ORACLE)
def graph_degree_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M308 — Gini coefficient of the trope in-degree distribution — the
    attention-concentration number for the link graph (the scalar
    companion to M249's rich-club terms and M114's degree histogram:
    one inequality index instead of a curve).  Degree inequality is
    what decides whether the celebrity-capping machinery
    (capped_copair / twohop_capped) matters at all on a given corpus
    — a near-uniform graph (gini → 0) never needs it, a hub-dominated
    one (gini → 1) always does, so this IS the audit that sizes the
    cap.

    The exact integer Lorenz identity from M192 reused verbatim:
    G = (2·Σ i·x_i − (n+1)·Σx_i)/(n·Σx_i) over degrees ranked
    ascending with the unique (degree, dst) tie-break; the global
    rank is the two-pass range-partitioned prefix sum
    (plans/global_order.py — never a single-partition window), and
    the one-row finale runs in DECIMAL(38,0)/HUGEINT per the
    wide-integer rule."""
    deg = (
        edges(spark, sf_dir)
        .groupBy("dst")
        .agg(F.count(F.lit(1)).cast("bigint").alias("degree"))
    )
    r = global_row_number(deg, ["degree", "dst"], out="pos")
    a = r.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
        F.sum("degree").cast("bigint").alias("total_degree"),
        F.sum(F.col("pos") * F.col("degree")).cast("bigint").alias("s1"),
    )
    return a.select(
        "n_nodes",
        "total_degree",
        F.expr(
            "(CAST(1000000 AS DECIMAL(38,0))"
            " * (2 * CAST(s1 AS DECIMAL(38,0))"
            "    - (n_nodes + 1) * CAST(total_degree AS DECIMAL(38,0))))"
            " div (CAST(n_nodes AS DECIMAL(38,0)) * total_degree)"
        )
        .cast("bigint")
        .alias("gini_ppm"),
    )


# ---------------------------------------------------------------------------
# graph_core_profile — bounded k-core survivors vs k (degeneracy profile)
# ---------------------------------------------------------------------------

_CORE_KS = (5, 25, 50)
_CORE_ROUNDS = 3


def _core_chain_sql(k: int) -> str:
    out = f"d0_{k} AS (SELECT a, count(*) AS deg FROM ue GROUP BY a),\n"
    out += f"    k0_{k} AS (SELECT a FROM d0_{k} WHERE deg >= {k}),\n"
    out += (
        f"    e1_{k} AS (SELECT ue.a, ue.b FROM ue"
        f" JOIN k0_{k} x ON ue.a = x.a JOIN k0_{k} y ON ue.b = y.a),\n"
    )
    for r in (1, 2):
        out += (
            f"    d{r}_{k} AS (SELECT a, count(*) AS deg FROM e{r}_{k}"
            f" GROUP BY a),\n"
        )
        out += f"    k{r}_{k} AS (SELECT a FROM d{r}_{k} WHERE deg >= {k}),\n"
        out += (
            f"    e{r + 1}_{k} AS (SELECT e{r}_{k}.a, e{r}_{k}.b FROM e{r}_{k}"
            f" JOIN k{r}_{k} x ON e{r}_{k}.a = x.a"
            f" JOIN k{r}_{k} y ON e{r}_{k}.b = y.a),\n"
        )
    return out.rstrip().rstrip(",")


def _core_profile_oracle() -> str:
    chains = ",\n    ".join(_core_chain_sql(k) for k in _CORE_KS)
    finals = " UNION ALL ".join(
        f"SELECT CAST({k} AS BIGINT) AS k,"
        f" CAST(count(DISTINCT a) AS BIGINT) AS n_core_nodes,"
        f" CAST(count(*) // 2 AS BIGINT) AS n_core_edges FROM e3_{k}"
        for k in _CORE_KS
    )
    return (
        _EDGES_CTE
        + f"""
    , ue AS (
      SELECT 'c:' || CAST(src AS VARCHAR) AS a, 'p:' || CAST(dst AS VARCHAR) AS b
      FROM edges
      UNION ALL
      SELECT 'p:' || CAST(dst AS VARCHAR), 'c:' || CAST(src AS VARCHAR)
      FROM edges
    ),
    {chains}
    {finals}
    """
    )


@register("graph_core_profile", oracle=_core_profile_oracle())
def graph_core_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M314 — The DEGENERACY PROFILE — surviving nodes and edges of
    the 3-round k-core peel at k ∈ {5, 25, 50}: where the registered
    graph_kcore (M91) extracts the one k=25 core, this curve shows
    how the dense backbone collapses as the threshold rises — the
    number that picks k in the first place, and (with
    graph_degree_gini) the audit that decides whether hub-capping
    machinery matters on a corpus.

    Each point runs the single-home :func:`kcore_peel` (factored out
    of the registered M91 body — identical per-round arithmetic and
    checkpoint discipline).  Peels at different k are NOT derivable
    from each other by filtering (induced degrees change), so the
    curve deliberately runs ×|ks| bounded peels — but the SURVIVOR
    SETS NEST (core_50 ⊆ core_25 ⊆ core_5, by round-wise induction on
    the keep sets), so the twin pins n_core_nodes and n_core_edges
    monotone non-increasing in k.  Scale: each peel round is a
    degree agg + two semi joins on key-partitioned shuffles; the
    curve output is 3 rows."""
    ue = bi_materialized(spark, sf_dir).select(
        F.col("u").alias("a"), F.col("v").alias("b")
    )
    # the round-0 degree table is k-INDEPENDENT — aggregate it once
    # and share it across all three peels (it feeds three plan
    # branches: the double-reference rule); later rounds re-aggregate
    # their induced subgraphs inside kcore_peel as before.
    deg0 = iter_materialize(
        ue.groupBy("a").agg(F.count(F.lit(1)).alias("deg"))
    )
    out = None
    for k in _CORE_KS:
        cur = kcore_peel(ue, k, _CORE_ROUNDS, deg0=deg0)
        row = cur.agg(
            F.countDistinct("a").cast("bigint").alias("n_core_nodes"),
            F.expr("CAST(count(*) div 2 AS BIGINT)").alias("n_core_edges"),
        ).select(
            F.lit(k).cast("bigint").alias("k"), "n_core_nodes", "n_core_edges"
        )
        out = row if out is None else out.unionAll(row)
    return out


# ---------------------------------------------------------------------------
# M342 graph_degree_quantiles — exact degree-distribution quantiles per side
# ---------------------------------------------------------------------------


def _degree_quantiles_oracle() -> str:
    return (
        _EDGES_CTE
        + """
    , deg AS (
      SELECT 'customer' AS side, src AS node, CAST(count(*) AS BIGINT) AS d
      FROM edges GROUP BY src
      UNION ALL
      SELECT 'part', dst, CAST(count(*) AS BIGINT) FROM edges GROUP BY dst
    ),
    vc AS (SELECT side, d, CAST(count(*) AS BIGINT) AS cnt
           FROM deg GROUP BY side, d),
    cum AS (
      SELECT side, d, cnt,
             CAST(sum(cnt) OVER (PARTITION BY side ORDER BY d) AS BIGINT)
               AS cum,
             CAST(sum(cnt) OVER (PARTITION BY side) AS BIGINT) AS n
      FROM vc
    )
    SELECT side, CAST(any_value(n) AS BIGINT) AS n_nodes,
           CAST(min(CASE WHEN cum >= (n + 1) // 2 THEN d END) AS BIGINT)
             AS p50,
           CAST(min(CASE WHEN cum >= (9 * n + 9) // 10 THEN d END) AS BIGINT)
             AS p90,
           CAST(min(CASE WHEN cum >= (99 * n + 99) // 100 THEN d END)
                AS BIGINT) AS p99,
           CAST(max(d) AS BIGINT) AS max_degree
    FROM cum GROUP BY side
    """
    )


@register("graph_degree_quantiles", oracle=_degree_quantiles_oracle())
def graph_degree_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M342 — exact p50/p90/p99/max of BOTH degree
    distributions (customer out-degree, part in-degree) — the skew
    summary that sizes every celebrity-capping decision (the
    _HUB_CAP = 32 constant, the copair caps, the salting thresholds
    all price against exactly these numbers; M114 ships the full
    histogram, this ships the four planning points).

    The M196 bounded-domain counting-quantile idiom on the DEGREE
    axis: per-(side, degree) counts + ONE cumulative window over the
    value axis (real side key), then rank-threshold picks p50 =
    value at ceil(n/2), p90 at ceil(0.9n), p99 at ceil(0.99n) — never
    a corpus sort; a degree histogram is value-bounded by max-degree
    regardless of node count.  Composed: the edge set is the
    registered I1 single home via the session-shared materialized
    view (Spark: edges_materialized; oracle: _EDGES_CTE — the
    CLAUDE.md shared-shape rule: re-deriving the orders ⋈ lineitem
    distinct join costs seconds per query at sf0.1)."""
    from tropology_spark.sources.tables import edges_materialized

    e = edges_materialized(spark, sf_dir)
    deg = (
        e.groupBy(F.col("src").alias("node"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
        .select(F.lit("customer").alias("side"), "d")
        .unionByName(
            e.groupBy(F.col("dst").alias("node"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
            .select(F.lit("part").alias("side"), "d")
        )
    )
    vc = deg.groupBy("side", "d").agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    ws = Window.partitionBy("side")
    cum = vc.select(
        "side",
        "d",
        F.sum("cnt").over(ws.orderBy("d")).cast("bigint").alias("cum"),
        F.sum("cnt").over(ws).cast("bigint").alias("n"),
    )
    return cum.groupBy("side").agg(
        F.first("n").cast("bigint").alias("n_nodes"),
        F.min(F.when(F.col("cum") >= F.expr("(n + 1) div 2"), F.col("d")))
        .cast("bigint")
        .alias("p50"),
        F.min(F.when(F.col("cum") >= F.expr("(9 * n + 9) div 10"), F.col("d")))
        .cast("bigint")
        .alias("p90"),
        F.min(F.when(F.col("cum") >= F.expr("(99 * n + 99) div 100"), F.col("d")))
        .cast("bigint")
        .alias("p99"),
        F.max("d").cast("bigint").alias("max_degree"),
    )
