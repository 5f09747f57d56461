"""Round-10 graph extensions: HITS hubs/authorities and weighted SSSP.

- HITS (Kleinberg 1999) over the customer→part purchase bipartite
  graph: authorities = parts bought by strong hubs, hubs = customers
  buying strong authorities. The classic L2 normalization needs a
  sqrt; the L1-normalized variant used here has the same fixed-point
  ranking story and stays in exact integer e9 fixed point (floor
  division by the score total), so the unrolled DuckDB oracle replays
  every iteration value-for-value.
- Single-source shortest paths with WEIGHTED edges (Bellman–Ford,
  fixed unrolled rounds) over the co-purchase graph, edge cost
  inversely proportional to co-purchase count — the "semantic
  distance" reading of the basket graph. Distances are exact integer
  e6 costs; the result is the |buckets|-bounded distance histogram,
  never a node-sized driver fetch.

Both follow the established iterative-operator discipline
(graph_ext.py): per-round localCheckpoint to cut plan growth, one
keyed aggregate-join per round, min/argmax determinism so ties can
never diverge between engines.

Reference grounding: the FK join graph the reference's NL→SQL surface
exposes (sample_metadata.py:68-74); the reference delegates all graph
math to PostgreSQL — here they are engine operators.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..registry import register
from .relational import t

#: HITS iterations (unrolled in the oracle). Three sweeps separate
#: hubs from authorities on every fixture tier.
HITS_ITERS = 3
#: e9 fixed-point scale for HITS scores. Chosen so the hot product
#: raw*SCALE stays inside int64: after each normalization the score
#: TOTAL is SCALE, so the next raw sums are ≤ SCALE and raw*SCALE ≤
#: SCALE² = 1e18 < 2⁶³ (the first iteration starts from unit scores,
#: so its raws are plain degree counts). At 100 TB carry the products
#: as DECIMAL(38,0) — same plan.
HITS_SCALE = 10**9

#: Bellman–Ford rounds (graph diameter cover for the co-purchase
#: graph's giant component at the tested SFs; at scale, rounds become
#: a convergence loop with an empty-frontier early exit).
SSSP_ROUNDS = 4
#: Distance histogram bucket width (e6 cost units).
SSSP_BUCKET_E6 = 250_000

#: SSSP basket cap: the co-purchase edge build pairs items within an
#: order — per-key C(k,2), quadratic in basket size. Fixture baskets
#: max out at 17 distinct parts (sf0.1), but a skewed-basket corpus
#: (one mega-order touching 10^5 parts) would make that single key
#: emit 5·10^9 pairs. The cap excludes baskets above 64 distinct items
#: from the edge build in BOTH engines (same discipline as
#: AA_CENTER_CAP in graph_ext.py), so the pair stage is bounded at
#: cap²/2 rows per basket and the oracle check stays exact.
SSSP_BASKET_CAP = 64

_BIP_SQL = """
    bip AS (
        SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    )
"""


def _hits_oracle() -> str:
    steps = []
    prev_h = "h0"
    for k in range(1, HITS_ITERS + 1):
        steps.append(f"""
    ar{k} AS (
        SELECT b.p, CAST(SUM(h.score) AS BIGINT) AS raw
        FROM bip b JOIN {prev_h} h ON h.c = b.c GROUP BY b.p
    ),
    a{k} AS MATERIALIZED (
        SELECT p, raw * {HITS_SCALE} // (SELECT SUM(raw) FROM ar{k}) AS score
        FROM ar{k}
    ),
    hr{k} AS (
        SELECT b.c, CAST(SUM(a.score) AS BIGINT) AS raw
        FROM bip b JOIN a{k} a ON a.p = b.p GROUP BY b.c
    ),
    h{k} AS MATERIALIZED (
        SELECT c, raw * {HITS_SCALE} // (SELECT SUM(raw) FROM hr{k}) AS score
        FROM hr{k}
    )""")
        prev_h = f"h{k}"
    k = HITS_ITERS
    return f"""
    WITH {_BIP_SQL},
    h0 AS (
        SELECT c, CAST(1 AS BIGINT) AS score
        FROM (SELECT DISTINCT c FROM bip)
    ),
    {",".join(steps)},
    top_a AS (
        SELECT 'authority' AS kind, CAST(p AS BIGINT) AS node_id,
               CAST(score AS BIGINT) AS score_e9,
               ROW_NUMBER() OVER (ORDER BY score DESC, p) AS rnk
        FROM a{k} ORDER BY score DESC, p LIMIT 10
    ),
    top_h AS (
        SELECT 'hub' AS kind, CAST(c AS BIGINT) AS node_id,
               CAST(score AS BIGINT) AS score_e9,
               ROW_NUMBER() OVER (ORDER BY score DESC, c) AS rnk
        FROM h{k} ORDER BY score DESC, c LIMIT 10
    )
    SELECT kind, node_id, score_e9, CAST(rnk AS BIGINT) AS rnk FROM (
        SELECT * FROM top_a UNION ALL SELECT * FROM top_h
    )
    ORDER BY kind, rnk
    """


@register(
    "g_hits_bipartite",
    oracle=_hits_oracle(),
    survey_ids=("J2", "A1", "O4", "X4"),
)
def g_hits_bipartite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS over the customer→part purchase bipartite graph: 3
    synchronous sweeps of a ← Eᵀh, h ← Ea with L1 normalization in
    exact e9 fixed point (floor division by the score total — the
    sqrt-free HITS variant with the same ranking fixed point). Output
    is the top-10 authorities (parts) and top-10 hubs (customers) with
    deterministic (score DESC, id) tie order.

    Scale: each half-sweep is ONE keyed aggregate-join — edges join
    the current score vector on its key, partial-aggregate map-side,
    then floor-normalize by the driver-fetched scalar total; per-round state
    is one row per node, localCheckpointed to cut plan growth (the
    LPA/WCC discipline, graph_ext.py). Nothing node-sized ever reaches
    the driver; normalized scores are ≤ SCALE so int64 carries them
    (the pre-normalization sums get DECIMAL(38,0) at 100 TB).

    r16 (guide §2.4): the checkpoint moved from the NORMALIZED vector
    to the RAW aggregate-join output. The old spelling materialized
    `ar.crossJoin(broadcast(agg(ar)))`, so each checkpoint job built
    the expensive aggregate-join subtree under both the broadcast and
    the main side (AQE exchange reuse does not span the
    BroadcastExchange build there); checkpointing `ar` itself makes
    the 1-row total and the lazy normalization two cheap reads of the
    materialized state. Measured at sf0.1: 5.9 s -> 4.8 s best-of-3,
    identical top-10 rows.

    r17: the L1 total is fetched to the driver (a 1-row scalar off the
    MATERIALIZED checkpoint — algorithm state, like the k-means
    centroids) and inlined as a literal into the normalize projection,
    instead of riding a crossJoin(broadcast(1-row agg)): each
    half-sweep drops its BroadcastExchange build and the final plan
    loses both 1-row total subtrees. HITS is driver-sequenced either
    way — the scalar fetch adds no new synchronization barrier.
    In-process interleaved A/B (ABBA x2): min 5.44 -> 4.56 s, med
    6.22 -> 4.84 s, identical rows."""
    o = t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("ok"), F.col("o_custkey").alias("c")
    )
    li = t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("p")
    )
    bip = o.join(li, "ok").select("c", "p").distinct().localCheckpoint(
        eager=True
    )
    h = bip.select("c").distinct().select(
        "c", F.lit(1).cast("long").alias("score")
    )
    a = None
    for _ in range(HITS_ITERS):
        ar = (
            bip.join(h, "c")
            .groupBy("p")
            .agg(F.sum("score").cast("long").alias("raw"))
            .localCheckpoint(eager=True)
        )
        # SUM over an empty relation is NULL (a non-empty one is
        # positive); with no row to divide, any divisor serves
        a_tot = ar.agg(F.sum("raw").cast("long")).first()[0] or 1
        a = ar.select("p", F.expr(f"raw * {HITS_SCALE} div {a_tot}").alias("score"))
        hr = (
            bip.join(a, "p")
            .groupBy("c")
            .agg(F.sum("score").cast("long").alias("raw"))
            .localCheckpoint(eager=True)
        )
        h_tot = hr.agg(F.sum("raw").cast("long")).first()[0] or 1
        h = hr.select("c", F.expr(f"raw * {HITS_SCALE} div {h_tot}").alias("score"))
    top_a = (
        a.orderBy(F.desc("score"), "p")
        .limit(10)
        .select(
            F.lit("authority").alias("kind"),
            F.col("p").cast("long").alias("node_id"),
            F.col("score").cast("long").alias("score_e9"),
        )
        .withColumn(
            "rnk",
            F.row_number()
            .over(Window.orderBy(F.desc("score_e9"), "node_id"))
            .cast("long"),
        )
    )
    top_h = (
        h.orderBy(F.desc("score"), "c")
        .limit(10)
        .select(
            F.lit("hub").alias("kind"),
            F.col("c").cast("long").alias("node_id"),
            F.col("score").cast("long").alias("score_e9"),
        )
        .withColumn(
            "rnk",
            F.row_number()
            .over(Window.orderBy(F.desc("score_e9"), "node_id"))
            .cast("long"),
        )
    )
    return top_a.unionByName(top_h).orderBy("kind", "rnk")


def sssp_copurchase_edges(li: DataFrame) -> DataFrame:
    """Hub-capped co-purchase edge list (pa, pb, cnt) for the weighted
    SSSP: distinct (order, part) pairs, baskets above SSSP_BASKET_CAP
    distinct items excluded (see the constant's rationale), then the
    within-basket pair join. The cap filter is an aggregate on the
    same key the pair join shuffles on, so it rides the existing
    exchange; the planted-hot-basket pytest pins that a mega-basket
    contributes no pairs."""
    tri = li.select(
        F.col("l_orderkey").alias("ok"),
        F.col("l_partkey").alias("pk"),
    ).distinct()
    okb = (
        tri.groupBy("ok")
        .agg(F.count(F.lit(1)).cast("long").alias("nk"))
        .filter(F.col("nk") <= SSSP_BASKET_CAP)
        .select("ok")
    )
    capped = tri.join(okb, "ok")
    a = capped.select("ok", F.col("pk").alias("pa"))
    b = capped.select("ok", F.col("pk").alias("pb"))
    return (
        a.join(b, "ok")
        .filter(F.col("pa") < F.col("pb"))
        .select("ok", "pa", "pb")
        .distinct()
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


_WEDGES_SQL = f"""
    okb AS (
        SELECT l_orderkey FROM lineitem
        GROUP BY l_orderkey
        HAVING COUNT(DISTINCT l_partkey) <= {SSSP_BASKET_CAP}
    ),
    ew AS (
        SELECT a.l_partkey AS pa, b.l_partkey AS pb,
               CAST(COUNT(DISTINCT a.l_orderkey) AS BIGINT) AS cnt
        FROM lineitem a
        JOIN okb USING (l_orderkey)
        JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY a.l_partkey, b.l_partkey
    ),
    wsym AS (
        SELECT pa AS u, pb AS v, 1000000 // cnt AS cost_e6 FROM ew
        UNION ALL
        SELECT pb AS u, pa AS v, 1000000 // cnt AS cost_e6 FROM ew
    ),
    src AS (
        SELECT u AS s FROM wsym GROUP BY u
        ORDER BY COUNT(*) DESC, u LIMIT 1
    )
"""


def _sssp_oracle() -> str:
    steps = []
    for k in range(1, SSSP_ROUNDS + 1):
        steps.append(f"""
    d{k} AS MATERIALIZED (
        SELECT node, CAST(MIN(dist) AS BIGINT) AS dist FROM (
            SELECT node, dist FROM d{k - 1}
            UNION ALL
            SELECT w.v AS node, d.dist + w.cost_e6
            FROM d{k - 1} d JOIN wsym w ON w.u = d.node
        ) GROUP BY node
    )""")
    return f"""
    WITH {_WEDGES_SQL},
    d0 AS (SELECT s AS node, CAST(0 AS BIGINT) AS dist FROM src),
    {",".join(steps)}
    SELECT dist // {SSSP_BUCKET_E6} AS dist_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_nodes,
           CAST(MIN(dist) AS BIGINT) AS min_dist_e6,
           CAST(MAX(dist) AS BIGINT) AS max_dist_e6
    FROM d{SSSP_ROUNDS}
    GROUP BY dist_bucket ORDER BY dist_bucket
    """


@register(
    "g_sssp_weighted",
    oracle=_sssp_oracle(),
    survey_ids=("J3", "A1", "U1", "X4"),
)
def g_sssp_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted single-source shortest paths (Bellman–Ford, 4 unrolled
    rounds) from the co-purchase graph's max-degree hub, edge cost
    ``10⁶ // copurchase_count`` — frequently co-bought parts are
    "close". Output is the distance-bucket histogram (bucket width
    0.25 in e6 cost units) with per-bucket min/max — node-count
    bounded at ~max_dist/bucket rows, never a per-node fetch.

    Scale: each round is one aggregate-join (frontier ⋈ edges →
    min-combine with the standing distances) — the relational
    Bellman–Ford; per-round localCheckpoint cuts plan growth. Edge
    costs are exact integers (floor of the reciprocal count), the
    min() fold is order-free, and rounds are a fixed unroll matching
    the oracle's CTE chain (at 100 TB: convergence loop with an
    empty-frontier early exit — same per-round plan)."""
    li = t(spark, sf_dir, "lineitem")
    ew = sssp_copurchase_edges(li)
    wsym = (
        ew.select(
            F.col("pa").alias("u"),
            F.col("pb").alias("v"),
            F.expr("1000000 div cnt").alias("cost_e6"),
        )
        .unionAll(
            ew.select(
                F.col("pb").alias("u"),
                F.col("pa").alias("v"),
                F.expr("1000000 div cnt").alias("cost_e6"),
            )
        )
        .localCheckpoint(eager=True)
    )
    src = (
        wsym.groupBy("u")
        .agg(F.count(F.lit(1)).alias("deg"))
        .orderBy(F.desc("deg"), "u")
        .limit(1)
        .select(F.col("u").alias("node"), F.lit(0).cast("long").alias("dist"))
    )
    d = src.localCheckpoint(eager=True)
    for _ in range(SSSP_ROUNDS):
        relaxed = d.join(
            wsym, d["node"] == wsym["u"]
        ).select(
            F.col("v").alias("node"),
            (F.col("dist") + F.col("cost_e6")).alias("dist"),
        )
        d = (
            d.unionByName(relaxed)
            .groupBy("node")
            .agg(F.min("dist").cast("long").alias("dist"))
            .localCheckpoint(eager=True)
        )
    return (
        d.groupBy(
            F.expr(f"dist div {SSSP_BUCKET_E6}").alias("dist_bucket")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_nodes"),
            F.min("dist").cast("long").alias("min_dist_e6"),
            F.max("dist").cast("long").alias("max_dist_e6"),
        )
        .orderBy("dist_bucket")
    )
