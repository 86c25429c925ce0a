"""Group L extensions — time-series gap-fill (q97), graph triangle
census (q98), skyline/Pareto frontier (q99).

Three analytics shapes the round-1/2 registry did not yet cover:

- **q97**: resampling a sparse event stream onto a dense time spine
  with forward-fill — the feature-engineering step every
  training-data pipeline runs before windowed models (a missing
  bucket must become an explicit row, not an absent one).
- **q98**: triangle counting + global clustering coefficient over the
  parts-co-ordered-together graph — the classic "is this join graph
  community-shaped" analytics primitive (and the standard benchmark
  for worst-case-optimal joins; here expressed as two equi-joins).
- **q99**: 2-D skyline (Pareto frontier) — minimize price, maximize
  size — via a scale-safe running-max formulation instead of the
  quadratic NOT-EXISTS scan the oracle uses.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hearthstats_spark.functions import davg, favg_sql
from hearthstats_spark.io import load_table
from hearthstats_spark.queries.registry import register


@register(
    "q97_gap_fill",
    oracle=f"""
    WITH hourly AS (
        SELECT date_trunc('hour', ts) AS h, event_type,
               COUNT(*) AS n,
               {favg_sql('value', 'avg_value')}
        FROM events GROUP BY 1, 2
    ),
    bounds AS (
        SELECT MIN(date_trunc('hour', ts)) AS lo,
               MAX(date_trunc('hour', ts)) AS hi
        FROM events
    ),
    spine AS (
        SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h
        FROM bounds
    ),
    grid AS (
        SELECT s.h, t.event_type
        FROM spine s CROSS JOIN (SELECT DISTINCT event_type
                                 FROM events) t
    )
    SELECT strftime(g.h, '%Y-%m-%d %H:%M') AS hour_start,
           g.event_type,
           COALESCE(hy.n, 0) AS n,
           last_value(hy.avg_value IGNORE NULLS) OVER (
               PARTITION BY g.event_type ORDER BY g.h
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS value_ffill
    FROM grid g
    LEFT JOIN hourly hy ON g.h = hy.h AND g.event_type = hy.event_type
    """,
)
def q97_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled hourly resample per event_type: every (hour, type)
    cell of the dense spine gets a row; empty buckets carry n = 0 and
    the last seen avg_value (forward fill, NULL before the first
    observation).

    Spark shape: the spine is ``sequence()`` over a one-row min/max
    aggregate exploded (hours are metadata-sized at any data scale),
    cross-joined with the distinct type dimension, then one LEFT join
    against the hourly aggregate and a ``last(ignorenulls)`` window
    PARTITIONED by event_type — no global window. The per-bucket mean
    is the decimal-sum davg discipline so the forward-filled value is
    bit-identical across engines."""
    ev = load_table(spark, sf_dir, "events")
    hourly = (
        ev.groupBy(F.date_trunc("hour", "ts").alias("h"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), davg("value", "avg_value"))
    )
    spine = (
        ev.agg(F.min(F.date_trunc("hour", "ts")).alias("lo"),
               F.max(F.date_trunc("hour", "ts")).alias("hi"))
        .select(F.explode(F.sequence(
            "lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias("h"))
    )
    grid = spine.crossJoin(ev.select("event_type").distinct())
    w = (Window.partitionBy("event_type").orderBy("h")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (
        grid.join(hourly, ["h", "event_type"], "left")
        .select(
            F.date_format("h", "yyyy-MM-dd HH:mm").alias("hour_start"),
            "event_type",
            F.coalesce("n", F.lit(0)).alias("n"),
            F.last("avg_value", ignorenulls=True).over(w)
            .alias("value_ffill"),
        )
    )


#: Declared heavy-basket cap for the co-order graph: each order
#: contributes pairs among its BASKET_CAP smallest distinct parts
#: only. Part of the graph's semantics (both engines apply it), so
#: a single pathological mega-order (a returns feed, bot traffic, a
#: catalog-wide test order) contributes at most CAP·(CAP-1)/2 pairs
#: instead of basket² — the fan-out bound that keeps the expansion
#: linear-ish at 100 TB. TPC-H-shaped baskets hold ≤ 7 lines, so the
#: cap never binds on this corpus (edge set identical with/without).
BASKET_CAP = 64


def co_order_edges(spark: SparkSession, sf_dir: str,
                   basket_cap: int = BASKET_CAP) -> DataFrame:
    """Distinct undirected (a < b) part pairs co-occurring in some
    order — the shared edge builder for the graph queries (q98
    triangles, q108 PageRank).

    Formulation: per-order basket (`collect_set`), deterministic
    winsorization to the `basket_cap` smallest parts (sorted-slice —
    declared semantics, see BASKET_CAP), then map-side HOF pair
    expansion — ONE aggregation shuffle plus the pair distinct,
    instead of the lineitem self-join's join shuffle (measured ~2×:
    6.9 s → 3.8 s at sf0.1, identical 1.196M-edge output).

    Pairs ride the dedup shuffle PACKED into one BIGINT via the
    shared operators/pairs kernel (the constant's single home; see
    its precondition note — ids < 2³¹)."""
    from hearthstats_spark.operators.pairs import (
        capped_basket, packed_pairs, unpack_pair)

    basket = (load_table(spark, sf_dir, "lineitem")
              .groupBy("l_orderkey")
              .agg(*capped_basket("l_orderkey", "l_partkey", basket_cap)))
    packed = (basket.select(F.explode(packed_pairs("ps")).alias("pk"))
              .distinct())
    return packed.select(*unpack_pair("pk", "a", "b"))


@register(
    "q98_triangle_count",
    oracle="""
    WITH po0 AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    -- declared heavy-basket cap: pairs among each order's 64
    -- smallest distinct parts only (BASKET_CAP, both engines)
    po AS (
        SELECT l_orderkey, l_partkey
        FROM (SELECT l_orderkey, l_partkey,
                     row_number() OVER (PARTITION BY l_orderkey
                                        ORDER BY l_partkey) AS rn
              FROM po0)
        WHERE rn <= 64
    ),
    e AS (
        SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
        FROM po x JOIN po y
          ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
    ),
    deg AS (
        SELECT v, COUNT(*) AS d
        FROM (SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e)
        GROUP BY v
    ),
    tri AS (
        SELECT COUNT(*) AS t
        FROM e ab
        JOIN e bc ON ab.b = bc.a
        JOIN e ac ON ac.a = ab.a AND ac.b = bc.b
    ),
    w AS (SELECT CAST(SUM(d * (d - 1) // 2) AS BIGINT) AS wedges
          FROM deg)
    SELECT (SELECT COUNT(*) FROM e) AS n_edges,
           tri.t AS n_triangles,
           w.wedges AS n_wedges,
           ROUND(CAST(3 * tri.t AS DOUBLE) / w.wedges, 4)
               AS clustering_coef
    FROM tri, w
    """,
)
def q98_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the co-purchase graph (parts are adjacent
    when some order contains both): edge count, triangle count, wedge
    count, global clustering coefficient (3·triangles / wedges).

    Round 10: the closing join in operators/graph.triangle_census
    packs the wedge key into one BIGINT (see its docstring —
    measured −15% census wall at 2.96B wedges, identical counts);
    this note marks the file stale so the driver re-verifies q98
    behind the operator change (the asof.py round-9 precedent).

    Spark shape: edges come from the shared basket-expansion builder
    (`co_order_edges` — per-order fan-out is bounded by the declared
    BASKET_CAP winsorization, so one mega-order cannot go quadratic
    and the pair count stays linear-ish in orders). The triangle
    count enumerates out-wedges under DEGREE-ORDERED orientation
    (each edge points from its lower-(degree, id) endpoint): every
    triangle x≺y≺z appears exactly once as out-edges x→y, x→z closed
    by y→z, and the wedge fan-out per vertex is its ORIENTED
    out-degree — O(√m)-bounded, so one hub part can no longer emit
    degree² wedges (the id-ordered join it replaces measured 72M
    wedges vs 41M here at sf0.1, 7.5 s → 5.2 s; on a skewed 100 TB
    co-purchase graph the gap is the whole game). Orientation is a
    plan choice, not semantics — the triangle census is
    orientation-invariant, so the oracle keeps its a<b<c form.
    Degrees reuse the edge frame. One summary row out via
    broadcast-able single-row cross-joins (no driver .count()
    actions)."""
    from hearthstats_spark.operators.ann_index import persisted

    e = (
        # the co-purchase edge list is a deterministic pure function
        # of lineitem — a STANDING graph table at 100 TB (q142's
        # rationale): served from the persisted-artifact store,
        # content-keyed on lineitem with version=BASKET_CAP so a cap
        # change rebuilds instead of silently serving the old
        # winsorization. SPARK_GRAFT_ANN_CACHE=0 keeps the
        # self-contained rebuild lane.
        persisted(spark, sf_dir, "co_order_edges",
                  lambda: co_order_edges(spark, sf_dir),
                  table="lineitem", version=BASKET_CAP)
        # several DAG branches (edge count, degrees, orientation,
        # triangle join ×3) read the edge list; Spark does not reuse
        # the duplicated subplan, so materialize it once
        .localCheckpoint()
    )
    deg = (e.select(F.col("a").alias("v"))
           .unionAll(e.select(F.col("b").alias("v")))
           .groupBy("v").agg(F.count(F.lit(1)).alias("d"))
           # read by wedges + both orientation joins
           .localCheckpoint())
    wedges = deg.agg(
        F.sum(F.expr("d * (d - 1) div 2")).alias("n_wedges"))
    n_edges = e.agg(F.count(F.lit(1)).alias("n_edges"))
    da = deg.select(F.col("v").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("v").alias("b"), F.col("d").alias("db"))
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b")))
    from hearthstats_spark.operators.graph import (
        materialize, triangle_census)

    # hash-partition by src AND preserve that layout through the
    # checkpoint: the wedge self-join (src = src) then reads both
    # sides exchange-free — two edge-sized Exchanges gone (the
    # write-time-shuffle idea behind
    # sources/layout.write_bucketed applied to an in-query
    # materialization; plan-pinned in tests/test_layout.py)
    oriented = materialize(
        # deg is vertex-sized (SF-linear) — no broadcast hint; AQE
        # promotes these key-equi joins at runtime when the degree
        # frame fits (VERDICT r4 #1: a forced hint is never demoted)
        e.join(da, "a").join(db, "b")
        .select(
            F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("src"),
            F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("dst"),
            F.when(a_first, F.col("db")).otherwise(F.col("da"))
            .alias("d_dst"),
        ),
        "src")
    tri = triangle_census(oriented)
    return (
        n_edges.crossJoin(tri).crossJoin(wedges)
        .select(
            "n_edges", "n_triangles", "n_wedges",
            F.round((F.lit(3) * F.col("n_triangles")).cast("double")
                    / F.col("n_wedges"), 4).alias("clustering_coef"),
        )
    )


@register(
    "q99_skyline",
    oracle="""
    SELECT p.p_partkey,
           ROUND(p.p_retailprice, 4) AS price,
           p.p_size
    FROM part p
    WHERE NOT EXISTS (
        SELECT 1 FROM part q
        WHERE q.p_retailprice <= p.p_retailprice
          AND q.p_size >= p.p_size
          AND (q.p_retailprice < p.p_retailprice
               OR q.p_size > p.p_size)
    )
    """,
)
def q99_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline (Pareto frontier) over part: keep every part not
    strictly dominated under (minimize p_retailprice, maximize
    p_size). Ties on both axes survive together (neither dominates).

    The oracle is the textbook quadratic NOT-EXISTS scan; the Spark
    side is the scale-safe sort-free formulation: aggregate to one
    row per distinct price (max size), take the EXACT global running
    max of size over strictly-cheaper prices via the two-pass
    range-partitioned kernel (operators/rankops.with_global_running_max
    — per-bucket window + a ≤32-row broadcast bucket-prefix frame, no
    global single-task sort), then one broadcast-able join back:
    a part survives iff nothing strictly cheaper reaches its size
    (strict running max < size) and it tops its own price group."""
    from hearthstats_spark.operators.rankops import with_global_running_max

    part = load_table(spark, sf_dir, "part")
    per_price = (part.groupBy("p_retailprice")
                 .agg(F.max("p_size").alias("__gmax")))
    frontier_prices = with_global_running_max(
        per_price, "p_retailprice", "__gmax", out_col="__strictmax",
    )
    # no broadcast hint: the per-price frame is usually tiny but CAN
    # approach |part| when prices are near-unique — let AQE choose
    return (
        part.join(frontier_prices, "p_retailprice")
        .filter(
            (F.col("__strictmax").isNull()
             | (F.col("__strictmax") < F.col("p_size")))
            & (F.col("p_size") == F.col("__gmax"))
        )
        .select("p_partkey",
                F.round("p_retailprice", 4).alias("price"),
                "p_size")
    )


@register(
    "q100_rolling_distinct",
    oracle="""
    WITH hu AS (
        SELECT DISTINCT date_trunc('hour', ts) AS h, event_type, user_id
        FROM events
    ),
    contrib AS (
        SELECT DISTINCT event_type, user_id,
               h + i * INTERVAL 1 HOUR AS win
        FROM hu CROSS JOIN unnest(generate_series(0, 23)) t(i)
    )
    SELECT strftime(win, '%Y-%m-%d %H:%M') AS win_end_hour,
           event_type,
           COUNT(*) AS users_24h
    FROM contrib GROUP BY 1, 2
    """,
)
def q100_rolling_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-24h distinct active users per event_type, one row per
    (window-end hour, type) — the sliding DISTINCT aggregate SQL
    windows can't express (COUNT(DISTINCT) OVER a sliding frame).

    The oracle states the semantics as contribution expansion (each
    distinct (hour, type, user) triple contributes to the 24 windows
    ending at h..h+23); the ENGINE routes through the delta-sweep
    kernel (operators/rolling — q166's formulation) since
    optimization round 11: each user's active hours collapse to
    covered intervals emitting two deltas, so the window length
    multiplies only the type×hour grid, never the user-sized shuffle
    (guide §2.3; measured 3.46 → 2.75 s steady at sf0.1, and the gap
    grows with scale). The original expansion kernel remains in
    operators/rolling as the cross-check twin
    (tests/test_ext5.py::test_rolling_distinct_kernels_agree).
    Windows trailing past the last event keep their partial contents
    on both engines (no bounds filter — consistent, and avoids a
    one-row bounds cross-join)."""
    from hearthstats_spark.operators.rolling import rolling_distinct_delta

    return rolling_distinct_delta(load_table(spark, sf_dir, "events"))


@register(
    "q101_kmeans_assign",
    oracle="""
    WITH e AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ),
    cent AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
    pairs AS (
        SELECT e.vec_id, cent.cid,
               ROUND(list_sum(list_transform(
                   generate_series(1, len(e.v)),
                   i -> (e.v[i] - cent.cv[i]) * (e.v[i] - cent.cv[i])
               )), 4) AS d2
        FROM e CROSS JOIN cent
    ),
    assign AS (
        SELECT vec_id, cid, d2,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY d2, cid) AS rk
        FROM pairs
    )
    SELECT cid AS cluster_id,
           COUNT(*) AS n_members,
           ROUND(CAST(SUM(CAST(d2 AS DECIMAL(28,4))) AS DOUBLE)
                 / COUNT(*), 4) AS avg_dist2
    FROM assign WHERE rk = 1
    GROUP BY cid
    """,
)
def q101_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means ASSIGNMENT step (one Lloyd half-iteration) over the
    embedding table: nearest of k=8 deterministic centroids (the
    vec_id < 8 vectors) by squared L2, then per-cluster member count
    and mean squared distance — the embedding-clustering primitive a
    curation pipeline runs for diversity sampling / cluster-balanced
    mixing.

    Cross-engine exactness: both engines sum the squared diffs in
    index order in DOUBLE (bit-identical IEEE result), rank on the
    ROUNDED distance with cid as tie-break (q61's discipline), and
    aggregate the mean with the decimal-sum rule. Scale: k rows
    broadcast against the table (k-fan-out map side), one shuffle for
    the per-vector argmin window keyed by vec_id, one hash agg — the
    full Lloyd loop is this plan iterated with updated centroid
    literals (driver ships k×dim floats per round, metadata-sized)."""
    e = load_table(spark, sf_dir, "embeddings")
    v = F.transform("embedding", lambda x: x.cast("double"))
    base = e.select("vec_id", v.alias("v"))
    cent = (base.filter(F.col("vec_id") < 8)
            .select(F.col("vec_id").alias("cid"), F.col("v").alias("cv")))
    d2 = F.round(
        F.aggregate(
            F.zip_with("v", "cv", lambda x, y: (x - y) * (x - y)),
            F.lit(0.0), lambda acc, x: acc + x),
        4)
    w = Window.partitionBy("vec_id").orderBy("d2", "cid")
    assign = (
        base.crossJoin(F.broadcast(cent))
        .select("vec_id", "cid", d2.alias("d2"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
    )
    return (
        assign.groupBy(F.col("cid").alias("cluster_id"))
        .agg(F.count(F.lit(1)).alias("n_members"),
             F.round(F.sum(F.col("d2").cast("decimal(28,4)"))
                     .cast("double") / F.count(F.lit(1)), 4)
             .alias("avg_dist2"))
    )
