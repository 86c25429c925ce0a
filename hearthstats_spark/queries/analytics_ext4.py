"""Round-3 analytics extensions, batch 2 (q130–q136):

- **q130**: deterministic bottom-k sample — k rows per group chosen
  by smallest md5(key), the reproducible distributed substitute for
  reservoir sampling (same sample on every run, any partitioning,
  either engine).
- **q131**: Markov transition matrix over per-user event sequences —
  P(next event type | previous) from one lag window + one hash agg.
- **q132**: time-weighted average (TWAP) of the event value per user
  — each observation weighted by how long it was "current"
  (microsecond-exact integer weights).
- **q133**: Benford first-digit screen over order totals — observed
  leading-digit shares vs the Benford expectation, the classic
  fraud/synthetic-data smell test.
- **q134**: n-gram novelty scoring — per document, the share of its
  word-3-shingles that no lower-numbered document already contains
  (the incremental-crawl "is this new content?" metric).
- **q135**: 12-month EWMA of monthly revenue (α = 1/2) — exponential
  smoothing expressed as an exact integer-weighted window so both
  engines agree bit-for-bit.
- **q136**: containment near-dup join — document pairs where one
  side's word-5-shingle set is ≥ 80% contained in the other (the
  asymmetric quote/subset-dedup complement of q83's Jaccard).
- **q137**: statistical mode per group with a deterministic
  tie-break (built-in mode() ties are implementation-defined).
- **q138**: FORWARD as-of join (first matching event strictly after)
  via a (1, +∞) integer-µs range frame — the mirror of q13.
- **q139**: Count-Min Sketch frequency estimation (rows-only;
  est ≥ exact + εN bound unit-pinned) — the mergeable point-frequency
  sketch beside q84's HLL.
- **q140**: mergeable approx-quantile rollup via percentile_approx
  (rows-only; rank-error contract unit-pinned against q79's exact
  percentiles).
- **q141**: per-label embedding centroids (posexplode + one hash
  agg; negative-safe exact means via davg_signed).
- **q142**: log2-bucketed degree histogram of the co-purchase graph
  (integer bucket math — no float log2).
- **q143**: deterministic LISTAGG (top-k filter before the concat,
  sorted collect vs string_agg ORDER BY).
- **q144**: bounded BFS reachability (frontier-sized iterative
  joins; recursive-CTE oracle).
- **q145**: discrete percentiles — rank-at-ceil(q·n), never
  interpolated (the percentile_disc flavor q23/q79 don't cover).
- **q146**: running COUNT(DISTINCT) OVER via the first-occurrence
  marker rewrite (window-DISTINCT is unsupported everywhere).
- **q147**: quantity-weighted median (integer cumulative-weight
  comparisons, no /2).
- **q148**: two-proportion z-test (the A/B readout; IEEE-exact z).
- **q149**: SCD-2 point-in-time join (the consumer side of q96's
  history build — equi key + validity-range residual).
- **q150**: Gini revenue-concentration index per nation (integer
  rank coefficients × exact decimal sums).

Float discipline: every ratio in this module is an exact
decimal/integer half-up rounding (functions.numeric.dratio /
fratio_sql) — ratios of small integers are precisely the
cross-engine ROUND trap q97 hit (n/32 terminates one digit past the
rounding point).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hearthstats_spark.functions import (
    davg, davg_signed, dratio, favg_signed_sql, favg_sql, fratio_sql,
)
from hearthstats_spark.functions.numeric import DEC
from hearthstats_spark.io import load_table
from hearthstats_spark.queries.registry import register

_K = 8          # q130 sample size per group
_SALT = 64      # q130 phase-1 fan-out
_EWMA_SPAN = 12  # q135 lookback months


@register(
    "q130_sample_bottomk",
    oracle=f"""
    WITH h AS (
        SELECT o_orderpriority AS priority, o_orderkey, o_totalprice,
               md5(CAST(o_orderkey AS VARCHAR)) AS hh
        FROM orders
    ),
    r AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY priority
                                     ORDER BY hh, o_orderkey) AS pos
        FROM h
    )
    SELECT priority, CAST(pos AS INT) AS pos, o_orderkey, o_totalprice
    FROM r WHERE pos <= {_K}
    """,
)
def q130_sample_bottomk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic bottom-k sample: the k orders per priority with
    the smallest md5(orderkey). Statistically a uniform k-sample
    (the hash is uniform and independent of every payload column),
    but — unlike rand()/reservoir approaches — reproducible across
    runs, partitionings, and engines, so it can be oracle-checked
    hash-exact.

    Scale: the oracle's single window per group would sort each
    group globally; the engine instead prunes in two phases — a
    bottom-k inside each of {_SALT} hash-independent salt slices
    (full parallelism, bounded memory), then a final bottom-k over
    the <= k·{_SALT} survivors per group. The global bottom-k is a
    subset of the union of per-slice bottom-ks, so the prune is
    lossless; survivors per group are O(k·salt) regardless of input
    size."""
    o = load_table(spark, sf_dir, "orders")
    base = o.select(
        F.col("o_orderpriority").alias("priority"),
        "o_orderkey", "o_totalprice",
        F.md5(F.col("o_orderkey").cast("string")).alias("__h"),
        F.pmod("o_orderkey", F.lit(_SALT)).alias("__salt"),
    )
    w1 = (Window.partitionBy("priority", "__salt")
          .orderBy("__h", "o_orderkey"))
    cand = (base.withColumn("__rn", F.row_number().over(w1))
            .filter(F.col("__rn") <= _K))
    w2 = Window.partitionBy("priority").orderBy("__h", "o_orderkey")
    return (
        cand.withColumn("pos", F.row_number().over(w2).cast("int"))
        .filter(F.col("pos") <= _K)
        .select("priority", "pos", "o_orderkey", "o_totalprice")
    )


@register(
    "q131_markov_transitions",
    oracle=f"""
    WITH seq AS (
        SELECT event_type AS next_type,
               LAG(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev_type
        FROM events
    ),
    t AS (
        SELECT prev_type, next_type, COUNT(*) AS n
        FROM seq WHERE prev_type IS NOT NULL
        GROUP BY 1, 2
    )
    SELECT prev_type, next_type, CAST(n AS BIGINT) AS n,
           {fratio_sql('n', 'SUM(n) OVER (PARTITION BY prev_type)',
                       'prob')}
    FROM t
    """,
)
def q131_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over event types: for
    each (prev → next) pair, the observed count and the conditional
    probability P(next | prev).

    One lag window keyed by user (the sessionization shuffle every
    sequence model shares), one |types|²-sized hash agg, and a
    window ratio over the tiny transition frame. The probability is
    an exact integer half-up division — counts divided by counts is
    the worst cross-engine ROUND case (see module docstring)."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = (e.select(F.col("event_type").alias("next_type"),
                    F.lag("event_type").over(w).alias("prev_type"))
           .filter(F.col("prev_type").isNotNull()))
    t = (seq.groupBy("prev_type", "next_type")
         .agg(F.count(F.lit(1)).alias("n")))
    den = F.sum("n").over(Window.partitionBy("prev_type"))
    return t.select(
        "prev_type", "next_type", F.col("n").cast("bigint").alias("n"),
        dratio(F.col("n"), den, "prob"),
    )


@register(
    "q132_twap",
    oracle=f"""
    WITH seg AS (
        SELECT user_id, value,
               epoch_us(LEAD(ts) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id))
                   - epoch_us(ts) AS dt_us
        FROM events
    ),
    g AS (
        SELECT user_id, COUNT(*) AS n_seg,
               SUM(CAST(value * dt_us AS DECIMAL(28,4))) AS num,
               SUM(dt_us) AS den
        FROM seg WHERE dt_us > 0
        GROUP BY 1
    )
    SELECT user_id, CAST(n_seg AS BIGINT) AS n_seg,
           {fratio_sql('den', '1000000', 'obs_s')},
           {fratio_sql('num', 'den', 'twap')}
    FROM g
    """,
)
def q132_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user time-weighted average value: each event's value is
    weighted by the microseconds until the user's next event (the
    last event of a user carries no weight — it was never
    superseded). TWAP = Σ(value·Δt) / Σ(Δt).

    The weights stay integer microseconds end to end (no float
    seconds conversion mid-stream), the numerator is a per-row
    4-dp decimal cast + exact decimal sum, and both final ratios
    are exact integer half-up divisions — the whole query is
    deterministic integer/decimal arithmetic until the final double.
    One lag-window shuffle on user_id + one hash agg."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seg = (e.select("user_id", "value", "event_id", "ts",
                    F.unix_micros("ts").alias("__us"))
           .withColumn("dt_us", F.lead("__us").over(w) - F.col("__us"))
           # strictly positive durations only: a zero-length segment
           # carries zero weight anyway, and a user whose segments
           # are ALL zero would otherwise hit dratio's den=0 (ANSI
           # divide-by-zero on Spark vs NULL on DuckDB) — dropping
           # the group entirely is the same declared answer on both
           .filter(F.col("dt_us") > 0))
    g = seg.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_seg"),
        F.sum((F.col("value") * F.col("dt_us")).cast(DEC)).alias("__num"),
        F.sum("dt_us").alias("__den"),
    )
    return g.select(
        "user_id", F.col("n_seg").cast("bigint").alias("n_seg"),
        dratio(F.col("__den"), F.lit(1_000_000), "obs_s"),
        dratio(F.col("__num"), F.col("__den"), "twap"),
    )


#: Benford expected leading-digit shares, log10(1 + 1/d) rounded to
#: 4 dp at module import — injected as IDENTICAL literals into both
#: engines so no libm call ever runs inside a query.
_BENFORD = {d: round(math.log10(1.0 + 1.0 / d), 4) for d in range(1, 10)}


@register(
    "q133_benford_digits",
    oracle=f"""
    WITH c AS (
        -- ABS first: Benford's law is a statement about MAGNITUDES,
        -- and without it a refund/chargeback row makes the leading
        -- "digit" the '-' sign — an ANSI cast abort on the engine
        -- side (negated-measures audit, round 8)
        SELECT CAST(SUBSTRING(CAST(CAST(FLOOR(ABS(o_totalprice))
                                        AS BIGINT)
                                   AS VARCHAR), 1, 1) AS INT) AS digit,
               COUNT(*) AS n
        FROM orders GROUP BY 1
    ),
    t AS (SELECT SUM(n) AS total FROM c),
    s AS (
        SELECT digit, CAST(n AS BIGINT) AS n,
               {fratio_sql('n', 'total', 'share')},
               CASE digit {' '.join(
                   f'WHEN {d} THEN {v:.4f}' for d, v in _BENFORD.items())}
               END AS expected
        FROM c, t
    )
    SELECT digit, n, share, expected,
           ROUND(share - expected, 4) AS deviation
    FROM s
    """,
)
def q133_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law screen: distribution of the leading digit of
    o_totalprice vs the expected log10(1+1/d) share. The leading
    digit comes from the INTEGER part's string form (integer→string
    is identical across engines; double formatting is not), the
    share is an exact integer half-up ratio, and the expectations
    are 4-dp literals baked at module import — the deviation is then
    a difference of two exactly-4-dp doubles, which ROUND(,4) maps
    identically on both engines (the nearest rounding boundary is
    5·10⁻⁵ away, float noise is ~10⁻¹⁷).

    Scale: one map-side digit extraction + a 9-row hash agg; the
    total rides back on a 1-row broadcast (scalar-subquery shape,
    q122's pattern — no global window)."""
    o = load_table(spark, sf_dir, "orders")
    # ABS first (both engines): magnitudes, and '-' is not a digit
    digit = F.substring(
        F.floor(F.abs(F.col("o_totalprice"))).cast("long").cast("string"),
        1, 1,
    ).cast("int")
    counts = (o.select(digit.alias("digit"))
              .groupBy("digit").agg(F.count(F.lit(1)).alias("n")))
    tot = counts.agg(F.sum("n").alias("__total"))
    expected = F.col("digit")
    expr = None
    for d, v in _BENFORD.items():
        expr = (F.when(expected == d, F.lit(v)) if expr is None
                else expr.when(expected == d, F.lit(v)))
    s = (counts.crossJoin(F.broadcast(tot))
         .select("digit", F.col("n").cast("bigint").alias("n"),
                 dratio(F.col("n"), F.col("__total"), "share"),
                 expr.alias("expected")))
    return s.withColumn(
        "deviation", F.round(F.col("share") - F.col("expected"), 4))


@register(
    "q134_ngram_novelty",
    oracle=f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
                  FROM documents WHERE text IS NOT NULL),
    sh AS (SELECT DISTINCT doc_id, array_to_string(t[i+1:i+3], ' ') AS s
           FROM toks CROSS JOIN generate_series(0, 4096) g(i)
           WHERE i <= greatest(len(t) - 3, 0)),
    f AS (SELECT s, MIN(doc_id) AS first_doc FROM sh GROUP BY s)
    SELECT sh.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(SUM(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel,
           {favg_sql('CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END',
                     'novelty')}
    FROM sh JOIN f USING (s)
    GROUP BY 1
    """,
)
def q134_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty: the share of a doc's distinct
    word-3-shingles whose FIRST owner (minimum doc_id — ingestion
    order) is the doc itself. New/boilerplate content scoring for
    incremental crawls: novelty 1.0 = all-new text, ~0 = the doc is
    assembled from already-seen phrasing.

    Plan: one shingle explode, a vocabulary-sized min-agg (first
    owner per shingle), an equi join back on the shingle, and a
    per-doc mean of an indicator — the mean is davg's exact integer
    half-up rounding because shingle counts are exactly the small
    denominators that break float ROUND. Linear shuffles only; the
    vocabulary agg is the same shape q53's document-frequency side
    uses."""
    from hearthstats_spark.operators.dedup import shingles

    d = load_table(spark, sf_dir, "documents")
    # xxhash64 the shingle at the source: the vocab agg and the join
    # back shuffle 8-byte longs, not strings (the same collision
    # argument as operators/dedup.prefix_filtered_jaccard_pairs —
    # first-owner and count semantics survive any injective mapping)
    # cached: the first-owner agg AND the join-back read this frame,
    # and Spark does not reuse the duplicated explode subplan (q83's
    # precedent; measured ~35% off the query at sf0.1)
    sh = d.select(
        "doc_id",
        F.explode(F.transform(shingles("text", 3),
                              lambda s: F.xxhash64(s))).alias("s")).cache()
    # optimization round 11 (guide §2.3): a single-owner shingle is
    # ALWAYS novel (its min owner is its only owner), so the join
    # back only needs the SHARED vocabulary — filter the agg to
    # ≥ 2 owners (sh is per-doc distinct, so count(*) counts owners)
    # and left-join: an unmatched shingle is novel by the argument
    # above. The build side shrinks from the full vocabulary to the
    # shared vocabulary (most of a natural corpus is unique), which
    # cuts the s-keyed exchange and lets AQE broadcast the remainder
    # when it fits. Same indicator by construction.
    firsts = (sh.groupBy("s")
              .agg(F.min("doc_id").alias("first_doc"),
                   F.count(F.lit(1)).alias("__nown"))
              .filter(F.col("__nown") >= 2)
              .select("s", "first_doc"))
    j = sh.join(firsts, "s", "left_outer")
    ind = F.when(F.col("first_doc").isNull()
                 | (F.col("first_doc") == F.col("doc_id")), 1).otherwise(0)
    return j.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
        F.sum(ind).cast("bigint").alias("n_novel"),
        davg(ind, "novelty"),
    )


@register(
    "q135_ewma_revenue",
    oracle=f"""
    WITH monthly AS (
        SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m')
                   AS month,
               SUM(CAST(o_totalprice AS DECIMAL(28,4))) AS rev
        FROM orders GROUP BY 1
    ),
    m AS (SELECT month, rev,
                 ROW_NUMBER() OVER (ORDER BY month) AS idx
          FROM monthly),
    c AS (
        SELECT m.idx + g.off AS i_idx,
               SUM(m.rev * CAST(POWER(2, {_EWMA_SPAN - 1} - g.off)
                                AS BIGINT)) AS num,
               SUM(CAST(POWER(2, {_EWMA_SPAN - 1} - g.off) AS BIGINT))
                   AS den
        FROM m CROSS JOIN generate_series(0, {_EWMA_SPAN - 1}) g(off)
        GROUP BY 1
    )
    SELECT m.month, CAST(m.rev AS DOUBLE) AS revenue,
           {fratio_sql('c.num', 'c.den', 'ewma12')}
    FROM m JOIN c ON c.i_idx = m.idx
    """,
)
def q135_ewma_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """12-month exponentially weighted moving average of monthly
    order revenue, α = 1/2 (pandas ewm adjust=True semantics,
    truncated to a {_EWMA_SPAN}-month lookback: weights 2⁰…2¹¹ over
    the trailing window, normalized by their own sum).

    α = 1/2 is chosen deliberately: the weights are exact integers
    (2^k), so numerator and denominator stay in exact decimal/
    integer arithmetic and the EWMA is one exact half-up division —
    no pow() of floats inside the query on either engine.

    Shape: calendar-month agg (bounded by the calendar, not the
    data), then each month's revenue is EXPLODED into the ≤ 12
    future months it contributes to — an equi-join/hash-agg
    formulation of the weighted window that needs no self-join and
    no window frame with per-row weights (which SQL windows cannot
    express). At 100 TB the monthly frame is ~tens of rows; every
    heavy operation happens before it."""
    o = load_table(spark, sf_dir, "orders")
    monthly = (o.groupBy(
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM")
        .alias("month"))
        .agg(F.sum(F.col("o_totalprice").cast(DEC)).alias("__rev")))
    mm = monthly.withColumn(
        "__idx", F.row_number().over(Window.orderBy("month")))
    span = _EWMA_SPAN
    w = F.pow(F.lit(2.0), F.lit(span - 1) - F.col("off")).cast("long")
    contrib = (mm.select(
        "__idx", "__rev",
        F.explode(F.sequence(F.lit(0), F.lit(span - 1))).alias("off"))
        .select((F.col("__idx") + F.col("off")).alias("i_idx"),
                (F.col("__rev") * w).alias("__wrev"),
                w.alias("__w")))
    c = contrib.groupBy("i_idx").agg(
        F.sum("__wrev").alias("__num"), F.sum("__w").alias("__den"))
    return (
        mm.join(c, mm["__idx"] == c["i_idx"])
        .select("month", F.col("__rev").cast("double").alias("revenue"),
                dratio(F.col("__num"), F.col("__den"), "ewma12"))
    )


@register(
    "q136_dedup_containment",
    oracle=f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
                  FROM documents WHERE text IS NOT NULL),
    sh AS (SELECT DISTINCT doc_id, array_to_string(t[i+1:i+5], ' ') AS s
           FROM toks CROSS JOIN generate_series(0, 4096) g(i)
           WHERE i <= greatest(len(t) - 5, 0)),
    sz AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1),
    p AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    j AS (
        SELECT p.id_a, p.id_b, CAST(p.shared AS BIGINT) AS shared,
               CAST(za.sz AS BIGINT) AS sz_a,
               CAST(zb.sz AS BIGINT) AS sz_b,
               {fratio_sql('p.shared', 'za.sz', 'cont_a')},
               {fratio_sql('p.shared', 'zb.sz', 'cont_b')}
        FROM p JOIN sz za ON za.doc_id = p.id_a
               JOIN sz zb ON zb.doc_id = p.id_b
    )
    SELECT * FROM j WHERE GREATEST(cont_a, cont_b) >= 0.8
    """,
)
def q136_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment near-dup join: ordered doc pairs where at least
    80% of one side's distinct word-5-shingles appear in the other.
    Containment is the asymmetric complement of q83's Jaccard — it
    catches quote/subset duplication (doc B embeds doc A verbatim)
    that symmetric Jaccard dilutes away when |B| >> |A|.

    Plan: distinct (doc, shingle) explode, an equi self-join on the
    shingle (any pair with containment > 0 shares >= 1 shingle, so
    the candidate set is lossless), pair-count agg, two size joins,
    then the threshold on exactly-rounded ratios (both engines
    compare identical doubles). Fan-out is bounded by shingle
    document frequency; at 100 TB the q83 AllPairs prefix filter
    (operators/dedup.py) drops the join to each doc's rarest
    shingles first — same candidates above any fixed threshold,
    strictly less join traffic."""
    from hearthstats_spark.operators.dedup import shingles

    d = load_table(spark, sf_dir, "documents")
    # hashed shingle join key — same width/collision rationale as
    # q134 / operators/dedup.prefix_filtered_jaccard_pairs
    # cached: sizes + BOTH self-join sides read this frame (three
    # subplan copies otherwise — q83's precedent)
    sh = d.select(
        "doc_id",
        F.explode(F.transform(shingles("text", 5),
                              lambda s: F.xxhash64(s))).alias("s")).cache()
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    a, b = sh.alias("a"), sh.alias("b")
    pairs = (
        a.join(b, (F.col("a.s") == F.col("b.s"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("id_a"),
                 F.col("b.doc_id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    za = sizes.select(F.col("doc_id").alias("id_a"),
                      F.col("sz").alias("sz_a"))
    zb = sizes.select(F.col("doc_id").alias("id_b"),
                      F.col("sz").alias("sz_b"))
    j = (pairs.join(za, "id_a").join(zb, "id_b")
         .select("id_a", "id_b",
                 F.col("shared").cast("bigint").alias("shared"),
                 F.col("sz_a").cast("bigint").alias("sz_a"),
                 F.col("sz_b").cast("bigint").alias("sz_b"),
                 dratio(F.col("shared"), F.col("sz_a"), "cont_a"),
                 dratio(F.col("shared"), F.col("sz_b"), "cont_b")))
    return j.filter(F.greatest("cont_a", "cont_b") >= 0.8)


@register(
    "q137_grouped_mode",
    oracle="""
    WITH c AS (
        SELECT event_type,
               TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
               COUNT(*) AS n
        FROM events GROUP BY 1, 2
    ),
    r AS (
        SELECT event_type, k, n,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY n DESC, k NULLS LAST) AS rk
        FROM c
    )
    SELECT event_type, k AS mode_k, CAST(n AS BIGINT) AS n
    FROM r WHERE rk = 1
    """,
)
def q137_grouped_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical MODE per group — the most frequent payload key per
    event type, with a DETERMINISTIC tie-break (smallest key wins).
    Neither engine's built-in mode()/F.mode is usable cross-engine:
    both leave ties implementation-defined, so the mode is computed
    as count-then-rank, which also generalizes to top-k modes.

    Scale: one (group, value) hash agg — the heavy pass, fully
    partial-aggregated — then a window over the group×distinct-value
    frame (bounded by value cardinality, not row count)."""
    e = load_table(spark, sf_dir, "events")
    c = (e.select("event_type",
                  # try_cast: a malformed payload key becomes a NULL
                  # group instead of an ANSI cast error (the oracle's
                  # TRY_CAST twin, q107's discipline)
                  F.get_json_object("props", "$.k").try_cast("bigint")
                  .alias("k"))
         .groupBy("event_type", "k").agg(F.count(F.lit(1)).alias("n")))
    # NULLS LAST explicitly: Spark sorts NULL first ascending, DuckDB
    # last — a NULL group tying for the top count would otherwise
    # pick different modes per engine
    w = Window.partitionBy("event_type").orderBy(
        F.col("n").desc(), F.col("k").asc_nulls_last())
    return (c.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") == 1)
            .select("event_type", F.col("k").alias("mode_k"),
                    F.col("n").cast("bigint").alias("n")))


@register(
    "q138_join_asof_forward",
    oracle=f"""
    WITH p AS (SELECT event_id, user_id, ts FROM events
               WHERE event_type = 'purchase'),
    x AS (
        SELECT p.event_id, p.user_id, p.ts,
               (SELECT MIN(e.ts) FROM events e
                WHERE e.user_id = p.user_id AND e.event_type = 'error'
                  AND e.ts > p.ts) AS next_error_ts
        FROM p
    )
    SELECT event_id, user_id, ts, next_error_ts,
           CASE WHEN next_error_ts IS NULL THEN NULL
                ELSE {fratio_sql(
                    "epoch_us(next_error_ts) - epoch_us(ts)",
                    "1000000", "gap_s").replace(" AS gap_s", "")}
           END AS gap_s
    FROM x
    """,
)
def q138_join_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join: for every purchase, the user's first
    'error' event STRICTLY AFTER it (time-to-failure analysis — the
    mirror of q13's backward as-of, which Spark also lacks natively).

    Formulation: one event-time window per user with a RANGE frame
    over integer microseconds ``(1, +∞)`` — strictly-after semantics
    exactly, no self-join, no per-row subquery. The conditional MIN
    inside the frame only sees error timestamps. The oracle keeps
    the textbook correlated-subquery form (DuckDB decorrelates it);
    gap seconds use the exact integer half-up ratio.

    Scale: single user-keyed window shuffle — same budget as any
    sessionization pass; the range frame is monotone so Spark
    evaluates it with a sliding pointer, not a rescan."""
    e = load_table(spark, sf_dir, "events")
    base = e.select("event_id", "user_id", "ts", "event_type",
                    F.unix_micros("ts").alias("__us"))
    w = (Window.partitionBy("user_id").orderBy("__us")
         .rangeBetween(1, Window.unboundedFollowing))
    # a NULL user is not an entity: its error events are match
    # candidates for nothing (the oracle's `e.user_id = p.user_id`
    # never equals NULL; the NULL window partition would otherwise
    # serve them to NULL-user purchases — null-keys degenerate axis)
    err_us = F.when((F.col("event_type") == "error")
                    & F.col("user_id").isNotNull(), F.col("__us"))
    withnext = base.withColumn("__next_us", F.min(err_us).over(w))
    gap = dratio(F.col("__next_us") - F.col("__us"),
                 F.lit(1_000_000), "gap_s")
    return (
        withnext.filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "ts",
                F.timestamp_micros("__next_us").alias("next_error_ts"),
                F.when(F.col("__next_us").isNotNull(), gap)
                .alias("gap_s"))
    )


_CMS_W = 2048          # q139 sketch width (buckets per row)
_CMS_D = 4             # q139 sketch depth (independent hash rows)
_CMS_P = 2_147_483_647  # 2^31 - 1, same Carter-Wegman field as q118


def _cms_hash(j: int, col):
    """Row-j Carter-Wegman bucket hash onto [0, _CMS_W): deterministic
    a_j·x + c_j mod p mod w — pairwise-independent per row, identical
    integer arithmetic on any engine/run."""
    a = (j * 2_654_435_761 + 1_013_904_223) % _CMS_P or 1
    c = (j * 97_531 + 12_345) % _CMS_P
    # reduce the item into the field FIRST: a*(p-1) stays under
    # 2^63, where a*raw_item overflows (ANSI arithmetic error) for
    # 64-bit ids — the natural input of a frequency sketch
    x = F.pmod(col, F.lit(_CMS_P))
    return F.pmod(F.pmod(F.lit(a) * x + F.lit(c), F.lit(_CMS_P)),
                  F.lit(_CMS_W))


#: q139's oracle recomputes the IDENTICAL sketch in DuckDB: the CMS
#: here is pure deterministic integer arithmetic (Carter-Wegman
#: hashes on bigint items, counts, min) with no engine-specific
#: randomness, so — unlike HLL/GK (q84/q140/q151/q177, whose
#: estimates only get bound booleans) — the ESTIMATE itself is
#: cross-engine hashable, the q118 exact-minhash precedent. The
#: (a_j, c_j) row constants are inlined from _cms_hash's derivation
#: (j·2654435761 + 1013904223 mod p or 1, j·97531 + 12345 mod p);
#: tests/test_ext4.py re-derives them against _cms_hash so the SQL
#: literal can't drift from the Python.
_CMS_ORACLE = """
WITH items AS (
    SELECT TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS item
    FROM events
    WHERE TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)
          IS NOT NULL
),
hj AS (
    SELECT * FROM (VALUES
        (0, 1013904223, 12345),
        (1, 1520856337, 109876),
        (2, 2027808451, 207407),
        (3, 387276918, 304938)) t(j, a, c)
),
-- pmod twice, exactly _cms_hash: reduce the item into the field
-- first so a*x stays under 2^63
hashed AS (
    SELECT item, j,
           ((a * (((item % 2147483647) + 2147483647) % 2147483647)
             + c) % 2147483647) % 2048 AS b
    FROM items CROSS JOIN hj
),
sketch AS (SELECT j, b, COUNT(*) AS cell FROM hashed GROUP BY j, b),
top AS (
    SELECT item, COUNT(*) AS n_exact
    FROM items GROUP BY item
    ORDER BY n_exact DESC, item LIMIT 10
),
probes AS (
    SELECT t.item, t.n_exact, hj.j,
           ((hj.a * (((t.item % 2147483647) + 2147483647)
                     % 2147483647)
             + hj.c) % 2147483647) % 2048 AS b
    FROM top t CROSS JOIN hj
),
est AS (
    SELECT p.item, p.n_exact, MIN(s.cell) AS n_est
    FROM probes p JOIN sketch s ON s.j = p.j AND s.b = p.b
    GROUP BY 1, 2
)
SELECT item,
       CAST(n_exact AS BIGINT) AS n_exact,
       CAST(n_est AS BIGINT) AS n_est,
       CAST(n_est - n_exact AS BIGINT) AS est_over
FROM est
"""


@register("q139_sketch_cms", oracle=_CMS_ORACLE)
def q139_sketch_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min Sketch frequency estimation over the event payload
    keys — the mergeable point-frequency sketch (Cormode &
    Muthukrishnan '05) that answers "how often did item x occur?" in
    O(d·w) space at any input size, the way q84's HLL answers
    distinct counts.

    DataFrame-native build: explode each item into its {_CMS_D} row
    hashes → ONE hash agg over (row, bucket) = the sketch table
    (≤ d·w cells; partial aggregation IS the sketch merge — shards
    combine by cell addition, so the same query shape unions across
    days/sources for free). Estimation joins each probe item's d
    cells and takes the min. Fully oracle-checked since round 10:
    the sketch is deterministic integer arithmetic, so DuckDB
    recomputes the identical estimate (_CMS_ORACLE above). The CMS
    guarantees est ≥ exact and P[est > exact + 2N/w] < (1/2)^d —
    both pinned in tests/test_ext4.py against exact counts.

    Output: the top-10 exact-count items with exact n and CMS
    estimate side by side (est_over = est - exact >= 0)."""
    e = load_table(spark, sf_dir, "events")
    # cached: the sketch build and the exact top-10 both scan this
    # frame, and the JSON extraction is the expensive part (q134's
    # no-subplan-reuse rationale); try_cast per q137
    items = e.select(
        F.get_json_object("props", "$.k").try_cast("bigint").alias("item")
    ).filter(F.col("item").isNotNull()).cache()
    rows = items.select(
        "item",
        F.explode(F.array(*[
            F.struct(F.lit(j).alias("j"),
                     _cms_hash(j, F.col("item")).alias("b"))
            for j in range(_CMS_D)])).alias("h"))
    sketch = (rows.select("h.j", "h.b")
              .groupBy("j", "b").agg(F.count(F.lit(1)).alias("cell")))
    top = (items.groupBy("item").agg(F.count(F.lit(1)).alias("n_exact"))
           .orderBy(F.col("n_exact").desc(), "item").limit(10))
    probes = top.select(
        "item", "n_exact",
        F.explode(F.array(*[
            F.struct(F.lit(j).alias("j"),
                     _cms_hash(j, F.col("item")).alias("b"))
            for j in range(_CMS_D)])).alias("h"))
    est = (probes.select("item", "n_exact", "h.j", "h.b")
           .join(F.broadcast(sketch), ["j", "b"])
           .groupBy("item", "n_exact")
           .agg(F.min("cell").alias("n_est")))
    return (est.select(
        "item", "n_exact", "n_est",
        (F.col("n_est") - F.col("n_exact")).alias("est_over"))
        .orderBy(F.col("n_exact").desc(), "item"))


_Q140_ACC = 10_000  # percentile_approx accuracy (rank error ≤ n/acc)


def _quantile_rollup_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q140's SKETCH lane, unchanged from its rows-only era: p50/p95
    of o_totalprice per order priority AND the all-priorities total
    in one ``rollup`` pass via ``percentile_approx`` (Greenwald-
    Khanna style mergeable summaries — the partial-agg pair merges
    per-group sketches, which is why this shape scales to 100 TB
    where exact grouped percentiles (q79) need a full sort per
    group). The exact twin below rides the SAME rollup agg; grouping
    flag + raw key disambiguate the ALL row from a NULL-priority
    group (q18's rollup discipline)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.rollup("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count("o_totalprice").alias("nv"),
            F.percentile_approx("o_totalprice", 0.5, _Q140_ACC)
            .alias("p50"),
            F.percentile_approx("o_totalprice", 0.95, _Q140_ACC)
            .alias("p95"),
            F.round(F.percentile("o_totalprice", 0.5), 4)
            .alias("p50_exact"),
            F.round(F.percentile("o_totalprice", 0.95), 4)
            .alias("p95_exact"),
            F.grouping("o_orderpriority").cast("int").alias("g_all"),
        )
        .withColumn("k", F.col("o_orderpriority"))
    )


@register(
    "q140_sketch_quantile_rollup",
    # exact columns recomputed by DuckDB; the sketch values are GK-
    # placement-specific (DuckDB's approx_quantile is t-digest), so
    # they are checked as in-plan rank-error booleans instead
    # (sketches.py module docstring policy). HAVING mirrors Spark's
    # no-grand-total-on-empty rollup semantics (q18 precedent).
    oracle="""
    SELECT CASE WHEN GROUPING(o_orderpriority) = 1 THEN 'ALL'
                ELSE COALESCE(o_orderpriority, '<NULL>') END
               AS priority,
           CAST(GROUPING(o_orderpriority) AS INT) AS g_all,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(quantile_cont(o_totalprice, 0.5), 4) AS p50_exact,
           ROUND(quantile_cont(o_totalprice, 0.95), 4) AS p95_exact,
           TRUE AS p50_rank_ok,
           TRUE AS p95_rank_ok
    FROM orders
    GROUP BY ROLLUP (o_orderpriority)
    HAVING COUNT(*) > 0
    """,
)
def q140_sketch_quantile_rollup(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Mergeable approximate-quantile rollup with an oracle-checked
    exact twin (upgraded round 10, VERDICT r9 item 5).

    The hashed columns are the EXACT percentiles (interpolated, the
    q79 discipline — DuckDB's quantile_cont twin) plus two in-plan
    rank-error verdicts for the sketch: a second pass counts, per
    rollup group, how many values fall strictly below / at-or-below
    each approx quantile, giving the approx value's exact rank
    interval [lo+1, hi]; the verdict asserts it intersects
    [q·nv − slack, q·nv + slack] with slack = nv/accuracy + 1 — the
    GK guarantee with one element of slack for interpolation edges.
    The second pass is one explode(2)+broadcast-join+agg over orders
    (the rollup's ALL row needs every row to count, hence the
    two-way explode rather than a plain groupBy).

    NULL policy: percentile ranks are over the NON-NULL values (nv);
    n stays COUNT(*). A group whose percentile is NULL (no non-null
    values) gets verdict TRUE via COALESCE — both engines emit the
    same NULL exact percentile there."""
    # cached: the rollup result feeds BOTH the rank-pass broadcast
    # and the final join, and Spark does not reuse subplans across
    # branches (q134's rationale) — without the cache the heaviest
    # aggregation (exact percentile over all of orders) runs twice
    # (round-10 self-review find). ≤ 2·|priorities|+1 rows.
    r1 = _quantile_rollup_sketch(spark, sf_dir).cache()
    o = load_table(spark, sf_dir, "orders")
    exploded = (
        o.select(
            F.col("o_totalprice").alias("v"),
            F.explode(F.array(
                F.struct(F.lit(0).alias("g_all"),
                         F.col("o_orderpriority").alias("k")),
                F.struct(F.lit(1).alias("g_all"),
                         F.lit(None).cast("string").alias("k")),
            )).alias("g"))
        .select("v", F.col("g.g_all").alias("g_all"),
                F.col("g.k").alias("k"))
    )
    # eqNullSafe on k: the ALL row and a real NULL-priority group
    # both carry k = NULL (g_all disambiguates) — a plain equi-join
    # would drop them
    sk = F.broadcast(r1.select(
        F.col("g_all").alias("r_g"), F.col("k").alias("r_k"),
        "p50", "p95"))
    ranks = (
        exploded.join(
            sk,
            (F.col("g_all") == F.col("r_g"))
            & F.col("k").eqNullSafe(F.col("r_k")))
        .groupBy("g_all", "k")
        .agg(*[f
               for q in ("50", "95")
               for f in (
                   F.sum(F.when(F.col("v") < F.col(f"p{q}"), 1)
                         .otherwise(0)).alias(f"lo{q}"),
                   F.sum(F.when(F.col("v") <= F.col(f"p{q}"), 1)
                         .otherwise(0)).alias(f"hi{q}"),
               )])
    )

    def rank_ok(q: float, tag: str):
        slack = F.col("nv") / _Q140_ACC + 1
        target = q * F.col("nv")
        return F.coalesce(
            (F.col(f"lo{tag}") + 1 <= target + slack)
            & (F.col(f"hi{tag}") >= target - slack),
            F.lit(True))

    rk = ranks.select(
        F.col("g_all").alias("q_g"), F.col("k").alias("q_k"),
        "lo50", "hi50", "lo95", "hi95")
    return (
        r1.join(rk,
                (F.col("g_all") == F.col("q_g"))
                & F.col("k").eqNullSafe(F.col("q_k")), "left")
        .select(
            F.when(F.col("g_all") == 1, F.lit("ALL"))
            .otherwise(F.coalesce("k", F.lit("<NULL>")))
            .alias("priority"),
            "g_all",
            F.col("n").cast("bigint").alias("n"),
            "p50_exact", "p95_exact",
            rank_ok(0.5, "50").alias("p50_rank_ok"),
            rank_ok(0.95, "95").alias("p95_rank_ok"),
        )
    )


@register(
    "q141_embedding_centroids",
    oracle=f"""
    SELECT label, CAST(i AS INT) AS dim,
           CAST(COUNT(*) AS BIGINT) AS n,
           {favg_signed_sql("CAST(embedding[i+1] AS DOUBLE)",
                            "centroid")}
    FROM embeddings CROSS JOIN generate_series(0, 4095) g(i)
    WHERE i < len(embedding)
    GROUP BY 1, 2
    """,
)
def q141_embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroid, one (label, dim) row per
    coordinate — the class-prototype computation behind k-NN
    prototypes, IVF coarse quantizers (q61 trains its cells the same
    way), and embedding-drift monitoring.

    posexplode turns the vector column into (dim, value) rows so the
    centroid is ONE hash agg with partial aggregation — no vector
    UDF, no driver matrix. Coordinates are negative, so the mean
    uses davg_signed (exact half-away-from-zero; davg's pmod kernel
    assumes non-negative sums). float32 → double is exact on both
    engines, and both quantize each coordinate to 4 dp decimal
    before the exact sum, so the oracle is hash-exact.

    Scale: (n_vectors × 64) narrow rows through one partial/final
    agg pair keyed by (label, dim) — 640 output cells here,
    |labels|·dims anywhere; the agg input never concentrates on a
    hot key because dims stripe uniformly."""
    e = load_table(spark, sf_dir, "embeddings")
    return (
        e.select("label", F.posexplode("embedding").alias("dim", "v"))
        .groupBy("label", F.col("dim").cast("int").alias("dim"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"),
             davg_signed(F.col("v").cast("double"), "centroid"))
    )


@register(
    "q142_degree_histogram",
    oracle="""
    WITH po0 AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
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
    )
    SELECT CAST(LENGTH(bin(d)) AS INT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_vertices,
           CAST(MIN(d) AS BIGINT) AS d_min,
           CAST(MAX(d) AS BIGINT) AS d_max
    FROM deg
    GROUP BY 1
    """,
)
def q142_degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log2-bucketed degree distribution of the co-purchase graph —
    the skew diagnostic you run BEFORE choosing a graph algorithm's
    partitioning (q98's degree-ordered orientation and q108's
    bucketed-edge lane are both justified by exactly this shape).

    Bucket = floor(log2 d)+1 computed as the LENGTH OF THE BINARY
    STRING of the integer degree — pure integer/string arithmetic,
    identical on both engines, where float log2 would be a libm
    coin-flip at exact powers of two. Reuses the q98/q108 shared
    edge builder (basket cap declared in both engines); one agg for
    degrees + one 60-cell histogram agg."""
    from hearthstats_spark.operators.ann_index import persisted
    from hearthstats_spark.queries.analytics_ext import co_order_edges

    from hearthstats_spark.queries.analytics_ext import BASKET_CAP

    # the co-purchase edge list is a deterministic pure function of
    # lineitem — at 100 TB it is a STANDING graph table maintained
    # incrementally, so it lives in the persisted-artifact store
    # (content-keyed on lineitem; version=BASKET_CAP makes the key
    # self-maintaining — a cap change misses the cache and rebuilds
    # instead of silently serving the old winsorization)
    e = persisted(spark, sf_dir, "co_order_edges",
                  lambda: co_order_edges(spark, sf_dir),
                  table="lineitem", version=BASKET_CAP)
    deg = (e.select(F.col("a").alias("v"))
           .unionAll(e.select(F.col("b").alias("v")))
           .groupBy("v").agg(F.count(F.lit(1)).alias("d")))
    return (
        deg.groupBy(F.length(F.conv(F.col("d"), 10, 2)).cast("int")
                    .alias("bucket"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_vertices"),
             F.min("d").cast("bigint").alias("d_min"),
             F.max("d").cast("bigint").alias("d_max"))
    )


@register(
    "q143_group_concat",
    oracle="""
    WITH top5 AS (
        SELECT c_mktsegment, c_name
        FROM (SELECT c_mktsegment, c_name,
                     ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                                        ORDER BY c_name) AS rn
              FROM customer)
        WHERE rn <= 5
    )
    SELECT c_mktsegment AS segment,
           CAST(COUNT(*) AS BIGINT) AS n,
           string_agg(c_name, ',' ORDER BY c_name) AS names_csv
    FROM top5 GROUP BY 1
    """,
)
def q143_group_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LISTAGG / string_agg with deterministic order: the first 5
    customer names (alphabetical) per market segment as one CSV
    string — the report-formatting aggregate every warehouse SQL
    dialect grew (LISTAGG / GROUP_CONCAT / string_agg).

    Two determinism traps handled: the top-5 filter BEFORE the
    concat bounds the string at any scale (unbounded LISTAGG is an
    OOM at 100 TB — the cap is the declared semantics), and
    ``collect_list`` order is partition-dependent, so the engine
    sorts the collected array before joining (DuckDB's ORDER BY
    inside string_agg is the oracle twin)."""
    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_name")
    top5 = (c.select("c_mktsegment", "c_name")
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 5))
    return (
        top5.groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"),
             F.array_join(F.array_sort(F.collect_list("c_name")), ",")
             .alias("names_csv"))
    )


@register(
    "q144_bfs_reach",
    oracle="""
    WITH RECURSIVE po0 AS
        (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
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
    u AS (SELECT a AS src, b AS dst FROM e
          UNION ALL SELECT b AS src, a AS dst FROM e),
    seed AS (SELECT MIN(a) AS v FROM e),
    bfs AS (
        SELECT v, 0 AS d FROM seed
        UNION
        SELECT u.dst AS v, bfs.d + 1 AS d
        FROM bfs JOIN u ON u.src = bfs.v
        WHERE bfs.d < 3
    ),
    lv AS (SELECT v, MIN(d) AS depth FROM bfs GROUP BY v)
    SELECT CAST(depth AS INT) AS depth,
           CAST(COUNT(*) AS BIGINT) AS n_nodes
    FROM lv GROUP BY depth
    """,
)
def q144_bfs_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded BFS reachability: nodes at shortest-path depth
    0/1/2/3 from the smallest part in the co-purchase graph — the
    frontier-expansion iteration family (neighborhood sampling,
    GNN fan-out, blast-radius queries), distinct from q108's
    fixed-point iteration and q88's label propagation.

    Engine: 3 rounds of frontier ⋈ edges with anti-joins against the
    already-visited LAYERS — each round's shuffle is FRONTIER-sized,
    not graph-sized, which is the whole point of BFS on a cluster.
    Per-round materialization is the per-depth LAYER only (VERDICT r3
    item 5: checkpointing the whole growing visited union re-wrote
    every prior layer each round — at toy scale that checkpoint
    traffic WAS the query's cost; at cluster scale it's O(visited)
    per round instead of O(frontier)). The visited set exists only as
    the union of the small checkpointed layers, assembled once at the
    end. Anti-joining per layer instead of against one union frame
    is the same row count either way and each probe side is already
    materialized. Layers are checkpointed HASH-PARTITIONED on v with
    the edge side's partition count (VERDICT r4 item 5): hash(v, N)
    satisfies both the frontier⋈edges key (src == v) and every
    anti-join key, so each BFS round plans exactly ONE
    frontier-sized Exchange — the dst re-key inside distinct(), the
    dataflow minimum — instead of re-deriving the frontier layout
    per depth (plan-pinned in tests/test_layout.py). Oracle: recursive
    CTE with the UNION-dedup doing the visited-set work, MIN(d) per
    vertex outside the recursion."""
    from functools import reduce

    from hearthstats_spark.operators.ann_index import persisted
    from hearthstats_spark.operators.graph import materialize
    from hearthstats_spark.queries.analytics_ext import co_order_edges

    from hearthstats_spark.queries.analytics_ext import BASKET_CAP

    # q142's persisted standing edge table (content-keyed on
    # lineitem, cap-versioned); the basket-expansion pipeline runs
    # once per corpus, not once per BFS
    e = persisted(spark, sf_dir, "co_order_edges",
                  lambda: co_order_edges(spark, sf_dir),
                  table="lineitem", version=BASKET_CAP)
    # materialize src-partitioned (layout preserved through the
    # checkpoint): all 3 rounds join on src, so the edge side never
    # re-exchanges — only the frontier moves, the BFS invariant
    und = materialize(
        e.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .unionAll(e.select(F.col("b").alias("src"),
                           F.col("a").alias("dst"))),
        "src")
    # seed from the MATERIALIZED frame — e.agg(min) would re-run the
    # whole basket-expansion pipeline a second time just for one
    # scalar (min(src) over both directions == min vertex == min(a),
    # since co_order_edges emits a < b)
    seed = und.agg(F.min("src").alias("v"))
    layers = [materialize(seed.select("v", F.lit(0).alias("depth")), "v")]
    frontier = layers[0].select("v")
    for depth in range(1, 4):
        nxt = (und.join(frontier, und["src"] == frontier["v"])
               .select(F.col("dst").alias("v")).distinct())
        for prev in layers:
            nxt = nxt.join(prev.select("v"), "v", "left_anti")
        # materialize the LAYER (frontier-sized): the next round's
        # join must not re-run this round's expansion, the final union
        # reads materialized blocks only, and the hash(v, N) layout
        # feeds the next round's frontier join + all later anti-joins
        # exchange-free. The layer plan ALREADY ends in that layout —
        # distinct() exchanges on hash(v, N) and the anti-joins and
        # withColumn preserve it — so no repartition: one
        # frontier-sized exchange per BFS round, the dataflow minimum
        # (plan-pinned in tests/test_layout.py)
        layer = materialize(nxt.withColumn("depth", F.lit(depth)))
        layers.append(layer)
        frontier = layer.select("v")
    visited = reduce(lambda a, b: a.unionByName(b), layers)
    return (visited.groupBy(F.col("depth").cast("int").alias("depth"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes")))


@register(
    "q145_percentile_disc",
    oracle="""
    WITH r AS (
        SELECT event_type, value,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY value NULLS LAST) AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM events
        WHERE value IS NOT NULL
    )
    SELECT event_type,
           CAST(MAX(n) AS BIGINT) AS n,
           MAX(CASE WHEN rn = CAST(CEIL(0.5 * n) AS BIGINT)
                    THEN value END) AS p50_disc,
           MAX(CASE WHEN rn = CAST(CEIL(0.9 * n) AS BIGINT)
                    THEN value END) AS p90_disc
    FROM r GROUP BY 1
    """,
)
def q145_percentile_disc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISCRETE percentiles (percentile_disc semantics: the smallest
    actual value whose cumulative rank reaches q — always a real
    data point, never interpolated): p50/p90 of value per event
    type. Complements q23/q79, which implement the CONTINUOUS
    (interpolated) flavor; regulatory/latency reporting usually
    requires disc.

    The rank-at-ceil(q·n) formulation is engine-neutral integer
    arithmetic (no interpolation float ops at all) and one window
    pass; ordering by value alone is enough — at a tied boundary
    every candidate row carries the same value. ceil(0.5·n) is
    exact IEEE for any representable n.

    NULL discipline (ADVICE r3): percentiles are over NON-NULL
    values — filtered explicitly on BOTH engines, because their
    window defaults disagree (Spark ORDER BY = NULLS FIRST, DuckDB
    = NULLS LAST) and a stray NULL would silently shift every rank;
    asc_nulls_last matches the oracle's declared NULLS LAST as a
    second guard."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull())
    w = Window.partitionBy("event_type").orderBy(
        F.col("value").asc_nulls_last())
    r = e.select(
        "event_type", "value",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(
            Window.partitionBy("event_type")).alias("n"),
    )
    pick = (lambda q: F.max(F.when(
        F.col("rn") == F.ceil(F.lit(q) * F.col("n")).cast("bigint"),
        F.col("value"))))
    return (r.groupBy("event_type")
            .agg(F.max("n").cast("bigint").alias("n"),
                 pick(0.5).alias("p50_disc"),
                 pick(0.9).alias("p90_disc")))


@register(
    "q146_window_count_distinct",
    oracle="""
    WITH m AS (
        SELECT user_id, ts, event_id,
               CASE WHEN ROW_NUMBER() OVER (
                        PARTITION BY user_id, event_type
                        ORDER BY ts, event_id) = 1
                    THEN 1 ELSE 0 END AS first_seen
        FROM events
    )
    SELECT user_id, ts, event_id,
           CAST(SUM(first_seen) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS n_distinct_types
    FROM m
    """,
)
def q146_window_count_distinct(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Running COUNT(DISTINCT) over a window — per event, how many
    DISTINCT event types the user has produced so far. Neither
    Spark nor most engines allow DISTINCT inside a window function
    (the state isn't frame-composable); the standard rewrite is the
    FIRST-OCCURRENCE trick: mark each (user, type)'s first event via
    row_number, then a plain cumulative SUM of the marker — two
    window passes, both keyed by user, zero distinct-state.

    Scale: both windows shuffle on user_id once (Spark reuses the
    partitioning between them — one Exchange); state per row is one
    integer. This is the q121 idea (first-seen) applied at event
    grain instead of calendar grain."""
    e = load_table(spark, sf_dir, "events")
    w_first = (Window.partitionBy("user_id", "event_type")
               .orderBy("ts", "event_id"))
    w_cum = (Window.partitionBy("user_id").orderBy("ts", "event_id")
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    m = e.select(
        "user_id", "ts", "event_id",
        F.when(F.row_number().over(w_first) == 1, 1).otherwise(0)
        .alias("first_seen"))
    return m.select(
        "user_id", "ts", "event_id",
        F.sum("first_seen").over(w_cum).cast("bigint")
        .alias("n_distinct_types"))


@register(
    "q147_weighted_median",
    oracle="""
    WITH r AS (
        SELECT l_returnflag, l_extendedprice,
               CAST(l_quantity AS BIGINT) AS w,
               SUM(CAST(l_quantity AS BIGINT)) OVER (
                   PARTITION BY l_returnflag
                   ORDER BY l_extendedprice, l_orderkey, l_linenumber
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cumw,
               SUM(CAST(l_quantity AS BIGINT)) OVER (
                   PARTITION BY l_returnflag) AS totw
        FROM lineitem
    )
    SELECT l_returnflag AS returnflag,
           CAST(MAX(totw) AS BIGINT) AS total_qty,
           MIN(CASE WHEN 2 * cumw >= totw THEN l_extendedprice END)
               AS wmedian_price
    FROM r GROUP BY 1
    """,
)
def q147_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUANTITY-WEIGHTED median price per return flag: the smallest
    price at which the cumulative quantity reaches half the total —
    the inventory-weighted central price (each line votes with its
    units, not once). Plain medians (q23/q79/q145) weight rows
    equally; weighted quantiles are the procurement/market-data
    flavor no built-in covers on either engine.

    All comparisons are exact integer arithmetic (quantities are
    integral, cast to BIGINT; 2·cumw ≥ totw avoids any /2), and the
    qualifying row with the minimum price IS the first qualifying
    row under the cumulative order, so a conditional MIN replaces a
    second window pass. One cumulative window + the per-group total
    riding the same partition key."""
    li = load_table(spark, sf_dir, "lineitem")
    wq = F.col("l_quantity").cast("bigint")
    w_cum = (Window.partitionBy("l_returnflag")
             .orderBy("l_extendedprice", "l_orderkey", "l_linenumber")
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    w_tot = Window.partitionBy("l_returnflag")
    r = li.select(
        "l_returnflag", "l_extendedprice",
        F.sum(wq).over(w_cum).alias("cumw"),
        F.sum(wq).over(w_tot).alias("totw"))
    return (r.groupBy(F.col("l_returnflag").alias("returnflag"))
            .agg(F.max("totw").cast("bigint").alias("total_qty"),
                 F.min(F.when(2 * F.col("cumw") >= F.col("totw"),
                              F.col("l_extendedprice")))
                 .alias("wmedian_price")))


@register(
    "q148_ab_ztest",
    oracle=f"""
    WITH conv AS (
        SELECT c.c_custkey, c.c_mktsegment,
               CASE WHEN EXISTS (SELECT 1 FROM orders o
                                 WHERE o.o_custkey = c.c_custkey
                                   AND o.o_orderpriority = '1-URGENT')
                    THEN 1 ELSE 0 END AS converted
        FROM customer c
        WHERE c.c_mktsegment IN ('BUILDING', 'AUTOMOBILE')
    ),
    g AS (
        SELECT
            SUM(CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END)
                AS n1,
            SUM(CASE WHEN c_mktsegment = 'BUILDING' THEN converted
                     ELSE 0 END) AS c1,
            SUM(CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN 1 ELSE 0 END)
                AS n2,
            SUM(CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN converted
                     ELSE 0 END) AS c2
        FROM conv
    )
    SELECT CAST(n1 AS BIGINT) AS n1, CAST(c1 AS BIGINT) AS c1,
           CAST(n2 AS BIGINT) AS n2, CAST(c2 AS BIGINT) AS c2,
           {fratio_sql('c1', 'n1', 'p1')},
           {fratio_sql('c2', 'n2', 'p2')},
           ROUND((CAST(c1 AS DOUBLE) / n1 - CAST(c2 AS DOUBLE) / n2)
                 / SQRT((CAST(c1 + c2 AS DOUBLE) / (n1 + n2))
                        * (1.0 - CAST(c1 + c2 AS DOUBLE) / (n1 + n2))
                        * (1.0 / n1 + 1.0 / n2)), 4) AS z
    FROM g
    """,
)
def q148_ab_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test between customer segments: does the
    BUILDING segment convert (place >= 1 URGENT order) at a
    different rate than AUTOMOBILE? The A/B-readout query every
    experimentation platform runs; z = (p1-p2)/sqrt(pp(1-pp)(1/n1
    +1/n2)) with the pooled rate pp.

    Determinism: the four counts are exact; displayed rates use the
    exact half-up ratio; the z statistic itself is a fixed dag of
    IEEE ops on identical inputs — sqrt and divide are CORRECTLY
    ROUNDED by IEEE-754, so both engines produce the same double
    bit-for-bit and ROUND(z, 4) agrees (an irrational z is never at
    a rounding boundary). One semi-join-shaped EXISTS (decorrelated
    to a hash join) + one conditional-agg pass."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    urgent = (o.filter(F.col("o_orderpriority") == "1-URGENT")
              .select("o_custkey").distinct())
    conv = (c.filter(F.col("c_mktsegment")
                     .isin("BUILDING", "AUTOMOBILE"))
            .join(urgent, c["c_custkey"] == urgent["o_custkey"], "left")
            .select("c_mktsegment",
                    F.when(F.col("o_custkey").isNotNull(), 1)
                    .otherwise(0).alias("converted")))
    is_b = F.col("c_mktsegment") == "BUILDING"
    g = conv.agg(
        F.sum(F.when(is_b, 1).otherwise(0)).alias("n1"),
        F.sum(F.when(is_b, F.col("converted")).otherwise(0)).alias("c1"),
        F.sum(F.when(~is_b, 1).otherwise(0)).alias("n2"),
        F.sum(F.when(~is_b, F.col("converted")).otherwise(0)).alias("c2"),
    )
    p1d = F.col("c1").cast("double") / F.col("n1")
    p2d = F.col("c2").cast("double") / F.col("n2")
    ppd = ((F.col("c1") + F.col("c2")).cast("double")
           / (F.col("n1") + F.col("n2")))
    z = F.round(
        (p1d - p2d)
        / F.sqrt(ppd * (F.lit(1.0) - ppd)
                 * (F.lit(1.0) / F.col("n1")
                    + F.lit(1.0) / F.col("n2"))), 4)
    return g.select(
        F.col("n1").cast("bigint").alias("n1"),
        F.col("c1").cast("bigint").alias("c1"),
        F.col("n2").cast("bigint").alias("n2"),
        F.col("c2").cast("bigint").alias("c2"),
        dratio(F.col("c1"), F.col("n1"), "p1"),
        dratio(F.col("c2"), F.col("n2"), "p2"),
        z.alias("z"))


@register(
    "q149_scd2_pit_join",
    oracle="""
    WITH o AS (
        SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey,
               LAG(o_orderstatus) OVER w AS prev_status
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey
                     ORDER BY o_orderdate, o_orderkey)
    ),
    hist AS (
        SELECT o_custkey AS custkey, o_orderstatus AS status,
               o_orderdate AS valid_from,
               LEAD(o_orderdate) OVER w2 AS valid_to,
               ROW_NUMBER() OVER w2 AS version
        FROM o
        WHERE prev_status IS NULL OR prev_status <> o_orderstatus
        WINDOW w2 AS (PARTITION BY o_custkey
                      ORDER BY o_orderdate, o_orderkey)
    )
    SELECT CAST(h.version AS BIGINT) AS version,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(COUNT(DISTINCT f.o_custkey) AS BIGINT) AS n_customers
    FROM orders f
    JOIN hist h
      ON h.custkey = f.o_custkey
     AND h.valid_from <= f.o_orderdate
     AND (h.valid_to IS NULL OR f.o_orderdate < h.valid_to)
    GROUP BY 1
    """,
)
def q149_scd2_pit_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POINT-IN-TIME join against the q96 SCD-2 history — the
    consumer side of slowly-changing dimensions: each fact row joins
    the dimension VERSION that was valid at its event date
    (valid_from <= date < valid_to, open row unbounded). Facts here
    are the orders themselves; output is how many orders/customers
    each version number served (bounded: |versions| rows).

    Join shape: EQUI key (custkey) + the validity range as a
    residual filter — a hash join, never a nested loop, because the
    equi key does the distribution and versions-per-customer is
    small (the SCD invariant). This is the dimension-lookup shape
    every warehouse fact load runs at 100 TB; the q66/q109 range
    and as-of kernels are the event-time equivalents."""
    from hearthstats_spark.queries.pipeline_ext import q96_scd2_history

    o = load_table(spark, sf_dir, "orders")
    hist = q96_scd2_history(spark, sf_dir)
    j = o.join(
        hist,
        (hist["custkey"] == o["o_custkey"])
        & (hist["valid_from"] <= o["o_orderdate"])
        & (hist["valid_to"].isNull()
           | (o["o_orderdate"] < hist["valid_to"])))
    return (j.groupBy(F.col("version").cast("bigint").alias("version"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_orders"),
                 F.countDistinct("o_custkey").cast("bigint")
                 .alias("n_customers")))


@register(
    "q150_gini_concentration",
    oracle=f"""
    WITH rev AS (
        SELECT c.c_nationkey AS nationkey, c.c_custkey,
               SUM(CAST(o.o_totalprice AS DECIMAL(28,4))) AS x
        FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
        GROUP BY 1, 2
    ),
    r AS (
        SELECT nationkey, x,
               ROW_NUMBER() OVER (PARTITION BY nationkey
                                  ORDER BY x, c_custkey) AS i,
               COUNT(*) OVER (PARTITION BY nationkey) AS n
        -- declared: a NULL revenue (every order price NULL) is not
        -- a sample point of the revenue distribution — both engines
        -- exclude it (null-measures degenerate axis)
        FROM rev WHERE x IS NOT NULL
    )
    SELECT nationkey, CAST(MAX(n) AS BIGINT) AS n_cust,
           CAST(SUM(x) AS DOUBLE) AS total_rev,
           ROUND(CAST(SUM((2 * i - n - 1) * x) AS DOUBLE)
                 / CAST(MAX(n) * SUM(x) AS DOUBLE), 4) AS gini
    FROM r GROUP BY 1
    """,
)
def q150_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini concentration of customer revenue per nation — the
    inequality/concentration index behind "top-1% of customers drive
    X% of revenue" dashboards. Uses the rank formulation
    G = Σ(2i − n − 1)·xᵢ / (n·Σx) over revenues sorted ascending
    (deterministic (x, custkey) order).

    Exactness: per-customer revenue is an exact decimal sum; the
    numerator multiplies decimals by INTEGER rank coefficients
    (exact decimal arithmetic on both engines) and sums exactly; the
    single final division is one IEEE op on identical doubles with
    ROUND — q113's accepted discipline. Shape: one join+agg for
    revenues, one nation-keyed window for ranks, one hash agg; at
    100 TB the per-nation sort is the cost and a two-pass
    range-partitioned rank (operators/rankops.py) is the swap."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    rev = (o.join(c.select("c_custkey", "c_nationkey"),
                  o["o_custkey"] == F.col("c_custkey"))
           .groupBy(F.col("c_nationkey").alias("nationkey"),
                    "c_custkey")
           .agg(F.sum(F.col("o_totalprice").cast(DEC)).alias("x"))
           # declared NULL policy: a customer whose every order price
           # is NULL has no revenue observation — not a sample point
           # of the concentration distribution (oracle mirrors)
           .where(F.col("x").isNotNull()))
    wr = Window.partitionBy("nationkey").orderBy("x", "c_custkey")
    wn = Window.partitionBy("nationkey")
    r = rev.select(
        "nationkey", "x",
        F.row_number().over(wr).alias("i"),
        F.count(F.lit(1)).over(wn).alias("n"))
    return (r.groupBy("nationkey")
            .agg(F.max("n").cast("bigint").alias("n_cust"),
                 F.sum("x").cast("double").alias("total_rev"),
                 F.round(
                     F.sum((2 * F.col("i") - F.col("n") - 1)
                           * F.col("x")).cast("double")
                     / (F.max("n") * F.sum("x")).cast("double"), 4)
                 .alias("gini")))
