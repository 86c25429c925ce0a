"""Round-3 batch-2 operators (q130–q136): the properties the oracle
hash can't see — exact-rounding behavior of dratio on adversarial
denominators, losslessness of q130's salted prune, EWMA semantics vs
pandas, and containment vs a brute-force set computation."""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

import pandas as pd
import pytest
from pyspark.sql import functions as F

from hearthstats_spark.functions import dratio
from tests.conftest import SF_MED


def _half_up(num: int, den: int, nd: int = 4) -> float:
    q = (Decimal(num) / Decimal(den)).quantize(
        Decimal(1).scaleb(-nd), rounding=ROUND_HALF_UP)
    return float(q)


def test_dratio_exact_half_up_on_boundary_denominators(spark):
    """n/32-style ratios terminate exactly one digit past the 4-dp
    rounding point — the cross-engine ROUND trap (q97). dratio must
    match Decimal ROUND_HALF_UP bit-for-bit on every such case."""
    cases = [(n, d) for d in (32, 64, 160, 2048, 10_000, 1_000_000)
             for n in (1, 3, 5, 7, d - 1, d + 3)]
    df = spark.createDataFrame(cases, "num long, den long")
    got = {(r["num"], r["den"]): r["r"]
           for r in df.select("num", "den",
                              dratio(F.col("num"), F.col("den"), "r"))
           .collect()}
    for n, d in cases:
        assert got[(n, d)] == _half_up(n, d), (n, d)


def test_q130_salted_prune_is_lossless(spark, registry):
    """The two-phase (salt-slice bottom-k, then global bottom-k)
    prune must return EXACTLY the naive global bottom-k."""
    out = registry["q130_sample_bottomk"].fn(spark, SF_MED)
    got = {(r["priority"], r["pos"]): r["o_orderkey"]
           for r in out.collect()}

    o = spark.read.parquet(f"{SF_MED}/orders.parquet")
    naive = (o.select(F.col("o_orderpriority").alias("priority"),
                      "o_orderkey",
                      F.md5(F.col("o_orderkey").cast("string"))
                      .alias("h"))
             .orderBy("priority", "h", "o_orderkey").collect())
    want: dict[tuple[str, int], int] = {}
    seen: dict[str, int] = {}
    for r in naive:
        k = seen.get(r["priority"], 0) + 1
        seen[r["priority"]] = k
        if k <= 8:
            want[(r["priority"], k)] = r["o_orderkey"]
    assert got == want


def test_q135_matches_pandas_ewm(spark, registry):
    """EWMA columns must equal pandas ewm(alpha=.5, adjust=True)
    truncated to the 12-month lookback, to float tolerance (the
    query rounds to 4 dp; pandas computes in full float)."""
    rows = (registry["q135_ewma_revenue"].fn(spark, SF_MED)
            .orderBy("month").toPandas())
    s = rows.set_index("month")["revenue"]
    # pandas has no lookback-truncated ewm: replicate with the same
    # integer weights 2^0..2^11 over the trailing window
    for i, m in enumerate(s.index):
        lo = max(0, i - 11)
        window = s.iloc[lo:i + 1]
        weights = [2 ** (11 - (i - j)) for j in range(lo, i + 1)]
        want = sum(w * v for w, v in zip(weights, window)) / sum(weights)
        got = rows.set_index("month")["ewma12"][m]
        assert got == pytest.approx(want, abs=1e-3), m


def test_q136_containment_vs_bruteforce(spark, registry):
    """Every reported pair must have true one-sided shingle
    containment >= .8 (after 4-dp half-up rounding), and no qualifying
    pair may be missing — verified against per-doc Python sets."""
    docs = (spark.read.parquet(f"{SF_MED}/documents.parquet")
            .select("doc_id", "text").collect())

    def sh5(text: str) -> set[str]:
        t = text.split(" ")
        n = max(len(t) - 5, 0)
        return {" ".join(t[i:i + 5]) for i in range(n + 1)}

    sets = {r["doc_id"]: sh5(r["text"]) for r in docs}
    want = set()
    by_shingle: dict[str, list[int]] = {}
    for d, ss in sets.items():
        for s in ss:
            by_shingle.setdefault(s, []).append(d)
    cand = {(a, b) for ds in by_shingle.values()
            for a in ds for b in ds if a < b}
    for a, b in cand:
        shared = len(sets[a] & sets[b])
        ca = _half_up(shared, len(sets[a]))
        cb = _half_up(shared, len(sets[b]))
        if max(ca, cb) >= 0.8:
            want.add((a, b))

    got = {(r["id_a"], r["id_b"])
           for r in registry["q136_dedup_containment"]
           .fn(spark, SF_MED).collect()}
    assert got == want


def test_q132_twap_single_user_manual(spark, registry):
    """TWAP for one user equals the hand-computed duration-weighted
    mean over its event sequence."""
    out = registry["q132_twap"].fn(spark, SF_MED)
    row = out.filter(F.col("user_id") == 1).collect()[0]

    from hearthstats_spark.io import load_table

    e = (load_table(spark, SF_MED, "events")
         .filter(F.col("user_id") == 1)
         .select(F.unix_micros("ts").alias("us"), "value", "event_id")
         .orderBy("us", "event_id").toPandas())
    dt = e["us"].shift(-1) - e["us"]
    seg = pd.DataFrame({"v": e["value"], "dt": dt}).dropna()
    # Decimal(float) takes the EXACT binary value (str() would take
    # the shortest repr — a different number at rounding boundaries,
    # and the engine casts the binary double)
    num = sum(Decimal(float(v * d)).quantize(Decimal("0.0001"))
              for v, d in zip(seg["v"], seg["dt"]))
    den = int(seg["dt"].sum())
    assert row["n_seg"] == len(seg)
    assert row["twap"] == _half_up(int(num.scaleb(4)), den * 10_000)


def test_q139_cms_bounds(spark, registry):
    """CMS guarantees: est >= exact always; overestimate bounded by
    eps·N (eps = 2/width) for the top items with d=4 rows (failure
    prob (1/2)^4 per item — at 10 probes a violation means a bug,
    not bad luck)."""
    from pyspark.sql import functions as F

    from hearthstats_spark.io import load_table
    from hearthstats_spark.queries.analytics_ext4 import _CMS_W

    rows = registry["q139_sketch_cms"].fn(spark, SF_MED).collect()
    assert len(rows) == 10
    n_total = (load_table(spark, SF_MED, "events")
               .filter(F.get_json_object("props", "$.k").isNotNull())
               .count())
    bound = 2.0 * n_total / _CMS_W
    for r in rows:
        assert r["n_est"] >= r["n_exact"], r
        assert r["est_over"] <= bound, (r, bound)


def test_q139_oracle_constants_match_cms_hash():
    """The (a_j, c_j) literals inlined in _CMS_ORACLE must equal
    _cms_hash's derivation — the SQL twin recomputes the IDENTICAL
    sketch, so a constant drift would silently turn the oracle into
    a different sketch."""
    import re

    from hearthstats_spark.queries.analytics_ext4 import _CMS_ORACLE, _CMS_D, _CMS_P

    expected = []
    for j in range(_CMS_D):
        a = (j * 2_654_435_761 + 1_013_904_223) % _CMS_P or 1
        c = (j * 97_531 + 12_345) % _CMS_P
        expected.append((j, a, c))
    got = [tuple(int(x) for x in m)
           for m in re.findall(r"\((\d+), (\d+), (\d+)\)", _CMS_ORACLE)]
    assert got == expected


def test_q140_quantile_sketch_accuracy(spark, registry):
    """percentile_approx at accuracy=10000 must land within rank
    error 1/accuracy of the true quantile: compare each approx p50/
    p95 against the exact values at ranks ±(n/accuracy). The approx
    values come from the sketch-lane helper — the registered query
    hashes exact percentiles + in-plan rank verdicts instead
    (round-10 sketch-oracle policy), which this test also checks."""
    import math

    from pyspark.sql import functions as F

    from hearthstats_spark.io import load_table
    from hearthstats_spark.queries.analytics_ext4 import \
        _quantile_rollup_sketch

    declared = registry["q140_sketch_quantile_rollup"].fn(
        spark, SF_MED).collect()
    assert all(r["p50_rank_ok"] and r["p95_rank_ok"] for r in declared)
    rows = {("ALL" if r["g_all"] == 1 else r["k"]): r
            for r in _quantile_rollup_sketch(spark, SF_MED).collect()}
    o = load_table(spark, SF_MED, "orders")
    groups = {p: [x["o_totalprice"] for x in
                  o.filter(F.col("o_orderpriority") == p)
                  .select("o_totalprice").collect()]
              for p in rows if p != "ALL"}
    groups["ALL"] = [x["o_totalprice"]
                     for x in o.select("o_totalprice").collect()]
    for p, vals in groups.items():
        vals.sort()
        n = len(vals)
        slack = max(1, math.ceil(n / 10_000))
        for q, colname in ((0.5, "p50"), (0.95, "p95")):
            target = rows[p][colname]
            lo = vals[max(0, math.floor(q * n) - slack - 1)]
            hi = vals[min(n - 1, math.ceil(q * n) + slack)]
            assert lo <= target <= hi, (p, colname, target, lo, hi)


def test_davg_signed_negative_boundaries(spark):
    """davg_signed must round half-AWAY-FROM-ZERO for negative means
    — davg's pmod kernel would bump toward +inf instead. Mixed-value
    groups force a non-trivial division; the reference replays the
    engine's arithmetic exactly: per-row double→DEC(28,4) cast is
    half-away-from-zero (verified identical in Spark AND DuckDB,
    including at dyadic exact-halves like ±0.03125), then an exact
    half-away division."""
    from hearthstats_spark.functions import davg_signed

    groups = [
        [-0.09375, -0.09375, -0.09375],          # negative halfway rows
        [-1.0, -2.0, 0.5],                       # plain negative mean
        [-0.03125, 0.0, 0.0],                    # -0.0313/3
        [0.2812, -0.8437, 0.0001, 0.0001],       # sign from the sum
    ]
    for vals in groups:
        df = spark.createDataFrame([(v,) for v in vals], "v double")
        got = df.agg(davg_signed(F.col("v"), "m")).collect()[0]["m"]
        p = sum(Decimal(v).quantize(Decimal("0.0001"),
                                    rounding=ROUND_HALF_UP)
                for v in vals) * 10_000
        n = len(vals)
        a, sign = abs(p), (-1 if p < 0 else 1)
        r = a % n
        q = (a - r) // n + (1 if 2 * r >= n else 0)
        assert got == float(sign * q) / 10_000, (vals, got)


def test_s18_zone_map_prunes_losslessly(spark, registry):
    """s18: the zone-map prune must actually skip files AND lose
    zero rows vs the brute-force scan."""
    row = (registry["s18_zone_map_skipping"]
           .fn(spark, SF_MED).collect()[0])
    assert row["n_files_kept"] < row["n_files_total"]
    assert row["n_rows_pruned"] == row["n_rows_full"] > 0
    assert row["n_only_pruned"] == 0 and row["n_only_full"] == 0


def test_q137_null_group_ties_break_deterministically(spark):
    """A NULL payload-key group tying for the top count must lose to
    any non-NULL key on BOTH engines (NULLS LAST declared in the
    oracle, asc_nulls_last in the engine): replay the engine's rank
    expression on a synthetic tie."""
    from pyspark.sql import Window

    df = spark.createDataFrame(
        [("click", None), ("click", None), ("click", 7), ("click", 7)],
        "event_type string, k long")
    c = df.groupBy("event_type", "k").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("event_type").orderBy(
        F.col("n").desc(), F.col("k").asc_nulls_last())
    top = (c.withColumn("rk", F.row_number().over(w))
           .filter(F.col("rk") == 1).collect())
    assert top[0]["k"] == 7
