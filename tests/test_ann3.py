"""q185 multiprobe IVF-PQ and q186 residual IVFADC: the candidate-set
and scoring contracts that distinguish them from q184.

Measured at pin time (sf0.001): multiprobe recall@5 = 0.12 vs
single-probe's 0.04 (3× — the probe-set expansion is the whole
point); residual ADC's mean |adc_d2 − true_d2| = 0.69 vs raw PQ's
0.55 — residual encoding does NOT beat raw PQ on this synthetic
corpus (near-uniform embeddings give cell centroids no structure to
remove, and the deterministic half-step trainer amplifies nothing),
so the pin is an anti-degeneration ceiling plus the structural
identities, not a supremacy claim. On clustered real-world data the
residual win is the standard FAISS result; the kernels here are the
same either way.
"""

from __future__ import annotations

import numpy as np
import pytest

from tests.conftest import SF_SMALL


@pytest.fixture(scope="module")
def emb():
    import duckdb

    df = duckdb.connect().execute(
        f"select vec_id, embedding from "
        f"read_parquet('{SF_SMALL}/embeddings.parquet') order by vec_id"
    ).fetchdf()
    return df["vec_id"].values, np.stack(
        df["embedding"].values).astype(np.float64)


def _exact_l2_top5(ids, mat):
    out = {}
    for qi, q in zip(np.nonzero(ids < 10)[0], ids[ids < 10]):
        s = ((mat - mat[qi]) ** 2).sum(axis=1)
        s[ids == q] = np.inf
        out[q] = set(ids[np.argsort(s, kind="stable")[:5]])
    return out


def _recall(rows, exact):
    hits = tot = 0
    for q, ex in exact.items():
        got = {r["neighbor_id"] for r in rows if r["query_id"] == q}
        hits += len(got & ex)
        tot += len(ex)
    return hits / tot


def test_multiprobe_recall_beats_single_probe(spark, registry, emb):
    """nprobe=3 scores a strict superset of nprobe=1's candidates, so
    its recall must be ≥ q184's on the same queries (measured: 0.12
    vs 0.04), with an absolute floor to catch degeneration."""
    ids, mat = emb
    exact = _exact_l2_top5(ids, mat)
    multi = registry["q185_ann_ivf_pq_multiprobe"].fn(
        spark, SF_SMALL).collect()
    single = registry["q184_ann_ivf_pq"].fn(spark, SF_SMALL).collect()
    r_multi, r_single = _recall(multi, exact), _recall(single, exact)
    assert r_multi >= r_single, (r_multi, r_single)
    assert r_multi >= 0.08, r_multi


def test_multiprobe_cells_within_one_bit_flip(spark, registry, emb):
    """Every q185 neighbor sits in the query's own cell or one
    Hamming-distance-1 cell (single-bit perturbations only), and the
    top-1 ADC distance per query is ≤ q184's (a candidate superset
    can only improve the best match)."""
    ids, mat = emb
    bucket = (mat[:, :8] >= 0) @ (1 << np.arange(8))
    bkt = dict(zip(ids, bucket))
    rows = registry["q185_ann_ivf_pq_multiprobe"].fn(
        spark, SF_SMALL).collect()
    assert rows
    for r in rows:
        ham = bin(int(bkt[r["neighbor_id"]]) ^ int(bkt[r["query_id"]]))
        assert ham.count("1") <= 1, r
    best_multi = {r["query_id"]: r["adc_d2"] for r in rows if r["rk"] == 1}
    best_single = {
        r["query_id"]: r["adc_d2"]
        for r in registry["q184_ann_ivf_pq"].fn(spark, SF_SMALL).collect()
        if r["rk"] == 1}
    assert best_single, "q184 returned no rows"
    for q, d in best_single.items():
        assert best_multi[q] <= d, (q, best_multi[q], d)


def test_multiprobe_scores_match_unpruned_adc(spark, registry):
    """Cell pruning (at any nprobe) must not change scores: where
    q185 and the exhaustive ADC scan (q183) report the same pair,
    the distances are identical numbers."""
    pq = {(r["query_id"], r["neighbor_id"]): r["adc_d2"]
          for r in registry["q183_ann_pq"].fn(spark, SF_SMALL).collect()}
    rows = registry["q185_ann_ivf_pq_multiprobe"].fn(
        spark, SF_SMALL).collect()
    shared = [(r, pq[(r["query_id"], r["neighbor_id"])])
              for r in rows if (r["query_id"], r["neighbor_id"]) in pq]
    assert shared, "no overlap between q185 and q183 top-k"
    for r, d in shared:
        assert r["adc_d2"] == d, r


def test_residual_means_are_zero_per_cell(spark):
    """The defining identity of the residual frame: the exact mean of
    residuals over each (cell, dim) is the cell mean minus its own
    4-dp rounding, so |mean| ≤ 0.5e-4. Pins the centroid/residual
    plumbing (a wrong join or off-by-one dim slice breaks this
    immediately)."""
    from hearthstats_spark.functions import davg_signed
    from hearthstats_spark.io import load_table
    from hearthstats_spark.queries.ann3 import (
        _coarse_bucket, cell_centroids, residual_subvectors,
    )
    from pyspark.sql import functions as F

    e = load_table(spark, SF_SMALL, "embeddings")
    bkt = e.select("vec_id", _coarse_bucket().alias("bucket"))
    cent = cell_centroids(e, bkt)
    rsub = residual_subvectors(e, bkt, cent)
    stats = (
        rsub.select("bucket", "m", F.posexplode("sv").alias("d", "x"))
        .groupBy("bucket", "m", "d")
        .agg(davg_signed(F.col("x"), "rmean", ndigits=6))
        .agg(F.max(F.abs("rmean")).alias("worst"))
        .collect()
    )
    assert stats[0]["worst"] <= 0.5e-4 + 1e-6, stats


def test_residual_candidates_equal_q184(spark, registry):
    """q186 scores exactly q184's candidate pairs (identical cells —
    residual encoding changes SCORES, never the candidate set); with
    this corpus's cells at ≤ top_k candidates, the reported pair sets
    are equal while the distances differ (different codebooks)."""
    raw = registry["q184_ann_ivf_pq"].fn(spark, SF_SMALL).collect()
    res = registry["q186_ann_ivfadc_residual"].fn(
        spark, SF_SMALL).collect()
    raw_pairs = {(r["query_id"], r["neighbor_id"]) for r in raw}
    res_pairs = {(r["query_id"], r["neighbor_id"]) for r in res}
    assert raw_pairs == res_pairs
    assert raw_pairs, "empty candidate sets"


def test_residual_adc_error_bounded(spark, registry, emb):
    """Anti-degeneration ceiling: residual ADC's mean |adc_d2 −
    true_d2| must stay within 1.5× raw PQ's on the same pairs
    (measured 0.69 vs 0.55 — see module docstring for why residuals
    don't WIN here). A broken centroid join or residual sign flip
    blows this bound by an order of magnitude."""
    ids, mat = emb
    pos = {v: i for i, v in enumerate(ids)}

    def mean_err(name):
        rows = registry[name].fn(spark, SF_SMALL).collect()
        errs = [abs(r["adc_d2"]
                    - ((mat[pos[r["query_id"]]]
                        - mat[pos[r["neighbor_id"]]]) ** 2).sum())
                for r in rows]
        return float(np.mean(errs))

    raw = mean_err("q184_ann_ivf_pq")
    res = mean_err("q186_ann_ivfadc_residual")
    assert res <= 1.5 * raw, (res, raw)


def test_q185_q186_partition_count_independent(spark, registry):
    """Margin ranks, centroid means, residuals, and ADC sums must
    not move with parallelism (q183's pin, extended to the new
    lanes)."""
    for name in ("q185_ann_ivf_pq_multiprobe",
                 "q186_ann_ivfadc_residual"):
        fn = registry[name].fn
        base = {(r["query_id"], r["rk"]): tuple(r)
                for r in fn(spark, SF_SMALL).collect()}
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        try:
            spark.conf.set("spark.sql.shuffle.partitions", "7")
            alt_df = fn(spark, SF_SMALL)
            assert spark.conf.get("spark.sql.shuffle.partitions") == "7"
            alt = {(r["query_id"], r["rk"]): tuple(r)
                   for r in alt_df.collect()}
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
        assert base == alt, name


def test_q187_trained_cells_recall_and_exact_scores(spark, registry, emb):
    """IVF-Flat over trained cells is the accuracy ceiling of the
    cell-pruned family: recall@5 = 0.90 at pin time (vs sign-bit
    IVF's 0.04 — 16 trained cells hold ~n/16 candidates each, and
    in-cell scoring is EXACT). Every reported distance must equal
    the true squared-L2 rounded to 4dp (no quantization in the
    scoring path), and ranks are contiguous."""
    ids, mat = emb
    pos = {v: i for i, v in enumerate(ids)}
    rows = registry["q187_ann_ivf_kmeans"].fn(spark, SF_SMALL).collect()
    assert rows
    for r in rows:
        true = ((mat[pos[r["query_id"]]]
                 - mat[pos[r["neighbor_id"]]]) ** 2).sum()
        assert abs(r["d2"] - round(true, 4)) < 5e-4, (r, true)
    exact = _exact_l2_top5(ids, mat)
    r187 = _recall(rows, exact)
    r61 = _recall(registry["q61_ann_ivf"].fn(spark, SF_SMALL).collect(),
                  exact)
    assert r187 >= r61, (r187, r61)
    assert r187 >= 0.5, r187


def test_q187_partition_count_independent(spark, registry):
    fn = registry["q187_ann_ivf_kmeans"].fn
    base = {(r["query_id"], r["rk"]): tuple(r)
            for r in fn(spark, SF_SMALL).collect()}
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "7")
        alt_df = fn(spark, SF_SMALL)
        assert spark.conf.get("spark.sql.shuffle.partitions") == "7"
        alt = {(r["query_id"], r["rk"]): tuple(r) for r in alt_df.collect()}
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert base == alt


def test_recall_floor_at_sf01(spark, registry):
    """Round-10 recall grade pins (VERDICT r9 item 4; full curve in
    SCALE.md §ANN recall grades): at sf0.1 — 2k near-random vectors,
    the honest recall regime — the data-dependent quantizer (q187
    k-means IVF) must hold ≥ 0.9 recall@5 while the sign-bit lanes
    sit at chance, and Hamming-1 multiprobe (q87) must dominate
    single-probe (q61): its candidate set is a superset and
    top-k-by-exact-sim recall is monotone in the candidate set.

    Ground truth is COSINE top-5 — the metric scripts/ann_recall.py
    publishes in SCALE.md, so this floor actually bounds that curve
    (an L2 truth here would let a cosine-recall regression slip
    through — round-10 self-review find). q187 ranks in-cell by L2;
    grading it against the published cosine truth is the point: the
    0.96 measured says the metrics agree on this corpus."""
    import duckdb

    sf = "/root/testdata/sf0.1"
    df = duckdb.connect().execute(
        f"select vec_id, embedding from "
        f"read_parquet('{sf}/embeddings.parquet') "
        f"where vec_id is not null and embedding is not null "
        f"order by vec_id").fetchdf()
    ids = df["vec_id"].values
    mat = np.stack(df["embedding"].values).astype(np.float64)
    # cosine top-5 (ann_recall.py's _TRUTH_SQL in numpy form)
    nrm = np.sqrt((mat ** 2).sum(axis=1))
    exact = {}
    for qi in np.nonzero(ids < 10)[0]:
        sims = (mat @ mat[qi]) / (nrm * nrm[qi])
        sims[ids == ids[qi]] = -np.inf
        exact[ids[qi]] = set(ids[np.argsort(-sims, kind="stable")[:5]])
    r187 = _recall(
        registry["q187_ann_ivf_kmeans"].fn(spark, sf).collect(), exact)
    r87 = _recall(
        registry["q87_ann_ivf_multiprobe"].fn(spark, sf).collect(), exact)
    r61 = _recall(registry["q61_ann_ivf"].fn(spark, sf).collect(), exact)
    assert r187 >= 0.9, r187
    assert r87 >= r61, (r87, r61)


def test_recall_floor_planted(spark, registry):
    """Round-11 planted-cluster recall pins (VERDICT r10 item 5; full
    curve + reading in SCALE.md §ANN recall grades): 40 Gaussian
    clusters × 200 members, the middle regime between sf0.1's
    near-random floor and emb10x's replica ceiling. Measured at pin
    time: sign-bit 0.52, Hamming-1 multiprobe 0.86, LSH 0.88,
    k-means IVF 0.90, PQ lanes 0.0-0.08 (right cluster, ADC can't
    rank σ=0.15 siblings). Floors sit under the measured values;
    the q87 ≥ q61 monotonicity is pinned here too (exact-ranked
    lanes only — the ADC lanes are deliberately NOT pinned
    monotone: emb10x measures q185 0.64 < q184 0.70)."""
    import os
    import subprocess
    import sys

    import duckdb

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sf = os.path.join(repo, ".bench_corpus", "embplanted")
    if not os.path.exists(os.path.join(sf, "embeddings.parquet")):
        subprocess.run(
            [sys.executable,
             os.path.join(repo, "scripts", "make_bench_corpus.py"),
             "--tables", "planted"], check=True, cwd=repo, timeout=600)

    df = duckdb.connect().execute(
        f"select vec_id, embedding from "
        f"read_parquet('{sf}/embeddings.parquet') "
        f"where vec_id is not null and embedding is not null "
        f"order by vec_id").fetchdf()
    ids = df["vec_id"].values
    mat = np.stack(df["embedding"].values).astype(np.float64)
    nrm = np.sqrt((mat ** 2).sum(axis=1))
    exact = {}
    for qi in np.nonzero(ids < 10)[0]:
        sims = (mat @ mat[qi]) / (nrm * nrm[qi])
        sims[ids == ids[qi]] = -np.inf
        exact[ids[qi]] = set(ids[np.argsort(-sims, kind="stable")[:5]])

    r61 = _recall(registry["q61_ann_ivf"].fn(spark, sf).collect(), exact)
    r87 = _recall(
        registry["q87_ann_ivf_multiprobe"].fn(spark, sf).collect(), exact)
    r85 = _recall(registry["q85_ann_lsh"].fn(spark, sf).collect(), exact)
    r187 = _recall(
        registry["q187_ann_ivf_kmeans"].fn(spark, sf).collect(), exact)
    assert r187 >= 0.85, r187
    assert r87 >= 0.75, r87
    assert r85 >= 0.75, r85
    assert r61 >= 0.35, r61
    assert r87 >= r61, (r87, r61)  # exact-ranked superset monotonicity
