"""q183 product-quantization ANN: the recall contract (VERDICT r5
item 5 — PQ/ADC must recall at least as much as the IVF nprobe=1
probe on the same query set) plus structural sanity of the trained
codebook and the ADC output. Ground truth is an independent numpy
brute force; absolute recall on this synthetic corpus is low by
construction (near-uniform embeddings — the test_ann.py finding),
but ADC's quantization loss must still beat IVF's candidate loss."""

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


def _exact_top5(ids, mat, metric):
    q_mask = ids < 10
    out = {}
    for qi, q in zip(np.nonzero(q_mask)[0], ids[q_mask]):
        if metric == "l2":
            score = ((mat - mat[qi]) ** 2).sum(axis=1)
        else:  # cosine, larger = closer -> negate
            n = np.linalg.norm(mat, axis=1)
            score = -(mat @ mat[qi]) / (n * n[qi])
        score[ids == q] = np.inf
        out[q] = set(ids[np.argsort(score, kind="stable")[:5]])
    return out


def _recall(rows, exact):
    hits = tot = 0
    for q, ex in exact.items():
        got = {r["neighbor_id"] for r in rows if r["query_id"] == q}
        hits += len(got & ex)
        tot += len(ex)
    return hits / tot


def test_pq_recall_beats_ivf(spark, registry, emb):
    """recall@5 of PQ/ADC (vs exact L2) must be ≥ the IVF probe's
    (vs exact cosine, its own metric) on the same 10 queries.
    Measured at pin time: PQ 0.22 vs IVF 0.04 — exhaustive-but-
    quantized beats exact-but-candidate-truncated on uniform data."""
    ids, mat = emb
    pq = registry["q183_ann_pq"].fn(spark, SF_SMALL).collect()
    ivf = registry["q61_ann_ivf"].fn(spark, SF_SMALL).collect()
    pq_recall = _recall(pq, _exact_top5(ids, mat, "l2"))
    ivf_recall = _recall(ivf, _exact_top5(ids, mat, "cos"))
    assert pq_recall >= ivf_recall, (pq_recall, ivf_recall)
    assert pq_recall >= 0.10, pq_recall  # guard against degeneration


def test_codebook_shape(spark):
    from hearthstats_spark.queries.ann2 import (
        _K, _M, _SUBD, _subvectors, _trained_codebook,
    )

    cb = _trained_codebook(_subvectors(spark, SF_SMALL)).collect()
    assert 0 < len(cb) <= _M * _K
    assert {r["m"] for r in cb} == set(range(_M))
    for r in cb:
        assert 0 <= r["cid"] < _K
        assert len(r["cv"]) == _SUBD


def test_adc_output_structure(spark, registry):
    rows = registry["q183_ann_pq"].fn(spark, SF_SMALL).collect()
    by_q: dict[int, list] = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    assert set(by_q) == set(range(10))
    for q, rs in by_q.items():
        rs.sort(key=lambda r: r["rk"])
        assert [r["rk"] for r in rs] == [1, 2, 3, 4, 5]
        d = [r["adc_d2"] for r in rs]
        assert d == sorted(d)
        assert all(r["neighbor_id"] != q for r in rs)


def test_q183_partition_count_independent(spark, registry):
    """Training means (exact decimal), distances (fold-left rounded
    doubles on identical inputs), and ADC sums (exact decimal) must
    not move with parallelism — the codebook and the ranking are
    the same on any cluster size."""
    fn = registry["q183_ann_pq"].fn
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


def test_q184_candidates_stay_in_cell(spark, registry, emb):
    """IVF-PQ's defining property: every reported neighbor shares
    the query's coarse cell (sign-bit bucket), ranks are contiguous
    from 1, and the ADC distances are the SAME numbers q183 assigns
    (cell pruning filters candidates; it must not change scores)."""
    ids, mat = emb
    bucket = (mat[:, :8] >= 0) @ (1 << np.arange(8))
    bkt = dict(zip(ids, bucket))
    rows = registry["q184_ann_ivf_pq"].fn(spark, SF_SMALL).collect()
    assert rows, "q184 returned nothing"
    by_q: dict[int, list] = {}
    for r in rows:
        assert bkt[r["neighbor_id"]] == bkt[r["query_id"]], r
        by_q.setdefault(r["query_id"], []).append(r)
    for q, rs in by_q.items():
        rks = sorted(r["rk"] for r in rs)
        assert rks == list(range(1, len(rks) + 1)), (q, rks)
    # same scores as the unpruned ADC scan where both report a pair
    pq = {(r["query_id"], r["neighbor_id"]): r["adc_d2"]
          for r in registry["q183_ann_pq"].fn(spark, SF_SMALL).collect()}
    shared = [(r, pq[(r["query_id"], r["neighbor_id"])])
              for r in rows if (r["query_id"], r["neighbor_id"]) in pq]
    assert shared, "no overlap between q183 and q184 top-k"
    for r, d in shared:
        assert r["adc_d2"] == d, r
