"""q182 incremental dedup: the plan pin that makes it INCREMENTAL
(corpus lane = scan→agg→explode, no join — VERDICT r5 item 3's
"audit-pinned" requirement) plus a semantic cross-check against
q118's already-oracle-checked full-corpus candidate pairs."""

from __future__ import annotations

import re

from tests.conftest import SF_SMALL


def _explain(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


def test_corpus_lane_is_scan_agg_only(spark):
    """The corpus side must be readable as a persisted signature
    index: its plan may scan, aggregate, and explode — never join.
    (A join on the corpus lane would mean per-batch corpus
    recomputation beyond the index build, defeating the operator.)"""
    from hearthstats_spark.queries.pipeline_ext3 import (
        _band_table, _signatures,
    )

    plan = _explain(_band_table(_signatures(spark, SF_SMALL, batch=False)))
    tree = plan.split("\n\n")[0]
    assert not re.search(r"Join|CartesianProduct", tree), tree
    assert "Scan parquet" in tree and "HashAggregate" in tree
    assert "Generate" in tree  # the constant ×8 band explode


def test_incremental_matches_full_corpus_pairs(spark, registry):
    """Consistency with the backfill lane: a batch doc must be
    DROPPED by q182 exactly when q118's full-corpus candidate pairs
    contain a cross-slice pair for it with n_match ≥ 8, and
    n_match_best must equal the max over those pairs (both lanes
    share one signature/banding definition, so this is an identity,
    not an approximation)."""
    from hearthstats_spark.queries.pipeline_ext3 import (
        _BATCH_MOD, _DROP_AT,
    )

    q182 = {r["doc_id"]: r for r in
            registry["q182_dedup_incremental"].fn(spark, SF_SMALL).collect()}
    pairs = registry["q118_dedup_minhash_exact"].fn(spark, SF_SMALL).collect()

    best: dict[int, int] = {}
    n_cand: dict[int, int] = {}
    for p in pairs:
        a_batch = p["id_a"] % _BATCH_MOD == 0
        b_batch = p["id_b"] % _BATCH_MOD == 0
        if a_batch == b_batch:
            continue  # within-slice pair: invisible to the screen
        new_id = p["id_a"] if a_batch else p["id_b"]
        best[new_id] = max(best.get(new_id, 0), p["n_match"])
        n_cand[new_id] = n_cand.get(new_id, 0) + 1

    assert q182, "q182 returned no batch rows"
    for doc_id, row in q182.items():
        assert row["n_match_best"] == best.get(doc_id, 0), doc_id
        assert row["n_candidates"] == n_cand.get(doc_id, 0), doc_id
        assert row["kept"] == int(best.get(doc_id, 0) < _DROP_AT), doc_id
    # every flagged batch doc appears in q182's output exactly once
    assert set(best) <= set(q182)


def test_every_batch_doc_emits_one_row(spark, registry):
    from hearthstats_spark.io import load_table
    from hearthstats_spark.queries.pipeline_ext3 import _BATCH_MOD

    d = load_table(spark, SF_SMALL, "documents")
    n_batch = d.filter(
        d.text.isNotNull() & (d.doc_id % _BATCH_MOD == 0)).count()
    out = registry["q182_dedup_incremental"].fn(spark, SF_SMALL)
    assert out.count() == n_batch
    assert out.select("doc_id").distinct().count() == n_batch


def test_q182_partition_count_independent(spark, registry):
    """The screen's outputs (integer match counts, exact decimal
    aggregation) must be identical under different parallelism —
    the property that makes the incremental screen's decisions
    reproducible from local[4] to 1000 executors."""
    fn = registry["q182_dedup_incremental"].fn
    base = {r["doc_id"]: tuple(r) for r in fn(spark, SF_SMALL).collect()}
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "7")
        alt_df = fn(spark, SF_SMALL)
        assert spark.conf.get("spark.sql.shuffle.partitions") == "7"
        alt = {r["doc_id"]: tuple(r) for r in alt_df.collect()}
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert base == alt


def test_q197_leakage_classes_and_bounds(spark, registry):
    """Every row is a cross-split class; confirmed <= candidates;
    leaked eval docs <= confirmed pairs; and the class totals agree
    with q118's corpus-wide candidate table filtered by the split
    expression (composition identity)."""
    from pyspark.sql import functions as F

    rows = registry["q197_split_leakage"].fn(spark, SF_SMALL).collect()
    assert rows
    valid = {"train-val", "train-test", "val-test"}
    for r in rows:
        assert r["pair_class"] in valid
        assert 0 <= r["n_confirmed_pairs"] <= r["n_candidate_pairs"]
        assert r["n_leaked_eval_docs"] <= max(r["n_confirmed_pairs"], 1)
    from hearthstats_spark.queries.pipeline_ext3 import _split_of
    q118 = registry["q118_dedup_minhash_exact"].fn(spark, SF_SMALL)
    cross = (q118.select(_split_of("id_a").alias("sa"),
                         _split_of("id_b").alias("sb"))
             .filter(F.col("sa") != F.col("sb")).count())
    assert cross == sum(r["n_candidate_pairs"] for r in rows)


def test_q199_funnel_monotone(spark, registry):
    """Funnel accounting: raw >= gated >= deduped in both docs and
    tokens; the three split rows partition the deduped stage
    exactly."""
    rows = {r["stage"]: r for r in
            registry["q199_quality_gate_funnel"].fn(
                spark, SF_SMALL).collect()}
    assert set(rows) == {"raw", "gated", "deduped",
                         "train", "val", "test"}
    for col in ("n_docs", "sum_tokens"):
        assert (rows["raw"][col] >= rows["gated"][col]
                >= rows["deduped"][col] > 0)
        assert (rows["train"][col] + rows["val"][col]
                + rows["test"][col]) == rows["deduped"][col]
