"""Graph operators and the layout-preserving materialization they
share.

- ``materialize(df, *cols)`` — the ONE in-query materialization
  primitive: localCheckpoint with the hash layout preserved (AQE-off
  window), optionally hash-repartitioned by ``cols`` first. q88
  (through ``connected_components``), q94, q98, q108 and q144 build
  on it.
- ``triangle_census`` — degree-ordered wedge enumeration + closing
  probe (q98 and the bucketed cluster lane).
- ``connected_components`` / ``dedup_clusters`` — near-dup detection
  (q49/q60) yields PAIRS; deduplication needs CLUSTERS — transitive
  closure over the pair graph, one canonical survivor per component.
  This is the iterative min-label-propagation algorithm (each vertex
  repeatedly adopts the smallest label among itself and its
  neighbors) expressed in DataFrame ops:

  - one iteration = two broadcast-or-shuffle joins + a groupBy min,
  - convergence in O(component diameter) iterations — near-dup
    clusters are shallow (pairs all mutually similar), so 2-4 rounds,
  - each round's result is localCheckpoint()ed: iterative plans
    otherwise stack lineage until planning time explodes (the classic
    iterative-Spark trap; GraphX/GraphFrames do the same internally).

  Oracle-checked via q88: transitive closure IS expressible in DuckDB
  as a recursive CTE over reachability pairs (UNION dedups, so it
  terminates; the min-per-vertex aggregate runs outside the
  recursion, which is the part recursive SQL restricts) — on top of
  the known-graph unit tests here.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame, functions as F

#: serializes the AQE-off window in ``materialize`` so overlapping
#: calls can't restore each other's stale conf value
_AQE_TOGGLE_LOCK = threading.Lock()


def materialize(df: DataFrame, *cols: str) -> DataFrame:
    """localCheckpoint ``df`` with its hash layout preserved, so that
    downstream joins/aggs keyed on that layout (or a superset) read
    the materialized blocks exchange-free — the in-query analogue of
    ``sources/layout.write_bucketed`` for iterative/multi-branch
    plans that read one frame several times (q98's triangle
    branches, the q88/q108/q144 graph loops, q94's self-join).

    With ``cols`` the frame is first hash-repartitioned by them into
    ``spark.sql.shuffle.partitions`` partitions (the count Spark
    plans a column repartition with while AQE is off; the session
    sets it to its task slots unless the caller chose one, see
    ``session.ensure_conf``). Nothing coalesces them, so that count
    is also the task count of every stage that reads the checkpoint.
    Without, the frame's EXISTING output partitioning is kept — for
    plans that already end in the wanted layout (an aggregation or
    distinct over a materialized scan is hash-partitioned by its
    keys), where a repartition would only pay a second exchange of
    identical placement.

    The non-obvious part: under AQE, ``Dataset.localCheckpoint``
    captures ``AdaptiveSparkPlanExec.outputPartitioning``, which
    reports UnknownPartitioning, so the layout is silently thrown
    away and every consumer re-exchanges (measured: the q98 wedge
    self-join kept both src Exchanges). Toggling AQE off around the
    checkpoint action preserves HashPartitioning in the LogicalRDD;
    AQE is restored immediately after and still optimizes every
    downstream stage.

    Eager checkpoint, not ``.cache()``: a cached frame that one plan
    references through several join branches is re-instanced by
    relation deduplication (fresh LogicalRDD attrs), ``sameResult``
    no longer matches the cache entry, and every "cached" read
    recomputes (measured: q108's degree frame showed 0
    InMemoryTableScan with 1 registered cache entry). Every
    reference to a checkpoint scans the materialized blocks.

    Concurrency (ADVICE r4): the toggle mutates SESSION-global conf,
    so a query compiled on the same SparkSession during the
    checkpoint action would silently plan without AQE. The lock
    serializes concurrent calls (so a second call can't restore the
    wrong prior value); callers running OTHER queries concurrently on
    one session should compile them on ``spark.newSession()``
    (separate runtime conf, shared state) — bench.py and
    ``__spark_entry__`` run one query at a time per session, where
    the window is harmless."""
    spark = df.sparkSession
    with _AQE_TOGGLE_LOCK:
        before = spark.conf.get("spark.sql.adaptive.enabled")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        try:
            return (df.repartition(*cols) if cols else df).localCheckpoint()
        finally:
            spark.conf.set("spark.sql.adaptive.enabled", before)


def triangle_census(oriented: DataFrame) -> DataFrame:
    """Count triangles over a DEGREE-ORDERED oriented edge frame
    ``(src, dst, d_dst)`` (each edge points low→high (degree, id);
    build it once, q98 shows how): enumerate out-wedges
    (xy, xz sharing src, ordered by (d_dst, dst)) and close them
    against the edge set — every triangle appears exactly once, and
    per-vertex wedge fan-out is the oriented out-degree, O(√m).

    Returns a 1-row frame ``n_triangles``. The caller owns
    ``oriented``'s materialization/layout: q98 passes
    ``materialize(oriented, "src")``; the
    cluster lane passes a catalog table written by
    ``sources.layout.write_bucketed(..., ['src'])``, which makes the
    wedge self-join bucket-local (SelectedBucketsCount, zero
    edge-sized Exchange — plan-pinned in tests/test_layout.py).

    Closing join (round 10): the wedge frame carries its closing key
    PACKED into one BIGINT (xy.dst·2³² + xz.dst, the operators/pairs
    kernel — precondition ids < 2³¹ holds for every caller: partkeys
    by generation, and the bench corpora assert it) and probes a
    pk-projected edge set. vs the two-key (dst, dst) form this cuts
    the wedge exchange — the frame that is ~100× the edge count —
    from 16 to 8 key bytes per row and makes the probe a single-long
    hash; the price is one EDGE-sized exchange of the pk projection
    (the src bucketing/partitioning cannot satisfy pk clustering).
    Interleaved A/B on the 10×/20× bench graphs: −6% / −15% census
    wall (47.2 s → 40.0 s at 2.96B wedges), identical counts; the
    win grows with shuffle volume, which is the 100 TB direction.

    Rejected alternative (round 11, VERDICT r10 item 4): wedge
    pre-aggregation — ``groupBy(pk).count()`` before the probe,
    triangles = SUM(n_wedges) over matched pks. Interleaved
    fresh-JVM A/B: sf0.1 4.3→5.6 s, 10× 27→57 s (2.1× WORSE).
    Root cause measured, not guessed: closing keys barely repeat
    (41.1M wedges → 32.7M distinct pks at sf0.1, duplication 1.26),
    so the combine saves ≤20 % of shuffled rows while paying a full
    wedge-scale hash aggregation; the regression grows with the
    hash-table size, i.e. it is anti-scale. Keep the direct probe.

    Round 12 (guide §2.4/§3.1): the closing probe rides
    ``broadcast_bounded`` — the wedge frame is the one data structure
    here that is ~100× the edge count, and shuffling it to meet the
    pk projection was the single-JVM superlinearity SCALE.md
    diagnosed (×2.4 per 2× data at 10×/20×: ~24 GB of wedge keys
    through one heap). The probe side is EDGE-sized (one packed
    BIGINT per edge — 8 bytes/row), so broadcasting it under the
    runtime limit-probe removes the wedge exchange outright: the
    probe + count fuse into the wedge-producing stage and the census
    plans ZERO wedge-sized exchanges. The cap (default 32M edges ≈
    256 MB of packed keys, env ``SPARK_GRAFT_TRI_BCAST_EDGES``) is a
    per-executor-memory bound, not a correctness bound — beyond it
    the guard declines and the packed-key shuffle form above remains
    the plan, exactly as before. A 100 TB graph (edges ≫ cap) runs
    the shuffle lane on a many-heap cluster, where SCALE.md showed
    the volume artifact does not apply."""
    import os

    from hearthstats_spark.operators.bounded import broadcast_bounded
    from hearthstats_spark.operators.pairs import PAIR_BASE

    wedge_lt = (F.col("xy.d_dst") < F.col("xz.d_dst")) | (
        (F.col("xy.d_dst") == F.col("xz.d_dst"))
        & (F.col("xy.dst") < F.col("xz.dst")))
    pk_edges = oriented.select(
        (F.col("src") * PAIR_BASE + F.col("dst")).alias("pk"))
    wedges = (
        oriented.alias("xy")
        .join(oriented.alias("xz"), F.col("xy.src") == F.col("xz.src"))
        .filter(wedge_lt)
        # xy.dst precedes xz.dst under the wedge order, and oriented
        # edges point low→high under the SAME order, so the closing
        # edge — if present — is stored exactly as (xy.dst, xz.dst)
        .select((F.col("xy.dst") * PAIR_BASE + F.col("xz.dst"))
                .alias("pk"))
    )
    bcast_cap = int(os.environ.get("SPARK_GRAFT_TRI_BCAST_EDGES",
                                   str(32 * 1024 * 1024)))
    return (wedges.join(broadcast_bounded(pk_edges, bcast_cap), "pk")
            .agg(F.count(F.lit(1)).alias("n_triangles")))


def connected_components(edges: DataFrame, src: str, dst: str,
                         max_iter: int = 20) -> DataFrame:
    """Return (vertex, component) where component is the min vertex
    id reachable from ``vertex`` over undirected ``edges``."""
    # materialize the (possibly expensive) upstream pair pipeline
    # ONCE before the union references it twice — Spark does not
    # reuse the duplicated subplan, so without this the edge source
    # (e.g. q83's prefix join) runs twice (measured 2× at sf0.1)
    e0 = (edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
          .localCheckpoint())
    # materialized b-partitioned with the layout preserved: every
    # propagation round joins on b, so the edge side never
    # re-exchanges — only the vertex-sized label frame moves per
    # iteration (the q108/q144 lane)
    und = materialize(
        e0.union(e0.select(F.col("b").alias("a"),
                           F.col("a").alias("b")))
        .distinct(),
        "b")
    labels = (und.select(F.col("a").alias("vertex"))
              .distinct()
              .withColumn("component", F.col("vertex")))
    for _ in range(max_iter):
        neighbor_min = (
            und.join(labels, und["b"] == labels["vertex"])
            .groupBy(F.col("a").alias("vertex"))
            .agg(F.min("component").alias("nbr_component"))
        )
        # keep old + new side by side so the convergence check is a
        # filter on the checkpointed frame, not an extra join+job
        stepped = (
            labels.join(neighbor_min, "vertex", "left")
            .select(
                "vertex",
                F.col("component").alias("__old"),
                F.least("component", F.coalesce("nbr_component",
                                                "component"))
                .alias("component"),
            )
            .localCheckpoint()  # cut lineage: iterative-plan blowup
        )
        changed = (stepped.filter(F.col("component") != F.col("__old"))
                   .limit(1).count())
        labels = stepped.drop("__old")
        if changed == 0:
            break
    else:
        # silently-wrong labels are worse than a loud failure: a
        # component with diameter > max_iter (chain-shaped near-dup
        # clusters) would otherwise split into several components
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} "
            "iterations (a component's diameter exceeds max_iter); "
            "raise max_iter"
        )
    return labels


def dedup_clusters(pairs: DataFrame, id_a: str = "id_a",
                   id_b: str = "id_b") -> DataFrame:
    """Collapse near-dup pairs into clusters: returns
    (member, canonical) for every clustered id, canonical being the
    component's min id — the survivor a dedup pass keeps."""
    cc = connected_components(pairs, id_a, id_b)
    return cc.select(F.col("vertex").alias("member"),
                     F.col("component").alias("canonical"))
