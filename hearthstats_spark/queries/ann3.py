"""Group K cont'd — q185/q186: the two refinements that turn q184's
IVF-PQ into the production FAISS index (Jégou et al., TPAMI 2011 §V;
Lv et al., "Multi-Probe LSH", VLDB 2007).

q185 — **multiprobe** (nprobe > 1): a single-cell probe loses every
neighbor that falls just across a quantizer boundary. For a sign-bit
coarse quantizer the boundaries are the 8 hyperplanes x_i = 0, and
the query's distance to boundary i is simply |v_i| — so the best
cells to probe beyond the query's own are the ones reached by
flipping the LOWEST-|margin| bits (the multiprobe-LSH perturbation
order, exact for one-bit perturbations). nprobe = 3 probes the home
cell plus the two lowest-margin single-bit flips; the probe set
triples, the scored candidate set roughly triples, and the scoring
join is unchanged — the probe cells ride the same (bucket, m, cid)
equi-key, so at 100 TB multiprobe costs nprobe index-partition
lookups per query, never a wider scan.

q186 — **residual encoding** (true IVFADC): q184 quantizes the raw
vector, so every cell's codebook wastes its 16 codes spanning the
whole space. FAISS's IVFADC instead PQ-encodes the RESIDUAL
r = v − centroid(cell(v)) — residuals concentrate near 0 with most
coarse structure removed, so the same 8×16 codebook budget spends
itself on fine detail and the ADC error drops. The query side
compares per-cell query residuals against the same codebooks.
Everything stays hash-exact: cell centroids are exact davg_signed
means per (bucket, dim), residual subtraction is deterministic
double arithmetic on identical inputs, and training/encode/ADC
reuse q183's exact-decimal kernels on the residual frame.

Spark shapes (no new machinery — the point is these are compositions):
- probe-set construction (q185) = posexplode of the first 8 dims →
  row_number over a ≤ 8-row-per-query frame → bit-flip via XOR; the
  whole probe table is NQ·nprobe rows and rides the broadcast side.
- centroids (q186) = one (bucket, dim) hash agg over the exploded
  vectors (exact means), collected to ≤ 256 array rows; residuals =
  one zip_with against the runtime-guarded broadcast centroid table.
- both reuse q183's trainer/encoder and q184's celled ADC join
  verbatim (shared functions, one definition of every kernel).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hearthstats_spark.functions import davg_signed
from hearthstats_spark.functions.numeric import favg_signed_sql
from hearthstats_spark.io import load_table
from hearthstats_spark.operators.ann_index import persisted
from hearthstats_spark.operators.bounded import broadcast_bounded
from hearthstats_spark.queries.ann import _BUCKET_SQL
from hearthstats_spark.queries.ann2 import (
    _DIM, _K, _M, _N_QUERIES, _SUBD, _TOP_K, _d2, _pq_ctes,
    _trained_codebook, encode_against, subvectors_of,
)
from hearthstats_spark.queries.registry import register

_NPROBE = 3       # home cell + the 2 lowest-|margin| bit flips
_NBITS = 8        # coarse quantizer: sign bits of the first 8 dims

_D2T = ("ROUND(list_sum(list_transform(generate_series(1, {n}), "
        "i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i]))), 4)")


def _coarse_bucket():
    """q61's sign-bit coarse quantizer (shared literal shape with
    q184 — the cell id every IVF lane keys on)."""
    return sum(
        (
            F.when(F.element_at("embedding", i + 1) >= 0, F.lit(1 << i))
            .otherwise(F.lit(0))
            for i in range(_NBITS)
        ),
        start=F.lit(0),
    )


# ---- q185: IVF-PQ with multiprobe ---------------------------------

def _q185_oracle() -> str:
    return _pq_ctes() + f""",
    bkt AS (SELECT vec_id, {_BUCKET_SQL} AS bucket FROM embeddings WHERE embedding IS NOT NULL),
    marg AS (
        SELECT e.vec_id AS query_id, g.i AS bit,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                   ORDER BY ABS(v[g.i + 1]), g.i) AS rk
        FROM e CROSS JOIN generate_series(0, {_NBITS - 1}) g(i)
        WHERE e.vec_id < {_N_QUERIES}
    ),
    probes AS (
        SELECT vec_id AS query_id, bucket AS pbucket FROM bkt
        WHERE vec_id < {_N_QUERIES}
        UNION ALL
        SELECT mg.query_id, xor(b.bucket, 1 << mg.bit) AS pbucket
        FROM marg mg JOIN bkt b ON b.vec_id = mg.query_id
        WHERE mg.rk <= {_NPROBE - 1}
    ),
    adc AS (
        SELECT t.query_id, c.vec_id AS neighbor_id,
               CAST(SUM(CAST(t.part AS DECIMAL(28,4))) AS DOUBLE)
                   AS adc_d2
        FROM enc c
        JOIN bkt bc ON bc.vec_id = c.vec_id
        JOIN dtab t ON c.m = t.m AND c.cid = t.cid
        JOIN probes p ON p.query_id = t.query_id
                     AND p.pbucket = bc.bucket
        WHERE c.vec_id <> t.query_id
        GROUP BY t.query_id, c.vec_id
    )
    SELECT query_id, neighbor_id, adc_d2, CAST(rk AS INT) AS rk
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY adc_d2, neighbor_id) AS rk FROM adc)
    WHERE rk <= {_TOP_K}
    """


def probe_cells(e: DataFrame) -> DataFrame:
    """(query_id, bucket): each query's nprobe probe cells — its own
    plus the cells across its ``_NPROBE - 1`` nearest quantizer
    hyperplanes (flip the bits with the smallest |v_i|, ties to the
    lower bit index). The margin ranking is a row_number over ≤ 8
    rows per query on the pushed-filter probe frame — never a
    fact-scale window."""
    v = F.transform("embedding", lambda x: x.cast("double"))
    qb = (e.filter(F.col("vec_id") < _N_QUERIES)
          .select("vec_id", v.alias("v"), _coarse_bucket().alias("bucket")))
    own = qb.select(F.col("vec_id").alias("query_id"),
                    F.col("bucket").alias("bucket"))
    rank = Window.partitionBy("vec_id").orderBy(F.abs(F.col("x")), "bit")
    flips = (
        qb.select("vec_id", "bucket",
                  F.posexplode(F.slice("v", 1, _NBITS)).alias("bit", "x"))
        .withColumn("rk", F.row_number().over(rank))
        .filter(F.col("rk") <= _NPROBE - 1)
        .select(F.col("vec_id").alias("query_id"),
                F.expr("bucket ^ shiftleft(1, bit)").alias("bucket"))
    )
    return own.unionByName(flips)


@register("q185_ann_ivf_pq_multiprobe", oracle=_q185_oracle())
def q185_ann_ivf_pq_multiprobe(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """IVF-PQ probe with nprobe = {_NPROBE}: top-{_TOP_K} by ADC
    among the candidates in the query's own cell OR the two cells
    across its lowest-margin quantizer hyperplanes (see module
    docstring). The scoring join is q184's, keyed on (bucket, m,
    cid) — the probe table replicates each query's distance rows
    nprobe times BEFORE the join, so candidate pruning still happens
    inside the hash join and each candidate matches at most one
    probe cell (single-bit flips are distinct buckets)."""
    e = load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull())  # family null policy (ann2)
    bkt = e.select("vec_id", _coarse_bucket().alias("bucket"))
    sub = subvectors_of(e)
    # q183's persisted codebook + code table (operators/ann_index):
    # multiprobe changes the PROBE set, never the trained index
    cb = persisted(spark, sf_dir, "pq_codebook",
                   lambda: _trained_codebook(sub)).cache()
    enc = persisted(spark, sf_dir, "pq_codes",
                    lambda: encode_against(sub, cb)).join(bkt, "vec_id")
    qsub = sub.filter(F.col("vec_id") < _N_QUERIES)
    dtab = (
        qsub.select(F.col("vec_id").alias("query_id"), "m", "sv")
        .join(broadcast_bounded(cb, _M * _K), "m")
        .select("query_id", "m", "cid", _d2("sv", "cv").alias("part"))
        .join(probe_cells(e), "query_id")  # fan out: one row per probe
    )
    adc = (
        enc.join(broadcast_bounded(dtab, _N_QUERIES * _NPROBE * _M * _K),
                 ["bucket", "m", "cid"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum(F.col("part").cast("decimal(28,4)")).cast("double")
             .alias("adc_d2"))
    )
    pick = Window.partitionBy("query_id").orderBy("adc_d2", "neighbor_id")
    return (
        adc.withColumn("rk", F.row_number().over(pick).cast("int"))
        .filter(F.col("rk") <= _TOP_K)
    )


# ---- q186: IVFADC — PQ over cell residuals ------------------------

def _q186_oracle() -> str:
    d2 = _D2T
    return f"""
    WITH e AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings WHERE embedding IS NOT NULL
    ),
    bkt AS (SELECT vec_id, {_BUCKET_SQL} AS bucket FROM embeddings WHERE embedding IS NOT NULL),
    cent0 AS (
        SELECT b.bucket, gd.dim, {favg_signed_sql('v[dim]', 'c')}
        FROM e JOIN bkt b USING (vec_id)
             CROSS JOIN generate_series(1, {_DIM}) gd(dim)
        GROUP BY b.bucket, gd.dim
    ),
    cent AS (SELECT bucket, list(c ORDER BY dim) AS cv
             FROM cent0 GROUP BY bucket),
    resid AS (
        SELECT e.vec_id, b.bucket,
               list_transform(generate_series(1, {_DIM}),
                              i -> e.v[i] - ct.cv[i]) AS rv
        FROM e JOIN bkt b USING (vec_id) JOIN cent ct USING (bucket)
    ),
    rsub AS (
        SELECT vec_id, bucket, m,
               rv[m * {_SUBD} + 1 : (m + 1) * {_SUBD}] AS sv
        FROM resid CROSS JOIN generate_series(0, {_M - 1}) g(m)
    ),
    init AS (SELECT m, vec_id AS cid, sv AS cv FROM rsub
             WHERE vec_id < {_K}),
    a0 AS (
        SELECT vec_id, m, cid, sv,
               ROW_NUMBER() OVER (PARTITION BY vec_id, m
                   ORDER BY {d2.format(n=_SUBD, a='sv', b='cv')}, cid)
                   AS rk
        FROM rsub JOIN init USING (m)
    ),
    upd AS (
        SELECT m, cid, dim, {favg_signed_sql('sv[dim]', 'c')}
        FROM a0 CROSS JOIN generate_series(1, {_SUBD}) gd(dim)
        WHERE rk = 1
        GROUP BY m, cid, dim
    ),
    cb AS (SELECT m, cid, list(c ORDER BY dim) AS cv
           FROM upd GROUP BY m, cid),
    enc AS (
        SELECT vec_id, bucket, m, cid
        FROM (SELECT rsub.vec_id, rsub.bucket, rsub.m, cb.cid,
                     ROW_NUMBER() OVER (PARTITION BY rsub.vec_id, rsub.m
                         ORDER BY {d2.format(n=_SUBD, a='rsub.sv',
                                             b='cb.cv')}, cb.cid) AS rk
              FROM rsub JOIN cb USING (m))
        WHERE rk = 1
    ),
    dtab AS (
        SELECT q.vec_id AS query_id, q.bucket, cb.m, cb.cid,
               {d2.format(n=_SUBD, a='q.sv', b='cb.cv')} AS part
        FROM rsub q JOIN cb USING (m)
        WHERE q.vec_id < {_N_QUERIES}
    ),
    adc AS (
        SELECT t.query_id, c.vec_id AS neighbor_id,
               CAST(SUM(CAST(t.part AS DECIMAL(28,4))) AS DOUBLE)
                   AS adc_d2
        FROM enc c JOIN dtab t
          ON c.bucket = t.bucket AND c.m = t.m AND c.cid = t.cid
        WHERE c.vec_id <> t.query_id
        GROUP BY t.query_id, c.vec_id
    )
    SELECT query_id, neighbor_id, adc_d2, CAST(rk AS INT) AS rk
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY adc_d2, neighbor_id) AS rk FROM adc)
    WHERE rk <= {_TOP_K}
    """


def cell_centroids(e: DataFrame, bkt: DataFrame) -> DataFrame:
    """(bucket, cv): exact per-cell mean vector — one (bucket, dim)
    hash agg over the exploded vectors (davg_signed, the q141/q183
    centroid discipline), re-assembled into ≤ 2^{_NBITS} array rows.
    Map-side combinable; the collected frame is quantizer-sized, not
    data-sized."""
    v = F.transform("embedding", lambda x: x.cast("double"))
    per_dim = (
        e.select("vec_id", v.alias("v")).join(bkt, "vec_id")
        .select("bucket", F.posexplode("v").alias("dim0", "x"))
        .groupBy("bucket", (F.col("dim0") + 1).alias("dim"))
        .agg(davg_signed(F.col("x"), "c"))
    )
    return (
        per_dim.groupBy("bucket")
        .agg(F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "c"))),
            lambda s: s["c"]).alias("cv"))
    )


def residual_subvectors(e: DataFrame, bkt: DataFrame,
                        cent: DataFrame) -> DataFrame:
    """(vec_id, bucket, m, sv): the per-subspace views of every
    vector's RESIDUAL v − centroid(cell(v)) — the frame q186 trains,
    encodes, and queries on. One zip_with against the runtime-guarded
    broadcast centroid table; deterministic double subtraction on
    inputs both engines compute bit-identically."""
    v = F.transform("embedding", lambda x: x.cast("double"))
    resid = (
        e.select("vec_id", v.alias("v")).join(bkt, "vec_id")
        .join(broadcast_bounded(cent, 1 << _NBITS), "bucket")
        .select("vec_id", "bucket",
                F.zip_with("v", "cv", lambda x, c: x - c).alias("rv"))
    )
    return (
        resid.select("vec_id", "bucket", F.explode(F.array(*[
            F.struct(F.lit(m).alias("m"),
                     F.slice("rv", m * _SUBD + 1, _SUBD).alias("sv"))
            for m in range(_M)
        ])).alias("s"))
        .select("vec_id", "bucket", "s.*")
    )


@register("q186_ann_ivfadc_residual", oracle=_q186_oracle())
def q186_ann_ivfadc_residual(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """True IVFADC: PQ codebooks trained on and applied to CELL
    RESIDUALS v − centroid(cell(v)), queries scored in their own
    cell against the query residual's distance table (see module
    docstring — residuals concentrate the codebook budget on fine
    structure, which is why FAISS encodes residuals by default).

    Plan: centroid agg (one exchange, quantizer-sized output) →
    residual zip_with (narrow) → q183's trainer/encoder on the
    residual frame → q184's celled ADC join on (bucket, m, cid).
    Same irreducible exchanges as q184 plus the centroid agg; every
    broadcast is runtime-guarded."""
    e = load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull())  # family null policy (ann2)
    bkt = e.select("vec_id", _coarse_bucket().alias("bucket"))
    # the IVFADC index triple — centroids, residual codebook, residual
    # code table — is trained once and persisted (operators/ann_index)
    cent = persisted(spark, sf_dir, "ivf_centroids",
                     lambda: cell_centroids(e, bkt)).cache()
    rsub = residual_subvectors(e, bkt, cent)
    cb = persisted(
        spark, sf_dir, "rpq_codebook",
        lambda: _trained_codebook(rsub.select("vec_id", "m", "sv"))
    ).cache()

    # encode keeps the cell id: bucket is functionally dependent on
    # vec_id, so adding it to the argmin group keys changes nothing
    # about the groups and saves the re-join q184 pays
    def _encode_residuals() -> DataFrame:
        return (
            rsub.join(broadcast_bounded(cb, _M * _K), "m")
            .select("vec_id", "bucket", "m", "cid",
                    _d2("sv", "cv").alias("d2"))
            .groupBy("vec_id", "bucket", "m")
            .agg(F.min_by("cid", F.struct("d2", "cid")).alias("cid"))
        )

    enc = persisted(spark, sf_dir, "rpq_codes", _encode_residuals)
    qsub = rsub.filter(F.col("vec_id") < _N_QUERIES)
    dtab = (
        qsub.select(F.col("vec_id").alias("query_id"), "bucket", "m", "sv")
        .join(broadcast_bounded(cb, _M * _K), "m")
        .select("query_id", "bucket", "m", "cid",
                _d2("sv", "cv").alias("part"))
    )
    adc = (
        enc.join(broadcast_bounded(dtab, _N_QUERIES * _M * _K),
                 ["bucket", "m", "cid"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum(F.col("part").cast("decimal(28,4)")).cast("double")
             .alias("adc_d2"))
    )
    pick = Window.partitionBy("query_id").orderBy("adc_d2", "neighbor_id")
    return (
        adc.withColumn("rk", F.row_number().over(pick).cast("int"))
        .filter(F.col("rk") <= _TOP_K)
    )


# ---- q187: IVF-Flat with k-means-TRAINED coarse cells -------------
#
# The remaining coarse-quantizer variant beside the sign-bit cells
# (q61/q184/q185/q186): production IVF trains its cells with k-means
# so cell populations track the data distribution instead of the
# 2^8 fixed orthants. The elegant bit: a PQ codebook with ONE
# subspace covering all 64 dims IS k-means (M=1, K=16 — "product"
# of one factor), so the trained quantizer reuses q183's
# trainer/encoder verbatim on the full-vector frame; only the
# scoring differs — IVF-Flat keeps exact vectors and computes true
# distances inside the probed cell (no PQ approximation), which is
# the accuracy ceiling for any cell-pruned index.

def _q187_oracle() -> str:
    d2 = _D2T
    return f"""
    WITH e AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings WHERE embedding IS NOT NULL
    ),
    init AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < {_K}),
    a0 AS (
        SELECT e.vec_id, init.cid, e.v,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                   ORDER BY {d2.format(n=_DIM, a='e.v', b='init.cv')},
                            init.cid) AS rk
        FROM e CROSS JOIN init
    ),
    upd AS (
        SELECT cid, dim, {favg_signed_sql('v[dim]', 'c')}
        FROM a0 CROSS JOIN generate_series(1, {_DIM}) gd(dim)
        WHERE rk = 1
        GROUP BY cid, dim
    ),
    cc AS (SELECT cid, list(c ORDER BY dim) AS cv
           FROM upd GROUP BY cid),
    asg AS (
        SELECT e.vec_id, cc.cid, e.v,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                   ORDER BY {d2.format(n=_DIM, a='e.v', b='cc.cv')},
                            cc.cid) AS rk
        FROM e CROSS JOIN cc
    ),
    cells AS (SELECT vec_id, cid, v FROM asg WHERE rk = 1),
    pairs AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               {d2.format(n=_DIM, a='q.v', b='c.v')} AS d2
        FROM cells q JOIN cells c
          ON q.cid = c.cid AND q.vec_id <> c.vec_id
        WHERE q.vec_id < {_N_QUERIES}
    )
    SELECT query_id, neighbor_id, d2, CAST(rk AS INT) AS rk
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY d2, neighbor_id) AS rk FROM pairs)
    WHERE rk <= {_TOP_K}
    """


@register("q187_ann_ivf_kmeans", oracle=_q187_oracle())
def q187_ann_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-Flat probe over k-means-trained cells: top-{_TOP_K} by
    EXACT squared-L2 among the candidates sharing the query's
    trained cell (see the section comment — the quantizer is q183's
    trainer run with one 64-dim subspace, because 1-subspace PQ is
    k-means).

    Plan: trainer/encoder exactly as q183 (min_by argmin hash aggs,
    exact davg_signed means, runtime-guarded codebook broadcasts);
    scoring joins the ≤ {_N_QUERIES}-row query frame to the celled
    vectors on the cell id, computes the true fold-left distance per
    candidate pair, and ranks inside the query's window. At scale:
    cells bound candidates exactly as q184, but the scan reads full
    vectors (IVF-Flat's accuracy/IO trade vs PQ's code table)."""
    e = load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull())  # family null policy (ann2)
    v = F.transform("embedding", lambda x: x.cast("double"))
    fullsub = e.select("vec_id", F.lit(0).alias("m"), v.alias("sv"))
    # trained cells + per-vector assignments, persisted once
    # (operators/ann_index) — IVF-Flat keeps exact vectors, so only
    # the quantizer side is an artifact; the vector scan stays live
    cc = persisted(spark, sf_dir, "cells_codebook",
                   lambda: _trained_codebook(fullsub))  # (m=0, cid, cv)
    assign = persisted(spark, sf_dir, "cell_assign",
                       lambda: encode_against(fullsub, cc))
    cells = (e.select("vec_id", v.alias("v"))
             .join(assign, "vec_id"))  # + cid
    qframe = (cells.filter(F.col("vec_id") < _N_QUERIES)
              .select(F.col("vec_id").alias("query_id"), "cid",
                      F.col("v").alias("qv")))
    pairs = (
        cells.join(broadcast_bounded(qframe, _N_QUERIES), "cid")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"),
                _d2("qv", "v").alias("d2"))
    )
    pick = Window.partitionBy("query_id").orderBy("d2", "neighbor_id")
    return (
        pairs.withColumn("rk", F.row_number().over(pick).cast("int"))
        .filter(F.col("rk") <= _TOP_K)
    )
