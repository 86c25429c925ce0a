#!/usr/bin/env python
"""Dev loop: run declared queries against the DuckDB oracle.

Usage:
    python scripts/check_oracle.py [--sf /root/testdata/sf0.01]
        [--modules joins,aggregates] [--only q05,q06]

Cluster-fan-out mode: ``SPARK_GRAFT_SHUFFLE=256 python
scripts/check_oracle.py`` re-runs the whole sweep at cluster-scale
shuffle parallelism — results must be (and are: round 11, 200/200)
hash-identical to the 4-partition test-suite conf and the default
(the session's task slots, ``defaultParallelism``), the
partition-count-independence property SCALE.md §Session & runtime
records.

Triage notes for specific failures (ADVICE r10):

- **q49_dedup_near failing right after a documents-corpus
  regeneration**: before treating it as an engine regression, check
  whether a threshold-boundary pair (exact Jaccard just above 0.69)
  missed all 8 LSH bands — legitimate banding probability (P ≈ 7e-5
  per boundary pair), not a bug; the fix is widening n_bands, not
  touching the join. Deterministic on the SHIPPED corpora (swept
  green), so this can only appear with regenerated data.
- **q49/q163 mismatches on a LONG document corpus**: both oracles
  enumerate positions via generate_series(0|1, 4096); documents
  over ~4096 words (or tokens over 4096 chars) silently lose
  shingles/pairs on the ORACLE side only.
  tests/test_operators.py::test_corpus_within_oracle_series_bounds
  pins the corpus contract at both driver SFs.
- **[DEAD] <query>: N cached frame(s) never scanned**: the query
  ``.cache()``d or ``.persist()``ed a frame during its build, left it
  registered, and no execution loaded its column buffers — the cache
  only costs storage-pool memory. Either the frame has no reader, or
  its readers plan a re-instanced copy that never matches the cache
  entry (a frame referenced through several branches of one plan —
  use ``operators.graph.materialize`` there). Delete the cache or
  fix the reader.
"""

from __future__ import annotations

import argparse
import contextlib
import importlib
import sys
import time

sys.path.insert(0, ".")

from hearthstats_spark.oracle import check_query, duck_connect  # noqa: E402
from hearthstats_spark.queries.registry import REGISTRY  # noqa: E402
from hearthstats_spark.session import get_spark  # noqa: E402


@contextlib.contextmanager
def recording_caches():
    """Yield a list that collects every frame ``.cache()``d or
    ``.persist()``ed while the block runs."""
    from pyspark.sql.classic.dataframe import DataFrame

    frames = []
    originals = {m: getattr(DataFrame, m) for m in ("cache", "persist")}

    def recording(original):
        def method(df, *args, **kwargs):
            frames.append(df)
            return original(df, *args, **kwargs)
        return method

    for name, original in originals.items():
        setattr(DataFrame, name, recording(original))
    try:
        yield frames
    finally:
        for name, original in originals.items():
            setattr(DataFrame, name, original)


def dead_caches(frames) -> list:
    """The frames still registered with the CacheManager whose column
    buffers were never loaded (the accessor perfbench/worker.py reads
    for ``materialize.cache_scan_ratio``). Frames unpersisted by their
    own query are no longer registered, so they are skipped."""
    dead = []
    for df in frames:
        manager = df.sparkSession._jsparkSession.sharedState().cacheManager()
        entry = manager.lookupCachedData(df._jdf)
        if entry.isDefined() and not (entry.get().cachedRepresentation()
                                      .cacheBuilder()
                                      .isCachedColumnBuffersLoaded()):
            dead.append(df)
    return dead


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--modules", default=None,
                    help="comma list of hearthstats_spark.queries submodules; "
                         "default: registry.load_all()")
    ap.add_argument("--only", default=None, help="comma list of query ids")
    args = ap.parse_args()

    if args.modules:
        for m in args.modules.split(","):
            importlib.import_module(f"hearthstats_spark.queries.{m.strip()}")
    else:
        from hearthstats_spark.queries.registry import load_all
        load_all()

    only = set(args.only.split(",")) if args.only else None
    spark = get_spark("oracle-check")
    spark.sparkContext.setLogLevel("ERROR")
    con = duck_connect(args.sf)

    n_fail = 0
    for name, q in sorted(REGISTRY.items()):
        if only and not any(name.startswith(o) for o in only):
            continue
        t0 = time.time()
        with recording_caches() as cached:
            try:
                if q.oracle is None:
                    n = q.fn(spark, args.sf).count()
                    print(f"[rows] {name}: {n} rows ({time.time()-t0:.1f}s)")
                    ok = True
                else:
                    res = check_query(spark, con, args.sf, name, q.fn,
                                      q.oracle)
                    print(f"{res} ({time.time()-t0:.1f}s)")
                    ok = res.ok
            except Exception as e:
                ok = False
                print(f"[FAIL] {name}: {type(e).__name__}: {str(e)[:500]}")
        dead = dead_caches(cached) if ok else []
        if dead:
            ok = False
            print(f"[DEAD] {name}: {len(dead)} cached frame(s) never "
                  "scanned")
        n_fail += not ok
        # sweep boundary: release the guard-applied cached frames
        # (ADVICE r7) so a 200-query sweep doesn't accumulate one
        # small cached frame per applied broadcast_bounded site —
        # plus every query-level .cache() (q92's dl/tf, the KS vals
        # frame, the dedup shingle frames): the queries
        # deliberately leave them to their harness boundary (ADVICE
        # r11 item 3), and this is that boundary, same as
        # bench._drop_blocks
        from hearthstats_spark.operators.bounded import (
            release_guard_caches)
        release_guard_caches()
        spark.catalog.clearCache()
    print(f"\n{'ALL GREEN' if n_fail == 0 else f'{n_fail} FAILURES'}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
