"""The benchmark's workloads and the output check of every query in them.

A workload is a mix of registered query ids. Each query is checked
once per run in one of three ways:

- ``oracle``: hash-exact against its own DuckDB oracle;
- ``oracle_of``: hash-exact against another query's oracle (s03 is
  q41's hourly aggregation run as a stream, so it must equal q41);
- ``self``: a predicate over the self-check columns the query returns.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    mix: tuple[str, ...]
    why: str


WORKLOADS = {
    w.name: w for w in (
        Workload(
            "relational",
            ("q06_join_multiway", "q15_agg_pricing", "q25_win_topk",
             "q41_win_tumbling", "q50_sim_topk", "q52_text_tokens"),
            "the six anchor queries: joins, aggregation, windows, a pandas "
            "UDF and tokens; execution-bound, no checkpoint, artifact or write",
        ),
        Workload(
            "build_heavy",
            ("q144_bfs_reach", "s01_jdbc_sqlite_sink", "s03_stream_pipeline"),
            "eager work inside the query function: localCheckpoint chains over "
            "a persisted artifact trained cold and served warm, a SQLite sink "
            "and an availableNow stream",
        ),
    )
}


def _s01(r: dict) -> bool:
    return r["n_written"] == r["n_readback"] > 0


#: query id -> predicate over its single returned row
SELF_CHECKS = {"s01_jdbc_sqlite_sink": _s01}

#: query id -> the query whose oracle its rows must equal
ORACLE_OF = {"s03_stream_pipeline": "q41_win_tumbling"}
