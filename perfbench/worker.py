"""One benchmark run of one workload, in a fresh process.

``perfbench/run.py`` starts this with the corpus written and the
run's private directories set in the environment; run that instead.

The run is a closed loop with one client: the main thread executes
one query at a time on ``local[nproc]``. Every execution is

    build  = the query function, ``Query.fn(spark, sf_dir)``
    plan   = ``queryExecution().executedPlan()`` forced on the result
    exec   = a ``noop`` write of the result

and its latency is build + plan + exec. Between executions the
benchmark frees cached and checkpointed blocks (``cleanup``), outside
the latency. Pass 0 is the cold pass, in the mix's declared order.
Warm passes follow, each in an order drawn from the seed, until
``--seconds`` have passed and full passes made at least
``MIN_WARM_SAMPLES`` warm executions.
Every query's output is checked once, in the first warm pass, outside
the timed region; every timed execution's row count, read from the
SQL status store, must equal the checked count.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import sys
import time
import traceback
from contextlib import nullcontext
from dataclasses import dataclass, field

sys.path.insert(0, os.getcwd())

from perfbench import summary  # noqa: E402
from perfbench.summary import Check, Tally  # noqa: E402
from perfbench.workloads import ORACLE_OF, SELF_CHECKS, WORKLOADS  # noqa: E402

#: warm executions an untraced run makes at least, in full passes
MIN_WARM_SAMPLES = 6


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(root, f)).st_size
            except OSError:
                pass  # removed while walking
    return total


@dataclass
class Execution:
    """What one execution left for the summary."""

    query: str
    pass_no: int
    traced: bool
    latency: float | None = None
    rows: int | None = None
    layer: dict = field(default_factory=dict)


class Run:
    def __init__(self, args):
        self.args = args
        self.workload = WORKLOADS[args.workload]
        self.sf_dir = args.sf_dir
        self.tmpdir = os.environ["TMPDIR"]
        self.ann_dir = os.environ["SPARK_GRAFT_ANN_CACHE_DIR"]
        self.tally = Tally()
        self.checks: dict[str, Check] = {}
        self.executions: list[Execution] = []
        self.setup_errors: list[str] = []
        self.record: dict = {"workload": args.workload, "seed": args.seed,
                             "trace": args.trace}
        self.tracer = None
        self.streams = None

    # -- set-up ------------------------------------------------------------

    def setup(self, spawn_t: float) -> None:
        artifacts = sorted(os.listdir(self.ann_dir))
        self.record["artifacts_at_start"] = artifacts
        if artifacts:
            self.setup_errors.append(f"artifact store not empty: {artifacts}")

        t0 = time.perf_counter()
        from hearthstats_spark.session import get_spark

        self.spark = get_spark(
            "perfbench", extra_conf={"spark.ui.showConsoleProgress": "false"})
        self.spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        from hearthstats_spark.queries import registry

        self.registry = registry.load_all()
        if registry.LOAD_FAILURES:
            self.setup_errors.append(f"query modules failed: {registry.LOAD_FAILURES}")
        t2 = time.perf_counter()
        self.spark.range(0, 200_000, numPartitions=8).selectExpr(
            "id % 97 AS k", "id").groupBy("k").sum("id").collect()
        self.setup_s = time.time() - spawn_t
        self.record["setup"] = {"session_start_s": t1 - t0, "registry_load_s": t2 - t1,
                                "warmup_s": time.perf_counter() - t2}

        from perfbench.probes import Stores, StreamEvents, Tracer

        self.sc = self.spark.sparkContext
        self.stores = Stores(self.spark)
        if self.args.trace:
            self.tracer = Tracer(self.stores)
            self.tracer.install()
            self.streams = StreamEvents()
            self.spark.streams.addListener(self.streams)
        self.tmp_at_start = _dir_bytes(self.tmpdir)

    # -- one execution -------------------------------------------------------

    def _span(self, name: str):
        if self.tracer is not None and self.tracer.enabled:
            return self.tracer.span(name)
        return nullcontext()

    def execute(self, query: str, pass_no: int, check: bool) -> Execution:
        traced = self.tracer is not None and self.tracer.enabled
        ex = Execution(query, pass_no, traced)
        exec_id = f"{self.workload.name}/{pass_no}/{query}"
        groups = (f"perfbench/{pass_no}/{query}/build", f"perfbench/{pass_no}/{query}/exec")
        if self.tracer is not None:
            self.tracer.exec_id = exec_id
            self.tracer.group = groups[0]
        sql_before = self.stores.last_sql_id()
        gc0 = self.stores.gc_seconds() if traced else 0.0
        tmp0 = _dir_bytes(self.tmpdir) if traced else 0
        first_span = len(self.tracer.spans) if traced else 0
        ok = True
        with self._span("query"):
            try:
                self.sc.setJobGroup(groups[0], exec_id)
                t0 = time.perf_counter()
                with self._span("build"):
                    df = self.registry[query].fn(self.spark, self.sf_dir)
                with self._span("plan"):
                    df._jdf.queryExecution().executedPlan()
                self.sc.setJobGroup(groups[1], exec_id)
                with self._span("exec"):
                    df.write.format("noop").mode("overwrite").save()
                ex.latency = time.perf_counter() - t0
                if traced:
                    ex.layer["gc_s"] = self.stores.gc_seconds() - gc0
                    ex.layer["sink_bytes"] = _dir_bytes(self.tmpdir) - tmp0
                self.stores.flush()
                write_id = self.stores.write_exec(sql_before)
                ex.rows = None if write_id is None else self.stores.output_rows(write_id)
                # every execution takes its stream events, so an untraced
                # pass leaves none for the next traced one
                streams = self.streams.take() if self.streams is not None else ([], [])
                if traced:
                    self._layer_counts(ex, groups, sql_before, write_id, first_span, streams)
                if check:
                    t_check = time.perf_counter()
                    self.checks[query] = self.check(query, df)
                    ex.layer["check_s"] = time.perf_counter() - t_check
                del df
            except Exception:
                ok = False
                ex.latency = None
                traceback.print_exc()
                self.tally.record(False, f"{exec_id}: raised")
            finally:
                self.sc.setJobGroup("perfbench/cleanup", "cleanup")
                with self._span("cleanup"):
                    t_c = time.perf_counter()
                    self.cleanup()
                    ex.layer["cleanup_s"] = time.perf_counter() - t_c
        if ok:
            self.tally.record(True)  # output checks are settled in finish()
        self.executions.append(ex)
        return ex

    def cleanup(self) -> None:
        """Blocking unpersist of every persistent RDD, clearCache, then a
        Python and a JVM garbage collection. Frames the engine's
        broadcast guard cached are released first so no Python handle
        keeps their blocks alive."""
        import gc

        from hearthstats_spark.operators.bounded import release_guard_caches

        release_guard_caches()
        self.spark.catalog.clearCache()
        for rdd in self.sc._jsc.getPersistentRDDs().values():
            rdd.unpersist(True)
        gc.collect()
        self.sc._jvm.System.gc()

    def _layer_counts(self, ex: Execution, groups, sql_before: int,
                      write_id: int | None, first_span: int, streams) -> None:
        """Spark-side counts of one traced execution."""
        runs, progress = streams
        build_jobs = self.stores.job_ids(groups[0])
        for run_id in runs:
            build_jobs += self.stores.job_ids(run_id)
        exec_jobs = self.stores.job_ids(groups[1])
        build = self.stores.job_stats(build_jobs)
        execs = self.stores.job_stats(exec_jobs)
        ex.layer["build_jobs"] = build["jobs"]
        ex.layer["exec"] = {k: v for k, v in execs.items() if k != "rdds_by_job"}
        ex.layer["plan"] = (self.stores.plan_counts(write_id) if write_id is not None
                            else {"exchanges": 0, "broadcast_joins": 0, "sort_merge_joins": 0})
        ex.layer["arrow"] = self.stores.arrow_counts(self.stores.sql_ids_after(sql_before))
        ex.layer["streaming"] = {
            "batches": len(progress),
            "trigger_s": sum(p["durations"].get("triggerExecution", 0) for p in progress) / 1e3,
            "add_batch_s": sum(p["durations"].get("addBatch", 0) for p in progress) / 1e3,
            "wal_commit_s": sum(p["durations"].get("walCommit", 0) for p in progress) / 1e3,
        }
        rdds_by_job = {**build["rdds_by_job"], **execs["rdds_by_job"]}
        made = scanned = 0
        cache_manager = self.spark._jsparkSession.sharedState().cacheManager()
        for span in self.tracer.spans[first_span:]:
            if not span.name.startswith("materialize."):
                continue
            made += 1
            frame = span.attrs.pop("frame", None)
            if "rdd" in span.attrs:
                before = span.attrs.pop("jobs_before")
                if any(span.attrs["rdd"] in rdds
                       for job, rdds in rdds_by_job.items() if job not in before):
                    scanned += 1
            elif frame is not None:
                cached = cache_manager.lookupCachedData(frame._jdf)
                if cached.isDefined() and cached.get().cachedRepresentation() \
                        .cacheBuilder().isCachedColumnBuffersLoaded():
                    scanned += 1
        ex.layer["materialized"] = made
        ex.layer["materialized_scanned"] = scanned

    # -- output checks -------------------------------------------------------

    def check(self, query: str, df) -> Check:
        from hearthstats_spark import oracle

        pdf = df.toPandas()
        if query in SELF_CHECKS:
            rows = pdf.to_dict("records")
            ok = len(rows) == 1 and bool(SELF_CHECKS[query](rows[0]))
            return Check(query, ok, len(pdf), "" if ok else f"self-check failed: {rows[:1]}")
        sql = self.registry[ORACLE_OF.get(query, query)].oracle
        if sql is None:
            return Check(query, False, len(pdf), "no output check defined")
        if not hasattr(self, "duck"):
            self.duck = oracle.duck_connect(self.sf_dir)
        duck = self.duck.execute(sql).fetchdf()
        expected = summary.rows_digest(oracle.canon_rows(duck))
        if sorted(pdf.columns) != sorted(duck.columns):
            return Check(query, False, len(pdf),
                         f"columns {sorted(pdf.columns)} != {sorted(duck.columns)}")
        return summary.check_digest(query, oracle.canon_rows(pdf), expected)

    # -- the loop --------------------------------------------------------------

    def order(self, pass_no: int) -> list[str]:
        """The mix in its declared order for the cold pass, so cold_s does
        not depend on which query pays the JVM's first-use costs; in an
        order drawn from the seed for every warm pass."""
        mix = list(self.workload.mix)
        if pass_no > 0:
            random.Random(f"{self.args.seed}/{pass_no}").shuffle(mix)
        return mix

    def run(self) -> None:
        for q in self.order(0):
            self.execute(q, 0, check=False)
        self.tmp_after_pass = [_dir_bytes(self.tmpdir) - self.tmp_at_start]
        # Untraced runs make enough full warm passes for MIN_WARM_SAMPLES
        # warm executions (a sum over a short mix needs more passes to be
        # as steady as one over a long mix), then stop at the first query
        # boundary after --seconds. A traced run stops only at pass
        # boundaries and traces every even pass: untraced, traced,
        # untraced, ... at least three, so the trace overhead is measured
        # in the same JVM against untraced passes on both sides.
        min_passes = -(-MIN_WARM_SAMPLES // len(self.workload.mix))
        if self.tracer is not None:
            min_passes = max(3, min_passes)
        start = time.perf_counter()

        def time_up(pass_no: int) -> bool:
            return (pass_no > min_passes
                    and time.perf_counter() - start >= self.args.seconds)

        pass_no = 1
        while not time_up(pass_no):
            if self.tracer is not None:
                self.tracer.enabled = pass_no % 2 == 0
            for q in self.order(pass_no):
                if self.tracer is None and time_up(pass_no):
                    break
                self.execute(q, pass_no, check=pass_no == 1)
            self.tmp_after_pass.append(_dir_bytes(self.tmpdir) - self.tmp_at_start)
            pass_no += 1
        self.record["warm_wall_s"] = time.perf_counter() - start
        if self.tracer is not None:
            self.tracer.enabled = False

    # -- results -----------------------------------------------------------------

    def finish(self) -> dict:
        """Settle pass/fail of every execution against the checks."""
        failed_queries = {q for q in self.workload.mix
                          if q not in self.checks or not self.checks[q].ok}
        for ex in self.executions:
            if ex.latency is None:
                continue  # raised; already counted
            if ex.query in failed_queries:
                self.tally.mark_failed(f"{ex.query}: output check failed")
            elif ex.rows != self.checks[ex.query].rows:
                self.tally.mark_failed(
                    f"{ex.query} pass {ex.pass_no}: {ex.rows} rows in the status "
                    f"store, {self.checks[ex.query].rows} checked")

        self.record["artifacts_at_end"] = sorted(os.listdir(self.ann_dir))
        self.record["checks"] = [vars(c) for c in self.checks.values()]
        self.record["fail_reasons"] = self.tally.reasons
        self.record["tmp_bytes_after_pass"] = self.tmp_after_pass
        self.record["latencies"] = [
            {"query": e.query, "pass": e.pass_no, "traced": e.traced,
             "latency_s": e.latency, "rows": e.rows,
             "cleanup_s": e.layer.get("cleanup_s"), "check_s": e.layer.get("check_s")}
            for e in self.executions]
        code = summary.exit_code(list(self.checks.values()), self.tally, self.setup_errors)
        self.record["setup_errors"] = self.setup_errors
        metrics = self.layer_metrics() if self.tracer is not None else self.end_to_end()
        return {"correct": code == 0, "attempted": self.tally.attempted,
                "failed": self.tally.failed, "metrics": metrics, "exit_code": code,
                "fail_frac": self.tally.fail_frac,
                "record": self.record}

    def _latencies(self, pass_filter) -> dict[str, list[float]]:
        out: dict[str, list[float]] = {}
        for e in self.executions:
            if e.latency is not None and pass_filter(e):
                out.setdefault(e.query, []).append(e.latency)
        return out

    def end_to_end(self) -> dict:
        cold = self._latencies(lambda e: e.pass_no == 0)
        warm = self._latencies(lambda e: e.pass_no > 0)
        rss_parts = {"jvm": _vm_hwm_mb(self.stores.jvm_pid()), "python": _vm_hwm_mb("self")}
        self.record["peak_rss_mb"] = rss_parts
        rss = sum(rss_parts.values())
        values = {
            "setup_s": (self.setup_s, "s"),
            "cold_s": (sum(v[0] for v in cold.values()), "s"),
            "warm_s": (summary.warm_total(warm), "s"),
            "peak_rss_mb": (rss, "MB"),
        }
        return {k: {"value": v, "unit": u} for k, (v, u) in values.items()}

    def layer_metrics(self) -> dict:
        spans = self.tracer.spans
        passes_traced = sorted({e.pass_no for e in self.executions
                                if e.traced and e.pass_no > 0})
        n = len(passes_traced)
        warm_ids = {f"{self.workload.name}/{p}/{q}"
                    for p in passes_traced for q in self.workload.mix}
        warm_spans = [s for s in spans if s.exec_id in warm_ids]
        self_t = summary.self_time_by_name(spans, lambda s: s.exec_id in warm_ids)
        traced = [e for e in self.executions if e.traced and e.pass_no > 0]

        def per_pass(x: float) -> float:
            return summary.ratio(x, n)

        def total(key: str, sub: str | None = None) -> float:
            return sum((e.layer.get(key, {}) or {}).get(sub, 0) if sub else e.layer.get(key, 0)
                       for e in traced)

        lookups = [s for s in warm_spans if s.name == "ann_index.persisted"]
        hits = [s for s in lookups if s.attrs.get("hit")]
        trains = [s for s in spans if s.name == "ann_index.persisted" and not s.attrs.get("hit")]
        materialize_s = sum(t for k, t in self_t.items() if k.startswith("materialize."))
        layers_self = (self_t.get("build", 0.0) + self_t.get("io.load_table", 0.0)
                       + materialize_s + self_t.get("ann_index.persisted", 0.0)
                       + self_t.get("plan", 0.0) + self_t.get("exec", 0.0))
        warm_traced = sum(e.latency for e in traced if e.latency is not None)
        untraced = self._latencies(lambda e: e.pass_no > 0 and not e.traced)
        traced_lat = self._latencies(lambda e: e.pass_no > 0 and e.traced)
        both = untraced.keys() & traced_lat.keys()
        overhead = (summary.warm_total({q: traced_lat[q] for q in both})
                    - summary.warm_total({q: untraced[q] for q in both}))
        setup = self.record["setup"]
        v = {
            "session.start_s": (setup["session_start_s"], "s"),
            "registry.load_s": (setup["registry_load_s"], "s"),
            "io.load_table_calls": (per_pass(sum(s.name == "io.load_table" for s in warm_spans)), "count"),
            "io.load_table_s": (per_pass(self_t.get("io.load_table", 0.0)), "s"),
            "build.self_s": (per_pass(self_t.get("build", 0.0)), "s"),
            "build.jobs": (per_pass(total("build_jobs")), "count"),
            "materialize.calls": (per_pass(total("materialized")), "count"),
            "materialize.self_s": (per_pass(materialize_s), "s"),
            "materialize.cache_scan_ratio": (
                summary.ratio(total("materialized_scanned"), total("materialized")), "ratio"),
            "ann_index.lookups": (per_pass(len(lookups)), "count"),
            "ann_index.hit_ratio": (summary.ratio(len(hits), len(lookups)), "ratio"),
            "ann_index.train_s": (sum(s.duration for s in trains), "s"),
            "ann_index.serve_s": (per_pass(sum(s.duration for s in hits)), "s"),
            "plan.self_s": (per_pass(self_t.get("plan", 0.0)), "s"),
            "plan.exchanges": (per_pass(total("plan", "exchanges")), "count"),
            "plan.broadcast_joins": (per_pass(total("plan", "broadcast_joins")), "count"),
            "plan.sort_merge_joins": (per_pass(total("plan", "sort_merge_joins")), "count"),
            "exec.self_s": (per_pass(self_t.get("exec", 0.0)), "s"),
            "exec.jobs": (per_pass(total("exec", "jobs")), "count"),
            "exec.stages": (per_pass(total("exec", "stages")), "count"),
            "exec.tasks": (per_pass(total("exec", "tasks")), "count"),
            "exec.task_cpu_s": (per_pass(total("exec", "task_cpu_s")), "s"),
            "exec.shuffle_write_bytes": (per_pass(total("exec", "shuffle_write_bytes")), "B"),
            "exec.shuffle_read_bytes": (per_pass(total("exec", "shuffle_read_bytes")), "B"),
            "exec.spill_bytes": (per_pass(total("exec", "spill_bytes")), "B"),
            "exec.peak_memory_bytes": (max([(e.layer.get("exec") or {}).get("peak_memory_bytes", 0)
                                            for e in traced] or [0]), "B"),
            "arrow.rows_to_python": (per_pass(total("arrow", "rows_to_python")), "count"),
            "arrow.bytes_to_python": (per_pass(total("arrow", "bytes_to_python")), "B"),
            "arrow.bytes_from_python": (per_pass(total("arrow", "bytes_from_python")), "B"),
            "sinks.output_bytes": (per_pass(total("sink_bytes")), "B"),
            "sinks.tmp_bytes_left": (self.tmp_after_pass[-1], "B"),
            "streaming.batches": (per_pass(total("streaming", "batches")), "count"),
            "streaming.trigger_s": (per_pass(total("streaming", "trigger_s")), "s"),
            "streaming.add_batch_s": (per_pass(total("streaming", "add_batch_s")), "s"),
            "streaming.wal_commit_s": (per_pass(total("streaming", "wal_commit_s")), "s"),
            "jvm.gc_s": (per_pass(total("gc_s")), "s"),
            "jvm.heap_peak_mb": (self.stores.heap_peak_mb(), "MB"),
            "cleanup.s": (per_pass(total("cleanup_s")), "s"),
            "trace.warm_s": (per_pass(warm_traced), "s"),
            "trace.unattributed_s": (per_pass(warm_traced - layers_self), "s"),
            "trace.overhead_s": (overhead, "s"),
        }
        self.record["trace_passes"] = passes_traced
        self.record["spans"] = [
            {"name": s.name, "start": s.start, "end": s.end, "parent": s.parent,
             "exec_id": s.exec_id, **{k: a for k, a in s.attrs.items()
                                      if isinstance(a, (str, int, float, bool))}}
            for s in spans]
        return {k: {"value": val, "unit": u} for k, (val, u) in v.items()}

    def close(self) -> None:
        if self.tracer is not None:
            self.tracer.uninstall()
        if hasattr(self, "duck"):
            self.duck.close()
        self.spark.stop()


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), required=True)
    p.add_argument("--sf-dir", required=True)
    p.add_argument("--result", required=True)
    args = p.parse_args(argv)

    run = Run(args)
    try:
        run.setup(float(os.environ["PERFBENCH_SPAWN_T"]))
        run.run()
        result = run.finish()
    finally:
        if hasattr(run, "spark"):
            run.close()
    with open(args.result, "w") as fh:
        json.dump(result, fh)
    return result["exit_code"]


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
