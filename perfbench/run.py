#!/usr/bin/env python3
"""Benchmark of the hearthstats_spark engine. Run from the repository root.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10 --trace 0

One run of one workload: write the seed's corpus and the run's empty
private directories (artifact store, Spark local dirs, TMPDIR, JVM
temp dir) under ``.perfbench_work/``, start a fresh worker process
(``perfbench/worker.py``) that runs the workload against them, stop
every process it started, remove the private directories, and print
the result as one JSON line on stdout: ``correct``, ``attempted``,
``failed`` and ``metrics`` — the end-to-end metrics with ``--trace
0``, the per-layer ones with ``--trace 1``. A readable summary goes
to stderr, and the full run record (host record, artifacts found,
checks, every latency and, when traced, every span) to
``.perfbench_out/<workload>-s<seed>-t<trace>.json``.

``--workload all`` runs every workload, each in its own fresh
process, and prints one table of all their metrics, ``fail_frac``
included. The exit status is 0 only when every output check passed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, os.getcwd())

WORK_DIR = ".perfbench_work"
OUT_DIR = ".perfbench_out"
WORKER_TIMEOUT_S = 160
STOP_WAIT_S = 5


def host_record() -> dict:
    """``nproc``, the load average and a fixed numpy CPU probe (median
    of three timings of one 4M-element draw and sum)."""
    import numpy as np

    probe = []
    for _ in range(3):
        t0 = time.perf_counter()
        float(np.random.default_rng(0).random(4_000_000).sum())
        probe.append(time.perf_counter() - t0)
    return {"nproc": len(os.sched_getaffinity(0)), "loadavg": os.getloadavg(),
            "cpu_probe_s": statistics.median(probe)}


def _session_pids(sid: int) -> list[int]:
    """Live (non-zombie) processes of session ``sid``. The worker leads
    its own session; the JVM and the PySpark daemon, which moves to a
    process group of its own, stay in it."""
    pids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[3]) == sid and fields[0] != "Z":
            pids.append(int(entry))
    return pids


def stop_session(sid: int) -> None:
    """Stop every process of the worker's session and wait until each
    has ended: SIGTERM, then SIGKILL for what is left."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        deadline = time.monotonic() + STOP_WAIT_S
        while pids := _session_pids(sid):
            if time.monotonic() > deadline:
                break
            for pid in pids:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass  # ended meanwhile
            time.sleep(0.2)
        else:
            return


def run_one(args) -> int:
    from perfbench import corpus

    os.makedirs(WORK_DIR, exist_ok=True)
    os.makedirs(OUT_DIR, exist_ok=True)
    name = f"{args.workload}-s{args.seed}-t{args.trace}"
    log_path = os.path.join(OUT_DIR, f"{name}.log")
    work = os.path.abspath(tempfile.mkdtemp(prefix=f"{name}-", dir=WORK_DIR))
    result, code = None, None
    try:
        dirs = {d: os.path.join(work, d) for d in ("data", "tmp", "jtmp", "local", "ann")}
        for d in dirs.values():
            os.makedirs(d)
        corpus.write(args.seed, dirs["data"])
        host_before = host_record()
        env = dict(
            os.environ,
            PYTHONPATH=os.pathsep.join(filter(None, [os.getcwd(), os.environ.get("PYTHONPATH")])),
            PYSPARK_PYTHON=sys.executable,
            TMPDIR=dirs["tmp"],
            SPARK_LOCAL_DIRS=dirs["local"],
            SPARK_GRAFT_ANN_CACHE_DIR=dirs["ann"],
            SPARK_GRAFT_CPUS=str(host_before["nproc"]),
            JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={dirs['jtmp']} -XX:-UsePerfData",
            PERFBENCH_SPAWN_T=repr(time.time()),
        )
        result_path = os.path.join(work, "result.json")
        cmd = [sys.executable, "perfbench/worker.py", "--workload", args.workload,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace), "--sf-dir", dirs["data"],
               "--result", result_path]
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, env=env, stdin=subprocess.DEVNULL,
                                    stdout=log, stderr=log, start_new_session=True)
            try:
                code = proc.wait(timeout=WORKER_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                print(f"worker exceeded {WORKER_TIMEOUT_S} s; stopped", file=sys.stderr)
            finally:
                stop_session(proc.pid)
                proc.wait()
        host_after = host_record()
        if os.path.isfile(result_path):
            with open(result_path) as fh:
                result = json.load(fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    if result is None or code is None:
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-4000:])
        print(f"no result from the worker (exit {code}); log: {log_path}", file=sys.stderr)
        return 1

    record = result["record"]
    record["host"] = {"before": host_before, "after": host_after}
    with open(os.path.join(OUT_DIR, f"{name}.json"), "w") as fh:
        json.dump(record, fh)
    print(f"{name}: correct={result['correct']} attempted={result['attempted']} "
          f"failed={result['failed']} fail_frac={result['fail_frac']:.4f}", file=sys.stderr)
    for reason in record["fail_reasons"] + record["setup_errors"]:
        print(f"  FAIL {reason}", file=sys.stderr)
    for metric, v in result["metrics"].items():
        print(f"  {metric:32s} {v['value']:.6g} {v['unit']}", file=sys.stderr)
    print(f"  host before {host_before}\n  host after  {host_after}", file=sys.stderr)
    print(json.dumps({k: result[k] for k in ("correct", "attempted", "failed", "metrics")}))
    return 0 if result["correct"] else 1


def run_all(args) -> int:
    """Every workload in its own fresh process; one table on stdout."""
    from perfbench.workloads import WORKLOADS

    worst = 0
    rows = []
    for workload in WORKLOADS:
        cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        worst = max(worst, proc.returncode)
        lines = proc.stdout.strip().splitlines()
        if not lines:
            rows.append((workload, "error", float("nan"), f"exit {proc.returncode}"))
            continue
        res = json.loads(lines[-1])
        rows.append((workload, "fail_frac", res["failed"] / res["attempted"], "ratio"))
        for metric, v in res["metrics"].items():
            rows.append((workload, metric, v["value"], v["unit"]))
    for workload, metric, value, unit in rows:
        print(f"{workload:12s} {metric:32s} {value:14.6g} {unit}")
    return worst


def main(argv: list[str]) -> int:
    from perfbench.workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS) + ["all"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True,
                   help="length of the warm phase of a run")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0,
                   help="1: a traced run reporting the per-layer metrics")
    args = p.parse_args(argv)
    if not os.path.isfile(os.path.join("hearthstats_spark", "__init__.py")):
        print("run from the repository root: hearthstats_spark/ not found",
              file=sys.stderr)
        return 2
    return run_all(args) if args.workload == "all" else run_one(args)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
