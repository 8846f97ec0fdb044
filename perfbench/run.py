"""Cold-to-warm benchmark of the presto_spark engine.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 5 --trace 0

One run is one closed-loop client: a fresh engine process with one
SparkSession runs one query at a time.  The run

1. writes seeded input tables under ``.perfbench/data`` (``datagen.py``);
2. starts the engine process (``engine_run.py``) with pinned settings —
   task slots, driver heap, the workers' ``PYTHONPATH``, the data
   directory and the seed — rather than inheriting the caller's;
3. measures set-up and a cold pass over the workload's rows, runs
   untimed warm-up passes, then times warm passes: an odd number, at
   least three, lasting at least ``--seconds`` seconds;
4. checks every collected result against the row's DuckDB oracle, after
   the engine process has exited;
5. prints a summary line with sample counts and host diagnostics, then,
   as the last line, ``{"correct", "attempted", "failed", "metrics"}``:
   the end-to-end metrics with ``--trace 0``, the per-layer metrics with
   ``--trace 1``.

Every run's full record is also saved under ``.perfbench/results`` (or
``--results DIR``), which is what ``compare.py`` reads.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import pickle
import signal
import statistics
import subprocess
import sys
import time

import datagen
import oracle
import procfs
from spans import self_times
from workloads import DRIVER_MEM, TASK_SLOTS, WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

CHILD_TIMEOUT_S = 150

END_TO_END_UNITS = {
    "setup_s": "s", "first_result_s": "s", "cold_pass_s": "s",
    "warm_pass_s": "s", "query_geomean_s": "s", "cpu_s": "s",
    "peak_rss_mb": "MB", "query_success_rate": "ratio",
}
# Traced set-up layers: each one's metric is its span's self time.
SETUP_SPANS = ("session.get_spark", "session.tune_for_input",
               "sources.register_tables", "functions.register_functions")
PASS_METRICS = {
    # name: (unit, how to get it from one pass record)
    "queries.build_s": ("s", lambda p: _rows_sum(p, "build_s")),
    "spark.plan_s": ("s", lambda p: _rows_sum(p, "plan_s")),
    "spark.exec_s": ("s", lambda p: _rows_sum(p, "exec_s")),
    "queries.build_jobs": ("count", lambda p: _ctr(p, "build_jobs")),
    "spark.jobs": ("count", lambda p: _ctr(p, "jobs")),
    "spark.stages": ("count", lambda p: _ctr(p, "stages")),
    "spark.tasks": ("count", lambda p: _ctr(p, "tasks")),
    "spark.task_run_s": ("s", lambda p: _ctr(p, "task_run_s")),
    "spark.task_jvm_cpu_s": ("s", lambda p: _ctr(p, "task_jvm_cpu_s")),
    "spark.task_nonjvm_s": ("s", lambda p: _ctr(p, "task_run_s") - _ctr(p, "task_jvm_cpu_s")),
    "spark.task_gc_s": ("s", lambda p: _ctr(p, "task_gc_s")),
    "spark.shuffle_read_mb": ("MB", lambda p: _ctr(p, "shuffle_read_mb")),
    "spark.shuffle_write_mb": ("MB", lambda p: _ctr(p, "shuffle_write_mb")),
    "spark.spill_mb": ("MB", lambda p: _ctr(p, "spill_mb")),
    "spark.python_eval_nodes": ("count", lambda p: _ctr(p, "python_eval_nodes")),
    "spark.result_rows": ("count", lambda p: _ctr(p, "result_rows")),
    "jvm.process_cpu_s": ("s", lambda p: p["cpu"]["jvm"]),
    "python_workers.cpu_s": ("s", lambda p: p["cpu"]["workers"]),
    "driver.python_cpu_s": ("s", lambda p: p["cpu"]["driver"]),
}


def _rows_sum(p: dict, key: str) -> float:
    return sum(r.get(key, 0.0) for r in p["rows"])


def _ctr(p: dict, key: str) -> float:
    return sum(r.get("counters", {}).get(key, 0.0) for r in p["rows"])


def geomean(xs) -> float:
    xs = list(xs)
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def warm_passes(out: dict, traced: bool) -> list[dict]:
    """The timed warm passes, traced or untraced."""
    return [p for p in out["passes"][1:] if p["timed"] and p["traced"] == traced]


def end_to_end(out: dict, attempted: int, failed: int) -> dict[str, float]:
    """The user-visible metrics, from untraced passes only."""
    warm = warm_passes(out, False)
    lat: dict[str, list[float]] = {}
    for p in warm:
        for r in p["rows"]:
            lat.setdefault(r["name"], []).append(r["lat_s"])
    return {
        "setup_s": out["setup_s"],
        "first_result_s": out["first_result_s"],
        "cold_pass_s": out["passes"][0]["wall_s"],
        "warm_pass_s": statistics.median(p["wall_s"] for p in warm),
        "query_geomean_s": geomean(statistics.median(v) for v in lat.values()),
        "cpu_s": statistics.median(p["cpu"]["total"] for p in warm),
        "peak_rss_mb": sum(out["hwm_mb"].values()),
        "query_success_rate": 1.0 - failed / attempted,
    }


def per_layer(out: dict, host: dict) -> dict[str, tuple[float, str]]:
    """Layer metrics from a traced run: set-up layers from the process's
    one set-up, pass layers for the cold pass and the traced warm passes."""
    layer = out["layer"]
    m: dict[str, tuple[float, str]] = {
        "python.import_s": (out["python.import_s"], "s"),
        "sources.register_tables_jobs": (layer["sources.register_tables_jobs"][0], "count"),
        "functions.registered_n": (layer["functions.registered_n"][0], "count"),
    }
    own = self_times(out["spans"])
    for name in SETUP_SPANS:
        m[name + "_s"] = (sum(own[s["id"]] for s in out["spans"] if s["name"] == name), "s")
    cold = out["passes"][0]
    warm = warm_passes(out, True)
    plain = warm_passes(out, False)
    for name, (unit, get) in PASS_METRICS.items():
        m[f"cold.{name}"] = (get(cold), unit)
        m[f"warm.{name}"] = (statistics.median(get(p) for p in warm), unit)
    traced_wall = statistics.median(p["wall_s"] for p in warm)
    plain_wall = statistics.median(p["wall_s"] for p in plain)
    m["trace.overhead_pct"] = (100.0 * (traced_wall - plain_wall) / plain_wall, "%")
    m["host.calib_s"] = (host["host.calib_s"], "s")
    m["host.steal_pct"] = (host["host.steal_pct"], "%")
    m["host.loadavg_1m"] = (host["host.loadavg_1m"], "load")
    return m


def pinned_env(work: str) -> dict[str, str]:
    env = {k: v for k, v in os.environ.items()
           if not k.startswith(("SPARK_GRAFT_", "PYSPARK_", "SPARK_LOCAL_"))}
    env.update({
        "PYTHONPATH": ROOT,  # Python workers import presto_spark too
        "PYTHONHASHSEED": "0",
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
    })
    return env


def stop_session(sid: int, timeout_s: float = 20.0) -> None:
    """Kill whatever is left of the engine process's session (JVM, Python
    workers) and wait until it is gone."""
    deadline = time.time() + timeout_s
    while True:
        pids = procfs.session_pids(sid)
        if not pids:
            return
        for pid in pids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        if time.time() > deadline:
            raise RuntimeError(f"engine processes still alive: {pids}")
        time.sleep(0.1)


def run_engine(args, work: str, sf_dir: str) -> dict | None:
    out_path = os.path.join(work, "tmp", f"run-{os.getpid()}.pkl")
    log_path = os.path.join(work, "logs", f"{args.workload}-{args.seed}-{os.getpid()}.log")
    cmd = [sys.executable, os.path.join(HERE, "engine_run.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--sf-dir", sf_dir, "--out", out_path]
    with open(log_path, "w") as log:
        launch = time.time()
        proc = subprocess.Popen(cmd + ["--launch", repr(launch)],
                                cwd=os.path.join(work, "cwd"), env=pinned_env(work),
                                stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=CHILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            stop_session(proc.pid)
            proc.wait()
    if rc != 0:
        with open(log_path) as fh:
            tail = fh.read()[-3000:]
        print(f"engine process failed (rc={rc}); log {log_path}:\n{tail}", file=sys.stderr)
        return None
    with open(out_path, "rb") as fh:
        out = pickle.load(fh)  # written by engine_run.py of this run
    os.remove(out_path)
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--results", default=None, help="directory for run records")
    args = ap.parse_args(argv)
    # Turn SIGTERM into SystemExit so the engine's processes are stopped
    # on the way out (run_engine's finally).
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    missing = [p for p in ("presto_spark", os.path.join("tools", "diffcheck.py"))
               if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"not an engine checkout: {', '.join(missing)} missing under {ROOT}",
              file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench")
    for d in ("tmp", "spark-local", "cwd", "logs", "data"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    sf_dir = datagen.write(os.path.join(work, "data", f"seed-{args.seed}"), args.seed)

    host = {"host.calib_s": procfs.calibration_s(), "host.loadavg_1m": procfs.loadavg_1m()}
    cpu0 = procfs.cpu_times()
    out = run_engine(args, work, sf_dir)
    host["host.steal_pct"] = procfs.steal_pct(cpu0, procfs.cpu_times())
    if out is None:
        return 1

    rows = WORKLOADS[args.workload]
    want = oracle.expected(ROOT, sf_dir, rows)
    attempted, bad = oracle.count_failures(
        out["results"], want, oracle.load_diffcheck(ROOT).normalize)
    for msg in bad:
        print(f"MISMATCH {msg}", file=sys.stderr)

    e2e = end_to_end(out, attempted, len(bad))
    if args.trace:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in per_layer(out, host).items()}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in e2e.items()}
    samples = {
        "warmup_passes": sum(1 for p in out["passes"] if not p["timed"]),
        "warm_passes": len(warm_passes(out, False)),
        "traced_warm_passes": len(warm_passes(out, True)),
        "rows_per_pass": len(rows),
        "results": attempted,
    }
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "run_id": out["run_id"],
        "settings": {"task_slots": TASK_SLOTS, "driver_mem": DRIVER_MEM,
                     "sf_dir": os.path.relpath(sf_dir, ROOT),
                     "rows": list(rows), "sizes": datagen.SIZES},
        "samples": samples, "host": host, "end_to_end": e2e, "hwm_mb": out["hwm_mb"],
        "setup_layers": out["layer"], "python.import_s": out["python.import_s"],
        "metrics": metrics, "failures": bad,
        "passes": [{k: p[k] for k in ("pass", "timed", "traced", "wall_s", "cpu", "rows")}
                   for p in out["passes"]],
    }
    results = args.results or os.path.join(work, "results")
    os.makedirs(results, exist_ok=True)
    stem = f"{args.workload}-trace{args.trace}-seed{args.seed}-{out['run_id'].rsplit('-', 1)[1]}"
    with open(os.path.join(results, stem + ".json"), "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    if args.trace:
        with open(os.path.join(results, stem + ".spans.json"), "w") as fh:
            json.dump(out["spans"], fh)

    print(json.dumps({"samples": samples, "host": host}))
    print(json.dumps({"correct": not bad, "attempted": attempted, "failed": len(bad),
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
