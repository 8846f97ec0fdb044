"""One benchmark run inside a fresh engine process.

Started by ``run.py`` with the engine settings pinned in its
environment.  It times the engine's public entry points from outside:
set-up (``get_spark``, ``tune_for_input``, ``prepare`` with its
``register_tables``/``register_functions`` calls), then, per registry
row, the builder, Spark planning and ``collect()``.  It runs one cold
pass, ``WARMUP_PASSES`` untimed warm-up passes, then timed warm passes:
an odd number, at least three, lasting at least ``--seconds`` seconds.
Everything it measured, and every collected result (warm-up passes
included), goes to one pickle that ``run.py`` turns into metrics and
checks against the oracles.

With ``--trace 1`` each row also runs under its own Spark job group, so
the jobs it started (builder jobs included) can be read back from the
status store, and spans around each layer call are written once at the
end.  Timed passes then alternate traced and untraced in ABBA order (a
multiple of four), so the run can state its own tracing overhead.
"""

from __future__ import annotations

import argparse
import os
import pickle
import re
import sys
import time

from py4j.protocol import Py4JJavaError

import procfs
from spans import Tracer
from workloads import DRIVER_MEM, TASK_SLOTS, WORKLOADS, pass_order

# After the cold pass the JVM's JIT keeps lowering per-pass CPU for
# several passes (about five on a 4-vCPU VM).  One untimed pass takes
# out the steepest step; more do not fit the benchmark's time budget.
WARMUP_PASSES = 1

PYTHON_NODES = re.compile(
    r"\b(?:ArrowEvalPython|BatchEvalPython|MapInPandas|MapInArrow|"
    r"FlatMap(?:CoGroups|Groups)In(?:Pandas|Arrow)|AggregateInPandas|"
    r"ArrowAggregatePython|WindowInPandas|ArrowWindowPython|"
    r"(?:Arrow|Batch)EvalPythonUDTF)")


def tree_split(root: int) -> dict[str, float]:
    """CPU seconds of this process tree, split into driver Python, JVM
    and Python workers (everything the JVM started)."""
    tree = procfs.tree_cpu(root)
    split = {"driver": 0.0, "jvm": 0.0, "workers": 0.0}
    for pid, (comm, cpu) in tree.items():
        split["driver" if pid == root else "jvm" if comm == "java" else "workers"] += cpu
    split["total"] = sum(split.values())
    return split


def hwm_mb(root: int) -> dict[str, float]:
    """VmHWM of the driver Python and of the JVM."""
    tree = procfs.tree_cpu(root)
    return {"driver": procfs.vm_hwm_mb(root),
            "jvm": sum(procfs.vm_hwm_mb(pid) for pid, (comm, _) in tree.items()
                       if comm == "java")}


class Engine:
    """The engine session plus the traced wrappers around its layers."""

    def __init__(self, args, tracer: Tracer):
        self.args = args
        self.tracer = tracer
        self.layer: dict[str, list[float]] = {}

    def note(self, key: str, value: float) -> None:
        self.layer.setdefault(key, []).append(value)

    def wrap(self, module, attr: str, key: str, count: str | None = None) -> None:
        """Trace ``module.attr`` wherever the engine calls it by that name;
        with ``count``, also note the length of what it returns."""
        fn = getattr(module, attr)

        def traced(spark, *a, **k):
            group = f"setup:{key}:{len(self.layer.get(key + '_jobs', []))}"
            if self.tracer.enabled:
                spark.sparkContext.setJobGroup(group, group)
            with self.tracer.span(key):
                out = fn(spark, *a, **k)
            if count:
                self.note(count, len(out))
            if self.tracer.enabled:
                self.note(key + "_jobs", len(job_ids(spark, group)))
            return out

        setattr(module, attr, traced)

    def setup(self):
        """get_spark → tune_for_input → prepare; returns the session."""
        from presto_spark.queries import base
        from presto_spark.session import get_spark, tune_for_input

        a = self.args
        with self.tracer.span("session.get_spark"):
            spark = get_spark(
                "perfbench", cpus=TASK_SLOTS,
                # -XX:-UsePerfData: no hsperfdata file outside the checkout.
                extra_conf={"spark.driver.extraJavaOptions":
                            f"-Xms{DRIVER_MEM} -XX:-UsePerfData "
                            f"-Djava.io.tmpdir={os.environ['TMPDIR']}"})
        with self.tracer.span("session.tune_for_input"):
            tune_for_input(spark, a.sf_dir)
        with self.tracer.span("queries.prepare"):
            base.prepare(spark, a.sf_dir)
        return spark


def job_ids(spark, group: str) -> list[int]:
    return sorted(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def stage_counters(spark, jobs: list[int]) -> dict[str, float]:
    """Totals over the stages the given jobs ran (skipped stages ignored)."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    tracker = sc.statusTracker()
    stages = set()
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is not None:
            stages.update(info.stageIds)
    c = dict.fromkeys(("stages", "tasks", "task_run_s", "task_jvm_cpu_s",
                       "task_gc_s", "shuffle_read_mb", "shuffle_write_mb",
                       "spill_mb"), 0.0)
    mb = 1024.0 * 1024.0
    for sid in sorted(stages):
        try:
            sd = store.lastStageAttempt(sid)
        except Py4JJavaError:  # the stage was evicted or never attempted
            continue
        if sd.status().toString() == "SKIPPED":
            continue
        c["stages"] += 1
        c["tasks"] += sd.numCompleteTasks()
        c["task_run_s"] += sd.executorRunTime() / 1e3
        c["task_jvm_cpu_s"] += sd.executorCpuTime() / 1e9
        c["task_gc_s"] += sd.jvmGcTime() / 1e3
        c["shuffle_read_mb"] += (sd.shuffleRemoteBytesRead()
                                 + sd.shuffleLocalBytesRead()) / mb
        c["shuffle_write_mb"] += sd.shuffleWriteBytes() / mb
        c["spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / mb
    return c


def run_row(eng: Engine, spark, name: str, pass_no: int, traced: bool) -> tuple[dict, dict]:
    """Build, plan and collect one registry row; (timings, result)."""
    from presto_spark.queries import REGISTRY

    sc = spark.sparkContext
    tr = eng.tracer if traced else Tracer(eng.tracer.run_id, False)
    group = f"p{pass_no}:{name}"
    rec = {"name": name, "pass": pass_no}
    res = {"name": name, "pass": pass_no, "error": None, "cols": None, "rows": None}
    df = None
    t0 = time.perf_counter()
    try:
        with tr.span("row", row=name, pass_no=pass_no):
            if traced:
                sc.setJobGroup(group + ":build", group)
            with tr.span("queries.build"):
                df = REGISTRY[name].spark(spark, eng.args.sf_dir)
            t1 = time.perf_counter()
            if traced:
                sc.setJobGroup(group + ":exec", group)
            with tr.span("spark.plan"):
                df._jdf.queryExecution().executedPlan()
            t2 = time.perf_counter()
            with tr.span("spark.exec"):
                rows = df.collect()
            t3 = time.perf_counter()
        rec.update(build_s=t1 - t0, plan_s=t2 - t1, exec_s=t3 - t2, lat_s=t3 - t0)
        res["cols"] = list(df.columns)
        res["rows"] = [tuple(r) for r in rows]
    except Exception as e:  # noqa: BLE001 - a failed row is counted, the run goes on
        rec["lat_s"] = time.perf_counter() - t0
        res["error"] = f"{type(e).__name__}: {str(e)[:400]}"
    rec["done_at"] = time.time()
    if traced:
        build = job_ids(spark, group + ":build")
        execj = job_ids(spark, group + ":exec")
        rec["counters"] = stage_counters(spark, build + execj)
        rec["counters"].update(
            jobs=len(build) + len(execj), build_jobs=len(build),
            result_rows=len(res["rows"] or ()),
            python_eval_nodes=len(PYTHON_NODES.findall(
                df._jdf.queryExecution().executedPlan().toString()))
            if df is not None and res["error"] is None else 0)
        sc.setJobGroup("idle", "idle")
    return rec, res


def run_pass(eng: Engine, spark, rows, pass_no: int, traced: bool, out: dict,
             timed: bool = True) -> None:
    me = os.getpid()
    cpu0 = tree_split(me)
    t0 = time.perf_counter()
    recs = []
    for name in pass_order(rows, eng.args.seed, pass_no):
        rec, res = run_row(eng, spark, name, pass_no, traced)
        recs.append(rec)
        out["results"].append(res)
    wall = time.perf_counter() - t0
    cpu1 = tree_split(me)
    out["passes"].append({
        "pass": pass_no, "timed": timed, "traced": traced, "wall_s": wall, "rows": recs,
        "cpu": {k: cpu1[k] - cpu0[k] for k in cpu0}})


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--launch", type=float, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    run_id = f"{args.workload}-{args.seed}-{int(args.launch * 1e3)}"
    tracer = Tracer(run_id, bool(args.trace))
    eng = Engine(args, tracer)
    out = {"run_id": run_id, "passes": [], "results": []}
    with tracer.span("setup"):
        with tracer.span("python.import"):
            from presto_spark.queries import base
        out["python.import_s"] = time.time() - args.launch
        eng.wrap(base, "register_tables", "sources.register_tables")
        eng.wrap(base, "register_functions", "functions.register_functions",
                 count="functions.registered_n")
        spark = eng.setup()
    out["setup_s"] = time.time() - args.launch

    rows = WORKLOADS[args.workload]
    run_pass(eng, spark, rows, 0, bool(args.trace), out)
    out["first_result_s"] = out["passes"][0]["rows"][0]["done_at"] - args.launch

    for w in range(WARMUP_PASSES):
        run_pass(eng, spark, rows, w + 1, False, out, timed=False)
    # Timed window: at least --seconds, in whole groups of passes: an odd
    # number (a median is one pass) of at least three, or, when traced,
    # a multiple of four (traced and untraced passes alternate ABBA).
    whole = (lambda k: k % 4 == 0) if args.trace else (lambda k: k % 2 == 1)
    t0 = time.perf_counter()
    k = 0
    while k < 3 or time.perf_counter() - t0 < args.seconds or not whole(k):
        run_pass(eng, spark, rows, WARMUP_PASSES + k + 1,
                 bool(args.trace) and k % 4 in (0, 3), out)
        k += 1
    out["hwm_mb"] = hwm_mb(os.getpid())
    spark.stop()

    out["layer"] = eng.layer
    out["spans"] = tracer.spans
    with open(args.out, "wb") as fh:
        pickle.dump(out, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
