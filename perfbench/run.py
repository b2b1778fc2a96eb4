#!/usr/bin/env python3
"""Benchmark of the pdal_spark tiling and kNN pipelines.

Run one workload from the repository root::

    python3 perfbench/run.py --workload tile_query --seed 1 --seconds 12 --trace 0

``--trace 0`` times untraced reps and prints the end-to-end metrics;
``--trace 1`` also runs traced reps (one action per layer) and prints
the per-layer metrics. The line before the last, prefixed
``perfbench-report``, gives the run's context; the last line of stdout
is ``{"correct", "attempted", "failed", "metrics"}``. perfbench/README.md
explains the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from dataclasses import dataclass, field
from pathlib import Path

import counters

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

END_TO_END = {
    "setup_s": "s",
    "rows_per_s": "rows/s",
    "shuffle_bytes_per_row": "bytes/row",
    "stored_bytes_per_row": "bytes/row",
}

PER_LAYER = {
    "session.jvm_start_s": "s", "session.py_warm_s": "s",
    "synth.self_s": "s", "geo.geocode_self_s": "s",
    "io.write_self_s": "s", "io.write_bytes": "bytes", "io.write_files": "count",
    "io.scan_self_s": "s", "io.scan_bytes": "bytes",
    "las.decode_self_s": "s", "las.tasks": "count", "las.points_per_s_per_core": "1/s",
    "crop.self_s": "s", "crop.rows_in": "count", "crop.rows_out": "count",
    "crop.bbox_pass_ratio": "ratio", "crop.pnp_keep_ratio": "ratio",
    "splitter.self_s": "s", "splitter.tiles": "count",
    "agg.self_s": "s",
    "exchange.shuffle_bytes": "bytes", "exchange.shuffle_records": "count",
    "exchange.spill_bytes": "bytes", "exchange.fetch_wait_ms": "ms",
    "pyboundary.total_ms": "ms", "pyboundary.boot_ms": "ms", "pyboundary.init_ms": "ms",
    "pyboundary.bytes_sent": "bytes", "pyboundary.bytes_received": "bytes",
    "pyboundary.rows_received": "count",
    "knn.self_s": "s", "knn.cand_replication": "ratio", "knn.salted_blocks": "count",
    "knn.pair_distances": "count", "knn.useful_pair_ratio": "ratio",
    "stage.task_skew": "ratio", "stage.max_task_s": "s", "stage.tasks": "count",
    "trace.rep_s": "s", "trace.untraced_rep_s": "s", "trace.overhead_s": "s",
    "trace.wall_s": "s",
}

# span (layer step) name -> its self-time metric
SELF_METRIC = {
    "synth": "synth.self_s", "geo": "geo.geocode_self_s", "io.write": "io.write_self_s",
    "io.scan": "io.scan_self_s", "las": "las.decode_self_s", "crop": "crop.self_s",
    "splitter": "splitter.self_s", "agg": "agg.self_s", "knn": "knn.self_s",
}

SETUP_ROUNDS = 3  # input builds per run; setup_s takes their median
# untimed warm-up: at least WARMUP_REPS reps and WARMUP_S seconds, so the
# first and slowest reps of a fresh JVM (codegen, JIT) are not timed
WARMUP_S = 4.0
WARMUP_REPS = 2
MIN_REPS = 5
NOT_COMPARABLE = ("BENCH_r01-r05 and BENCH/BASELINE.md were measured on a 32-vCPU "
                  "host; they are not comparable with these figures.")


def prepare_env(work: Path) -> None:
    """Keep every scratch file of Spark, the JVM and Python under ``work``."""
    for sub in ("tmp", "spark-local"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    tempfile.tempdir = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    # Python workers import pdal_spark from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p)
    # knn_join takes its pairwise plan when both inputs are under 64 MB;
    # pin the cogroup plan it runs at scale, which is what knn_skewed measures
    os.environ["PDAL_SPARK_FORCE_DISTRIBUTED"] = "1"
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))


def start_session(ncpu: int, work: Path):
    from pdal_spark.session import get_spark

    return get_spark(
        "perfbench", master=f"local[{ncpu}]", shuffle_partitions=max(ncpu, 8),
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.local.dir": str(work / "spark-local"),
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            # no hsperfdata file under /tmp: the run writes only inside its checkout
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
            # the inputs are ~100x smaller than production, so is AQE's floor
            # on coalesced partitions (default 1 MB): otherwise the kNN cogroup
            # collapses into one task, unlike its shape at scale
            "spark.sql.adaptive.coalescePartitions.minPartitionSize": "64k",
        })


def warm_python(spark, ncpu: int) -> None:
    """Start one Python worker per core, as the first pandas UDF would."""
    (spark.range(0, 4 * ncpu, 1, ncpu).mapInPandas(lambda it: it, "id long")
     .write.format("noop").mode("overwrite").save())


def stop_session(spark) -> None:
    """Stop Spark and wait until the JVM it launched has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# ---------------------------------------------------------------------------
# reps
# ---------------------------------------------------------------------------


def checked(check, *args) -> list[str]:
    """Errors an output check reports; a check that cannot run is one error."""
    try:
        return check(*args)
    except Exception as exc:
        return [f"check raised {exc!r}"[:300]]


@dataclass
class Rep:
    seconds: float | None  # None when the action raised
    errors: list[str]
    qe: object = None      # the QueryExecution that ran the final action
    layers: dict = field(default_factory=dict)

    @property
    def failed(self) -> bool:
        return bool(self.errors)


def shuffle_bytes(qe) -> int:
    return counters.plan_counters(counters.plan_nodes(qe.executedPlan()))["exchange.shuffle_bytes"]


def untraced_rep(wl) -> Rep:
    """Time the workload's final action alone, then check its output."""
    _, action = wl.steps()[-1]
    t0 = time.perf_counter()
    try:
        out, qe = action()
    except Exception as exc:  # a rep that raises counts as failed
        return Rep(None, [f"raised {exc!r}"[:300]])
    seconds = time.perf_counter() - t0
    return Rep(seconds, checked(wl.check, out), qe)


def run_steps(steps, sc, tracer, parent: str):
    """Run each step's action as one span under ``parent``; after each,
    read the tasks of its stages. Returns spans, outputs, stages, plans."""
    outputs, stages, plans, spans = {}, {}, {}, []
    try:
        for name, action in steps:
            group = f"{tracer.run_id}-{parent}-{name}"
            sc.setJobGroup(group, group)
            t0 = time.perf_counter()
            out, qe = action()
            spans.append(tracer.record(name, t0, time.perf_counter(), parent=parent))
            outputs[name], plans[name] = out, qe
            stages[name] = counters.group_stages(sc, group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return spans, outputs, stages, plans


def self_times(spans) -> dict:
    return {SELF_METRIC[n]: v for n, v in counters.prefix_self_times(spans).items()}


def traced_rep(wl, sc, tracer, rep_id: str) -> Rep:
    """One action per layer, in pipeline order, each a span; then counters."""
    t_rep = time.perf_counter()
    try:
        spans, outputs, stages, plans = run_steps(wl.steps(), sc, tracer, rep_id)
    except Exception as exc:
        return Rep(None, [f"raised {exc!r}"[:300]])
    final, qe = spans[-1].name, plans[spans[-1].name]
    layers = counters.plan_counters(counters.plan_nodes(qe.executedPlan()))
    layers.update(counters.stage_counters(stages[final]))
    layers.update(wl.layer_counters(outputs, stages, plans))
    layers.update(self_times(spans))
    layers["trace.rep_s"] = spans[-1].seconds
    layers["trace.wall_s"] = tracer.record(rep_id, t_rep, time.perf_counter()).seconds
    return Rep(spans[-1].seconds, checked(wl.check, outputs[final]), qe, layers)


def traced_setup(wl, sc, tracer) -> Rep:
    """One more build, one action per layer (for workloads whose build has layers)."""
    t0 = time.perf_counter()
    try:
        spans, _, _, _ = run_steps(wl.setup_steps(), sc, tracer, "setup")
    except Exception as exc:
        return Rep(None, [f"raised {exc!r}"[:300]])
    tracer.record("setup", t0, time.perf_counter())
    layers = self_times(spans)
    layers.update(wl.setup_counters())
    return Rep(spans[-1].seconds, checked(wl.setup_check), None, layers)


def rep_loop(make_rep, seconds: float, min_reps: int = MIN_REPS) -> list[Rep]:
    """Closed loop, one client: the next rep starts when the last one ends."""
    reps: list[Rep] = []
    deadline = time.perf_counter() + seconds
    while len(reps) < min_reps or time.perf_counter() < deadline:
        reps.append(make_rep(len(reps)))
    return reps


def tail(times: list[float]) -> dict:
    """Highest whole percentile of rep time with at least ten reps above it."""
    n = len(times)
    if n < 11:
        return {"note": f"{n} reps: too few for a tail percentile"}
    ordered = sorted(times)
    return {"percentile": (100 * (n - 10)) // n, "rep_s": ordered[n - 11]}


# ---------------------------------------------------------------------------
# main
# ---------------------------------------------------------------------------


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["tile_query", "laz_tile_query", "knn_skewed"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", choices=["full", "tiny"], default="full",
                    help="input sizes; tiny is for the benchmark's own tests")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    ncpu = len(os.sched_getaffinity(0))
    work = ROOT / ".perfbench_work" / f"run-{os.getpid()}"
    load_before = os.getloadavg()[0]
    prepare_env(work)
    spark = None
    try:
        import pyarrow
        import workloads

        t0 = time.perf_counter()
        spark = start_session(ncpu, work)
        session_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        warm_python(spark, ncpu)
        warm_s = time.perf_counter() - t0

        seeded = workloads.Seeded.from_seed(args.seed)
        wl = workloads.WORKLOADS[args.workload](spark, work, args.scale, seeded)
        builds = []
        for _ in range(SETUP_ROUNDS):
            t0 = time.perf_counter()
            wl.build()
            builds.append(time.perf_counter() - t0)
        setup_s = session_s + warm_s + statistics.median(builds)
        # a checked build is one operation, like a rep
        reps = [Rep(setup_s, checked(wl.setup_check))]
        wl.prepare_check()

        sc = spark.sparkContext
        tracer = counters.Tracer(f"{args.workload}-seed{args.seed}-{os.getpid()}")
        reps += rep_loop(lambda i: untraced_rep(wl), WARMUP_S, WARMUP_REPS)
        untimed = args.seconds / 2 if args.trace else args.seconds
        timed = rep_loop(lambda i: untraced_rep(wl), untimed)
        traced = (rep_loop(lambda i: traced_rep(wl, sc, tracer, f"rep{i}"), args.seconds / 2)
                  if args.trace else [])
        reps += timed + traced

        times = [r.seconds for r in timed if r.seconds is not None]
        if args.trace:
            ok = [r for r in traced if r.seconds is not None]
            med = sorted(ok, key=lambda r: r.seconds)[(len(ok) - 1) // 2].layers if ok else {}
            values = {k: med.get(k, 0) for k in PER_LAYER}
            if wl.setup_steps():
                reps.append(traced_setup(wl, sc, tracer))
                values.update(reps[-1].layers)
            values["session.jvm_start_s"] = session_s
            values["session.py_warm_s"] = warm_s
            values["trace.untraced_rep_s"] = statistics.median(times) if times else 0.0
            values["trace.overhead_s"] = values["trace.rep_s"] - values["trace.untraced_rep_s"]
            units = PER_LAYER
            spans_dir = ROOT / ".perfbench_work" / "spans"
            spans_dir.mkdir(parents=True, exist_ok=True)
            spans_file = spans_dir / f"{tracer.run_id}.json"
            tracer.dump(spans_file)
        else:
            # deterministic for a fixed plan, so one rep's counters suffice
            last = [r for r in timed if r.seconds is not None][-1:]
            values = {
                "setup_s": setup_s,
                "rows_per_s": statistics.median(wl.rows / t for t in times) if times else 0.0,
                "shuffle_bytes_per_row": shuffle_bytes(last[0].qe) / wl.rows if last else 0.0,
                "stored_bytes_per_row": wl.stored_bytes() / wl.rows,
            }
            units = END_TO_END
            spans_file = None

        failed = sum(r.failed for r in reps)
        report = {
            "workload": args.workload, "seed": args.seed, "scale": args.scale,
            "trace": args.trace, "input_rows": wl.rows, "reps_timed": len(times),
            "reps_traced": len(traced), "operations": len(reps), "failed": failed,
            "rep_s": ({"median": statistics.median(times), "min": min(times),
                       "max": max(times), "samples": len(times), "tail": tail(times),
                       "each": [round(t, 4) for t in times]}
                      if times else {}),
            "setup": {"session_s": session_s, "py_warm_s": warm_s, "build_s": builds},
            "nproc": ncpu, "master": f"local[{ncpu}]",
            "loadavg_1m_before": load_before, "loadavg_1m_after": os.getloadavg()[0],
            "java": sc._jvm.java.lang.System.getProperty("java.version"),
            "spark": spark.version, "pyarrow": pyarrow.__version__,
            "python": platform.python_version(),
            "seeded": seeded.describe(), "seed_free": workloads.SEED_FREE,
            "errors": [e for r in reps for e in r.errors][:10],
            "spans_file": str(spans_file.relative_to(ROOT)) if spans_file else None,
            "note": NOT_COMPARABLE,
        }
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    print("perfbench-report " + json.dumps(report), flush=True)
    print(json.dumps({
        "correct": failed == 0, "attempted": len(reps), "failed": failed,
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
