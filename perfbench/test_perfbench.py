"""Tests of the benchmark itself (not of pdal_spark).

Run from the repository root::

    python -m pytest perfbench -q -p no:cacheprovider

The subprocess tests run each workload at the tiny scale exactly as the
benchmark command would; the in-process tests corrupt one result and
check that the rep is counted as failed.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile
from pathlib import Path
from types import SimpleNamespace

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import counters  # noqa: E402
import run  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
WORKLOADS = [w["name"] for w in SPEC["workloads"]]

# per-layer metrics that must be non-zero on a workload: its layers ran
APPLIES = {
    "tile_query": ["synth.self_s", "io.write_self_s", "io.write_bytes", "io.write_files",
                   "io.scan_self_s", "io.scan_bytes", "crop.rows_in", "crop.rows_out",
                   "crop.bbox_pass_ratio", "crop.pnp_keep_ratio", "splitter.tiles",
                   "exchange.shuffle_bytes", "exchange.shuffle_records"],
    "laz_tile_query": ["las.decode_self_s", "las.tasks", "las.points_per_s_per_core",
                       "crop.rows_in", "crop.rows_out", "splitter.tiles",
                       "pyboundary.total_ms", "pyboundary.bytes_received",
                       "pyboundary.rows_received"],
    "knn_skewed": ["io.scan_self_s", "knn.cand_replication", "knn.pair_distances",
                   "knn.useful_pair_ratio", "exchange.shuffle_bytes",
                   "pyboundary.total_ms", "pyboundary.bytes_sent",
                   "pyboundary.rows_received"],
}
COMMON = ["session.jvm_start_s", "session.py_warm_s", "stage.tasks", "stage.max_task_s",
          "stage.task_skew", "trace.rep_s", "trace.untraced_rep_s", "trace.wall_s"]


def bench(workload: str, trace: int) -> tuple[dict, dict]:
    cmd = SPEC["command"] + ["--workload", workload, "--seed", "3", "--seconds", "1",
                             "--trace", str(trace), "--scale", "tiny"]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    assert lines[-2].startswith("perfbench-report ")
    return json.loads(lines[-2].split(" ", 1)[1]), json.loads(lines[-1])


@pytest.mark.parametrize("workload", WORKLOADS)
@pytest.mark.parametrize("trace", [0, 1])
def test_tiny_run_prints_every_metric_with_its_unit(workload, trace):
    report, result = bench(workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0, report["errors"]
    assert result["attempted"] >= 1 + run.MIN_REPS
    wanted = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {m["name"]: m["unit"] for m in wanted} == {
        k: v["unit"] for k, v in result["metrics"].items()}
    values = {k: v["value"] for k, v in result["metrics"].items()}
    if not trace:
        assert all(v > 0 for v in values.values()), values
    else:
        zero = [m for m in APPLIES[workload] + COMMON if not values[m] > 0]
        assert not zero, zero
        spans_file = ROOT / report["spans_file"]
        spans = json.loads(spans_file.read_text())
        spans_file.unlink()
        check_self_times_add_up(spans, values)
    for key in ("nproc", "master", "loadavg_1m_before", "loadavg_1m_after", "java",
                "spark", "pyarrow", "input_rows", "reps_timed", "seed_free", "note"):
        assert key in report, key


def check_self_times_add_up(spans: list[dict], values: dict) -> None:
    """In every traced rep (and traced set-up), the prefix self times add up
    to the last span; the reported self times add up to trace.rep_s."""
    tops = [s["name"] for s in spans if s["parent"] is None]
    assert any(t.startswith("rep") for t in tops)
    for top in tops:
        steps = [counters.Span(**s) for s in spans if s["parent"] == top]
        assert steps
        selfs = counters.prefix_self_times(steps)
        assert sum(selfs.values()) == pytest.approx(steps[-1].seconds, abs=1e-9)
        if top.startswith("rep"):
            reported = [values[run.SELF_METRIC[n]] for n in selfs]
    assert sum(reported) == pytest.approx(values["trace.rep_s"], abs=1e-9)


def test_prefix_self_times_telescope():
    spans = [counters.Span("io.scan", 0.0, 1.0, "r", "x"),
             counters.Span("crop", 1.0, 2.5, "r", "x"),
             counters.Span("agg", 2.5, 4.5, "r", "x")]
    assert counters.prefix_self_times(spans) == {"io.scan": 1.0, "crop": 0.5, "agg": 0.5}


# ---------------------------------------------------------------------------
# corrupted results, in process
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def bench_session():
    work = ROOT / ".perfbench_work" / f"test-{os.getpid()}"
    with pytest.MonkeyPatch.context() as mp:
        # prepare_env rewrites these; the context restores them afterwards
        for var in ("TMPDIR", "SPARK_LOCAL_DIRS", "PYTHONPATH", "PDAL_SPARK_FORCE_DISTRIBUTED"):
            mp.setenv(var, os.environ.get(var, ""))
        mp.setattr(tempfile, "tempdir", tempfile.tempdir)
        run.prepare_env(work)
        spark = run.start_session(len(os.sched_getaffinity(0)), work)
        try:
            yield SimpleNamespace(spark=spark, work=work)
        finally:
            run.stop_session(spark)
            shutil.rmtree(work, ignore_errors=True)


def corrupt_final_step(wl, corrupt):
    steps = wl.steps

    def corrupted():
        s = steps()
        name, action = s[-1]

        def bad():
            out, qe = action()
            return corrupt(out), qe

        return s[:-1] + [(name, bad)]

    wl.steps = corrupted


def make(bench, name):
    import workloads

    wl = workloads.WORKLOADS[name](bench.spark, bench.work, "tiny", workloads.Seeded.from_seed(7))
    wl.build()
    wl.prepare_check()
    return wl


def assert_counted_as_failed(bench, wl):
    tracer = counters.Tracer("test")
    reps = run.rep_loop(lambda i: run.untraced_rep(wl), 0.0)
    reps.append(run.traced_rep(wl, bench.spark.sparkContext, tracer, "t"))
    assert all(r.failed and r.seconds is not None for r in reps), [r.errors for r in reps]


def test_tile_count_off_by_one_is_caught(bench_session):
    from pyspark.sql import Row

    wl = make(bench_session, "tile_query")
    assert not run.untraced_rep(wl).failed

    def off_by_one(rows):
        first = rows[0].asDict()
        first["n"] += 1
        return [Row(**first)] + rows[1:]

    corrupt_final_step(wl, off_by_one)
    assert_counted_as_failed(bench_session, wl)


def test_swapped_knn_neighbour_is_caught(bench_session):
    import workloads

    wl = make(bench_session, "knn_skewed")
    assert not run.untraced_rep(wl).failed
    checked = wl.ids[wl.seeded.sample(len(wl.ids), workloads.CHECK_SAMPLE, 2)[0]]

    def swap_first_two(pdf):
        pdf = pdf.copy()
        rows = pdf.index[(pdf["src_id"] == checked) & pdf["rank"].isin([1, 2])]
        pdf.loc[rows, "cand_id"] = pdf.loc[rows[::-1], "cand_id"].to_numpy()
        return pdf

    corrupt_final_step(wl, swap_first_two)
    assert_counted_as_failed(bench_session, wl)
