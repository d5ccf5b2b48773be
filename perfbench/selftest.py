"""Self-tests of the benchmark's own code: seeded generators, output
checks, and the event-log parser.

    python3 perfbench/selftest.py

Run from the root of a checkout; exits non-zero on the first failure.
"""

from __future__ import annotations

import filecmp
import json
import os
import shutil
import sys

import numpy as np
import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import inputs  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402

WORK = os.path.join(HERE, ".work", f"selftest-{os.getpid()}")


def _values(meta: dict) -> dict:
    """A generator's description without its file paths."""
    return {k: v for k, v in meta.items() if not isinstance(v, str)}


def generators_repeat() -> None:
    for name in ("autots_single", "curate_full"):
        gen = getattr(inputs, name)
        a, b, c = (os.path.join(WORK, name, d) for d in "abc")
        meta_a, meta_b, meta_c = gen(7, a), gen(7, b), gen(8, c)
        files = sorted(os.listdir(a))
        match, mismatch, errors = filecmp.cmpfiles(a, b, files, shallow=False)
        assert files and match == files, f"{name}: seed 7 wrote different bytes: {mismatch + errors}"
        assert _values(meta_a) == _values(meta_b)
        # curate_full's corpus is fixed; its seed picks the slices
        _, diff, _ = filecmp.cmpfiles(a, c, files, shallow=False)
        assert diff or _values(meta_a) != _values(meta_c), f"{name}: seeds 7 and 8 gave the same inputs"


def _must_fail(fn, *args) -> None:
    try:
        fn(*args)
    except checks.CheckFailed:
        return
    raise AssertionError(f"{fn.__name__} accepted a corrupted output")


def checks_reject_corruption() -> None:
    board = pd.DataFrame(
        {
            "model": ["fourier", "seasonal_ar", "ml_gbt", "var"],
            "mean_rmse": [1.5, 2.0, 2.0, 9.0],
            "rank": [1, 2, 3, 4],
        }
    )
    models = set(board["model"])
    ts = list(pd.date_range("2001-01-31", periods=8, freq="ME"))
    yhat = np.linspace(10, 17, 8)
    pred = pd.DataFrame(
        {
            "series_id": "0",
            "ts": ts,
            "yhat": yhat,
            "yhat_lower": yhat - 1,
            "yhat_upper": yhat + 1,
        }
    )
    checks.check_leaderboard(board, models)
    checks.check_forecast(pred, {"0": ts})

    _must_fail(checks.check_forecast, pred.iloc[1:], {"0": ts})  # dropped row
    nan = pred.copy()
    nan.loc[3, "yhat"] = np.nan
    _must_fail(checks.check_forecast, nan, {"0": ts})
    outside = pred.copy()
    outside.loc[2, "yhat_upper"] = outside.loc[2, "yhat"] - 0.5
    _must_fail(checks.check_forecast, outside, {"0": ts})
    swapped = board.copy()
    swapped["rank"] = [2, 1, 3, 4]  # rank order no longer follows mean_rmse
    _must_fail(checks.check_leaderboard, swapped, models)
    gap = board.copy()
    gap["rank"] = [1, 2, 4, 5]
    _must_fail(checks.check_leaderboard, gap, models)
    _must_fail(checks.check_leaderboard, board.iloc[:3], models)

    curated = pd.DataFrame({"doc_id": [3, 5, 5, 9], "copy_n": [1, 1, 2, 1]})
    digest = checks.check_curated(curated, 10)
    assert digest == checks.check_curated(curated.iloc[::-1], 10), "digest depends on row order"
    assert digest != checks.check_curated(curated.iloc[:3], 10), "digest ignores a lost row"
    dup = pd.concat([curated, curated.iloc[[0]]], ignore_index=True)
    _must_fail(checks.check_curated, dup, 10)  # duplicate doc_id
    _must_fail(checks.check_curated, curated.iloc[:0], 10)  # empty
    _must_fail(checks.check_curated, curated, 9)  # doc_id 9 not in the input


def event_log_counts() -> None:
    """Two known jobs inside one span: 4 + 3 tasks."""
    events_dir = run.configure_env(os.path.join(WORK, "spark"), trace=True)
    from auto_ts_spark import session

    tracer = tracing.Tracer()
    tracer.install()
    spark = session.get_spark("perfbench-selftest")
    try:
        sc = spark.sparkContext
        tracer.begin_op("op0")

        def two_jobs():
            sc.parallelize(range(8), 4).collect()
            sc.parallelize(range(6), 3).map(lambda x: x * x).collect()

        tracer.span("two_jobs", "sink", two_jobs)
    finally:
        run.stop_spark(spark)
    events = tracing.EventLog(tracing.EventLog.find(events_dir))
    sid = next(s[0] for s in tracer.spans if s[1] == "two_jobs")
    group = events.groups[f"pb-{sid}"]
    assert group["jobs"] == 2, group
    assert group["tasks"] == 7, group
    assert group["failed_tasks"] == 0, group
    assert group["python_task_s"] == group["task_s"], group  # Python RDDs
    layers = tracer.op_layers(events)["op0"]["sink"]
    assert layers["calls"] == 1 and layers["jobs"] == 2, layers


def benchmark_json_matches() -> None:
    """BENCHMARK.json lists exactly the metrics a run prints, with the
    units it prints."""
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {w["name"] for w in bench["workloads"]} == set(run.WORKLOADS)
    assert [m["name"] for m in bench["end_to_end"]] == list(run.END_TO_END)
    extra = {"op.build_s", "op.apply_s", "jvm.peak_rss_mb", "trace.op_s", "trace.instrument_s"}
    names = [m["name"] for m in bench["per_layer"]]
    assert len(set(names)) == len(names)
    assert set(names) == set(tracing.layer_metric_names()) | extra, set(names) ^ (
        set(tracing.layer_metric_names()) | extra
    )
    for m in bench["per_layer"]:
        assert run._unit(m["name"]) == m["unit"], m


def main() -> int:
    os.makedirs(WORK, exist_ok=True)
    try:
        tests = (
            benchmark_json_matches,
            generators_repeat,
            checks_reject_corruption,
            event_log_counts,
        )
        for test in tests:
            test()
            print(f"ok {test.__name__}")
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
