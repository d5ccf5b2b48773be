"""predict(testdata) + interval + scorer + classification contracts
(reference auto_ts/__init__.py:910-1008, build_ml.py:531-683,
ml_models.py:35-365; test strategy mirrors the reference's 40/8 split,
auto_ts/test/test_auto_ts.py:28-50)."""

import numpy as np
import pandas as pd
import pytest

from auto_ts_spark.models import ml as ML


def _series(n=96, seed=1, noise=0.5, sid="0", exog=False):
    rng = np.random.RandomState(seed)
    t = np.arange(n, dtype=float)
    y = 10 + 0.5 * t + 8 * np.sin(2 * np.pi * t / 12) + rng.randn(n) * noise
    d = {"series_id": sid, "ts": pd.date_range("2015-01-31", periods=n, freq="ME"), "y": y}
    if exog:
        d["x"] = np.cos(2 * np.pi * t / 12) + rng.randn(n) * 0.1
    return pd.DataFrame(d)


# ------------------------------------------------- multi-series ml_gbt


def test_recursive_forecast_ml_multi_series_attribution(spark):
    """Round-2 verdict 'What's wrong #1': the forecast tail must be
    per-series. With a shared fitted model, each series' multi-series
    forecast must equal its single-series forecast."""
    a = _series(seed=1, sid="a")
    b = _series(seed=2, sid="b")
    both = spark.createDataFrame(pd.concat([a, b]))
    feat, cols = ML.build_features(both)
    fitted = (*ML.fit_gbt(feat, cols), cols)

    multi = ML.recursive_forecast_ml(both, 4, fitted=fitted)
    assert set(multi["series_id"]) == {"a", "b"}
    assert len(multi) == 8
    for sid, pdf in (("a", a), ("b", b)):
        solo = ML.recursive_forecast_ml(spark.createDataFrame(pdf), 4, fitted=fitted)
        m = multi[multi["series_id"] == sid].sort_values("ts")
        assert np.allclose(
            m["yhat"].to_numpy(), solo.sort_values("ts")["yhat"].to_numpy()
        ), f"series {sid} forecast differs between multi- and single-series runs"


def test_pandas_calendar_matches_spark(spark):
    """The recursion builds features pandas-side; they must equal the
    Spark expressions used at training time."""
    ts = pd.date_range("2015-01-01", periods=200, freq="7h")
    sdf = spark.createDataFrame(pd.DataFrame({"ts": ts}))
    from auto_ts_spark.functions.calendar import add_calendar_features

    got = (
        add_calendar_features(sdf, "ts", ML.CAL_FEATURES)
        .toPandas()
        .sort_values("ts")
        .reset_index(drop=True)
    )
    for i, t in enumerate(ts):
        exp = ML._pandas_calendar(pd.Timestamp(t))
        for k, v in exp.items():
            assert int(got.loc[i, k]) == v, (t, k)


# ------------------------------------------------- predict on unseen


@pytest.fixture(scope="module")
def fitted_ats(spark):
    from auto_ts_spark.auto import AutoTimeSeries

    pdf = _series(n=48, exog=True)
    train, test = pdf.iloc[:40], pdf.iloc[40:]
    ats = AutoTimeSeries(forecast_period=4, n_splits=2, model_type=["ml", "prophet"])
    ats.fit(spark.createDataFrame(train.drop(columns=["series_id"])), "ts", "y")
    return ats, train, test


def test_predict_ml_on_unseen_40_8(spark, fitted_ats):
    """Reference 40/8 split: predict each of the 8 unseen rows using
    its known exog, recursively feeding yhat into the lags."""
    ats, train, test = fitted_ats
    out = ats.predict(
        spark.createDataFrame(test.drop(columns=["series_id", "y"])), model="ml"
    ).toPandas()
    assert len(out) == 8
    assert list(pd.to_datetime(out["ts"])) == list(test["ts"])
    assert out["yhat"].notna().all()
    # forecasts should stay in the neighborhood of the series range
    assert out["yhat"].between(train["y"].min() - 20, train["y"].max() + 40).all()
    # deterministic across calls
    again = ats.predict(
        spark.createDataFrame(test.drop(columns=["series_id", "y"])), model="ml"
    ).toPandas()
    assert np.allclose(out["yhat"].to_numpy(), again["yhat"].to_numpy())


def test_predict_ml_ignores_target_leak(spark, fitted_ats):
    """A test frame that still carries the target column must produce
    identical predictions (the target is never read)."""
    ats, _, test = fitted_ats
    with_y = ats.predict(
        spark.createDataFrame(test.drop(columns=["series_id"])), model="ml"
    ).toPandas()
    without_y = ats.predict(
        spark.createDataFrame(test.drop(columns=["series_id", "y"])), model="ml"
    ).toPandas()
    assert np.allclose(with_y["yhat"].to_numpy(), without_y["yhat"].to_numpy())


def test_predict_worker_on_unseen_aligns_ts(spark, fitted_ats):
    ats, _, test = fitted_ats
    out = ats.predict(
        spark.createDataFrame(test.drop(columns=["series_id", "y"])), model="prophet"
    ).toPandas()
    assert len(out) == 8
    assert list(pd.to_datetime(out["ts"])) == list(test["ts"])
    assert out["yhat"].notna().all()


def test_predict_int_horizon_and_ml_rejects_int(spark, fitted_ats):
    ats, train, _ = fitted_ats
    out = ats.predict(6, model="prophet").toPandas()
    assert len(out) == 6
    assert pd.to_datetime(out["ts"]).min() > train["ts"].max()
    with pytest.raises(ValueError):
        ats.predict(6, model="ml")


def test_predict_string_ts_roundtrip(spark):
    """String timestamps: the format stored at fit time re-parses the
    unseen frame (reference strf_time_format contract)."""
    from auto_ts_spark.auto import AutoTimeSeries

    pdf = _series(n=48)
    pdf["ts"] = pdf["ts"].dt.strftime("%Y-%m-%d")
    train, test = pdf.iloc[:40], pdf.iloc[40:]
    ats = AutoTimeSeries(forecast_period=4, n_splits=2, model_type="prophet")
    ats.fit(spark.createDataFrame(train.drop(columns=["series_id"])), "ts", "y")
    assert ats.datetime_format_ == "yyyy-MM-dd"
    out = ats.predict(
        spark.createDataFrame(test.drop(columns=["series_id", "y"]))
    ).toPandas()
    assert len(out) == 8
    assert list(pd.to_datetime(out["ts"]).dt.strftime("%Y-%m-%d")) == list(test["ts"])


# ------------------------------------------------------- intervals


def test_prediction_intervals(spark, fitted_ats):
    ats, _, _ = fitted_ats
    out = ats.predict(model="prophet", simple=False).toPandas()
    assert {"mean_se", "yhat_lower", "yhat_upper"} <= set(out.columns)
    assert (out["mean_se"] > 0).all()
    assert (out["yhat_lower"] < out["yhat"]).all()
    assert (out["yhat"] < out["yhat_upper"]).all()
    # z=1.96 contract: width = 2 * 1.96 * se
    width = out["yhat_upper"] - out["yhat_lower"]
    assert np.allclose(width, 2 * 1.96 * out["mean_se"])


# ------------------------------------------------------- scorer choice


def test_score_type_normalized_rmse(spark):
    from auto_ts_spark.models.registry import leaderboard, run_all_models, score_predictions

    sdf = spark.createDataFrame(_series())
    preds = run_all_models(
        sdf, n_splits=2, horizon=6, seasonal_period=12, models=["fourier", "seasonal_ar"]
    )
    scores = score_predictions(preds, sdf)
    by_rmse = leaderboard(scores, metric="rmse").toPandas()
    by_nrmse = leaderboard(scores, metric="normalized_rmse").toPandas()
    assert set(by_rmse.columns) == set(by_nrmse.columns)
    s = scores.toPandas()
    want = s.groupby("model")["nrmse"].mean().idxmin()
    assert by_nrmse.sort_values("rank").iloc[0]["model"] == want


def test_auto_score_type_validation():
    from auto_ts_spark.auto import AutoTimeSeries

    with pytest.raises(ValueError):
        AutoTimeSeries(score_type="mape")


# ------------------------------------------------------- classification


def test_accessor_surface(spark, fitted_ats):
    """Reference getter parity: get_model / get_best_model /
    get_ml_dict / get_leaderboard(ascending) / plot_cv_scores frame
    (__init__.py:846-908, 1010-1057)."""
    ats, _, _ = fitted_ats
    board = ats.get_leaderboard()
    rev = ats.get_leaderboard(ascending=False)
    assert list(rev["model"]) == list(board["model"])[::-1]

    m = ats.get_model("prophet")
    assert m["name"] == "fourier"
    assert m["cv_scores"].count() > 0
    assert m["forecast"].count() == 4

    best = ats.get_best_model()
    assert best["name"] == ats.get_best_model_name()

    ml = ats.get_model("ml")
    assert "spark_ml" in ml and ml["spark_ml"]["model"] is not None

    d = ats.get_ml_dict()
    assert set(d) == {"fourier", "ml_gbt"}

    tidy = ats.plot_cv_scores()
    assert list(tidy.columns) == ["model", "fold", "score"]
    assert tidy["score"].notna().all()

    with pytest.raises(KeyError):
        ats.get_model("var")


def test_ml_intervals_not_null(spark, fitted_ats):
    """ml_gbt predictions must carry REAL interval columns: the CV
    fold rows are unioned into predictions_, so the residual aggregate
    is non-empty (round-3 review finding: previously NULL se)."""
    ats, _, _ = fitted_ats
    out = ats.predict(model="ml", simple=False).toPandas()
    assert len(out) == 4
    assert out["mean_se"].notna().all()
    assert (out["mean_se"] > 0).all()
    assert (out["yhat_lower"] < out["yhat"]).all()
    assert (out["yhat"] < out["yhat_upper"]).all()


def test_predict_ml_on_unseen_intervals(spark, fitted_ats):
    """predict(unseen, model="ml", simple=False) carries the interval
    columns, from the same out-of-fold residual spread as the stored
    forecast; yhat is the simple=True yhat."""
    ats, _, test = fitted_ats
    unseen = spark.createDataFrame(test.drop(columns=["series_id", "y"]))
    simple = ats.predict(unseen, model="ml").toPandas()
    full = ats.predict(unseen, model="ml", simple=False).toPandas()
    assert list(full.columns) == ["series_id", "ts", "yhat", "mean_se", "yhat_lower", "yhat_upper"]
    assert list(full["ts"]) == list(simple["ts"])
    assert np.allclose(full["yhat"].to_numpy(), simple["yhat"].to_numpy())
    stored_se = ats.predict(model="ml", simple=False).toPandas()["mean_se"]
    assert (full["mean_se"] == stored_se.iloc[0]).all() and (full["mean_se"] > 0).all()
    assert (full["yhat_lower"] < full["yhat"]).all()
    assert (full["yhat"] < full["yhat_upper"]).all()


def test_cv_scores_ml_fold_fanout_is_deterministic(spark):
    """The folds fit concurrently; fold rows and fold predictions come
    back identical between runs and in fold order."""
    sdf = spark.createDataFrame(_series(n=60, exog=True))

    def run():
        summary, preds = ML.cv_scores_ml(
            sdf, n_splits=3, horizon=4, exog_cols=["x"], max_iter=1, return_preds=True
        )
        return summary, preds.toPandas()

    (s1, p1), (s2, p2) = run(), run()
    assert list(s1["fold"]) == [0, 1, 2]
    pd.testing.assert_frame_equal(s1, s2)
    assert list(p1["fold"]) == sorted(p1["fold"]) and set(p1["fold"]) == {0, 1, 2}
    pd.testing.assert_frame_equal(p1, p2)


def test_in_threads_job_groups_are_per_thread(spark):
    """Each fit thread starts in the caller's job group and its own
    setJobGroup stays its own: more threads than cores, a short switch
    interval, and every job lands in the group its thread set."""
    import sys

    sc = spark.sparkContext
    sc.setJobGroup("in-threads-caller", "caller")

    def work(i):
        inherited = sc.getLocalProperty("spark.jobGroup.id")
        sc.setJobGroup(f"in-threads-{i}", "worker")
        spark.range(1).collect()  # one job
        return inherited, sc.getLocalProperty("spark.jobGroup.id")

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        got = ML.in_threads(spark, work, range(12))
        caller_after = sc.getLocalProperty("spark.jobGroup.id")
    finally:
        sys.setswitchinterval(interval)
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert got == [("in-threads-caller", f"in-threads-{i}") for i in range(12)]
    assert caller_after == "in-threads-caller"
    tracker = sc.statusTracker()
    assert [len(tracker.getJobIdsForGroup(f"in-threads-{i}")) for i in range(12)] == [1] * 12


def _refit_data():
    a = _series(n=48, seed=1, exog=True).drop(columns=["series_id"])
    b = _series(n=48, seed=5, exog=True).drop(columns=["series_id"])
    return a, b.iloc[:40], b.iloc[40:].drop(columns=["y"])


def test_refit_matches_fresh_fit(spark):
    """A fit leaves nothing behind for the next: after a fit on A whose
    intervals were served, and with the label codec a classification
    fit leaves (planted: a real classifier fit costs ~1 min), a fit on
    B serves what a fresh object fitted on B serves."""
    from auto_ts_spark.auto import AutoTimeSeries
    from auto_ts_spark.operators.encoders import LabelEncoder

    a, train_b, test_b = _refit_data()

    def make():
        ats = AutoTimeSeries(forecast_period=4, n_splits=2, model_type=["ml", "prophet"])
        ats.ml_max_iter_ = 2  # a caller setting: kept across fits
        return ats

    def served(ats):
        unseen = spark.createDataFrame(test_b)
        return (
            ats.get_leaderboard(),
            ats.predict(simple=False).toPandas(),
            ats.predict(unseen, model="ml", simple=False).toPandas(),
            ats.predict(unseen, model="prophet", simple=False).toPandas(),
        )

    reused = make()
    reused.fit(spark.createDataFrame(a), "ts", "y")
    reused.predict(simple=False).count()  # caches A's intervals
    labels = spark.createDataFrame(pd.DataFrame({"y": ["down", "up"]}))
    reused.label_encoder_ = LabelEncoder("y", out_col="_y_code").fit(labels)
    reused.fit(spark.createDataFrame(train_b), "ts", "y")
    assert reused.label_encoder_ is None and reused.ml_max_iter_ == 2
    fresh = make().fit(spark.createDataFrame(train_b), "ts", "y")
    for got, want in zip(served(reused), served(fresh)):
        pd.testing.assert_frame_equal(got, want)


def test_refit_after_multi_label(spark):
    """A single-target fit after a multi-label fit serves its own
    forecast, not the earlier sub-models'."""
    from auto_ts_spark.auto import AutoTimeSeries

    a, train_b, _ = _refit_data()

    def make():
        return AutoTimeSeries(forecast_period=4, n_splits=2, model_type="prophet")

    reused = make()
    reused.fit(spark.createDataFrame(a), "ts", ["y", "x"])
    reused.fit(spark.createDataFrame(train_b), "ts", "y")
    assert reused.multi_ is None
    fresh = make().fit(spark.createDataFrame(train_b), "ts", "y")
    pd.testing.assert_frame_equal(reused.get_leaderboard(), fresh.get_leaderboard())
    pd.testing.assert_frame_equal(
        reused.predict(simple=False).toPandas(), fresh.predict(simple=False).toPandas()
    )


def test_ml_gbt_on_scores_leaderboard(spark, fitted_ats):
    """ml_gbt fold rows flow through the same score_predictions path
    as the workers — per-series scores, real mae, no double counting."""
    ats, _, _ = fitted_ats
    s = ats.get_cv_scores().toPandas()
    ml = s[s["model"] == "ml_gbt"]
    assert len(ml) == 2  # n_splits=2, one series
    assert ml["mae"].notna().all()
    board = ats.get_leaderboard()
    assert (board["model"] == "ml_gbt").sum() == 1


def test_worker_exog_honored_on_unseen(spark):
    """predict(testdata) for the fourier family must condition on the
    KNOWN future exog in the test frame (reference future-regressor
    contract) — not persist the last observed value."""
    from auto_ts_spark.auto import AutoTimeSeries

    rng = np.random.RandomState(7)
    n = 68
    x = rng.choice([-1.0, 1.0], size=n) + rng.randn(n) * 0.05
    y = 10 + 5 * x + rng.randn(n) * 0.1
    pdf = pd.DataFrame(
        {"ts": pd.date_range("2017-01-01", periods=n, freq="D"), "y": y, "x": x}
    )
    train, test = pdf.iloc[:60], pdf.iloc[60:]
    ats = AutoTimeSeries(forecast_period=4, n_splits=2, model_type=["prophet", "var"])
    ats.fit(spark.createDataFrame(train), "ts", "y")
    out = ats.predict(
        spark.createDataFrame(test.drop(columns=["y"])), model="prophet"
    ).toPandas()
    assert list(pd.to_datetime(out["ts"])) == list(test["ts"])
    rmse = float(np.sqrt(((out["yhat"].to_numpy() - test["y"].to_numpy()) ** 2).mean()))
    # with persisted exog the error would be ~|5·Δx| ≈ 5-10; with the
    # known values it is noise-level
    assert rmse < 1.0, rmse
    # var path: runs, aligns, finite (VARX conditioning smoke)
    out_var = ats.predict(
        spark.createDataFrame(test.drop(columns=["y"])), model="var"
    ).toPandas()
    assert list(pd.to_datetime(out_var["ts"])) == list(test["ts"])
    assert np.isfinite(out_var["yhat"].to_numpy()).all()


def test_classification_string_target(spark):
    """String labels must fit (target label-encoded before the lag
    matrix) and predict must DECODE back to the original labels
    (round-3 review finding: previously crashed in VectorAssembler)."""
    from auto_ts_spark.auto import AutoTimeSeries

    rng = np.random.RandomState(11)
    n = 80
    x = np.sin(2 * np.pi * np.arange(n) / 12) + rng.randn(n) * 0.2
    label = np.where(x > 0, "up", "down")
    pdf = pd.DataFrame(
        {"ts": pd.date_range("2020-01-01", periods=n, freq="D"), "label": label, "x": x}
    )
    train, test = pdf.iloc[:70], pdf.iloc[70:]
    ats = AutoTimeSeries(forecast_period=5, n_splits=2)
    ats.fit(spark.createDataFrame(train), "ts", "label")
    assert ats.problem_type_ == "Binary_Classification"
    assert ats.label_encoder_ is not None
    out = ats.predict(spark.createDataFrame(test.drop(columns=["label"]))).toPandas()
    assert len(out) == 10
    assert set(out["yhat_label"].unique()) <= {"up", "down"}
    # codes and labels agree through the stored mapping
    codes = set(out["yhat"].unique())
    assert codes <= {0.0, 1.0}


def test_classification_end_to_end(spark):
    """Categorical target → class-weighted classifier path
    (ml_models.py:35-365): leaderboard entry + unseen-frame predict."""
    from auto_ts_spark.auto import AutoTimeSeries

    rng = np.random.RandomState(3)
    n = 80
    x = np.sin(2 * np.pi * np.arange(n) / 12) + rng.randn(n) * 0.2
    label = (x > 0).astype(int)
    pdf = pd.DataFrame(
        {"ts": pd.date_range("2019-01-01", periods=n, freq="D"), "label": label, "x": x}
    )
    train, test = pdf.iloc[:70], pdf.iloc[70:]
    ats = AutoTimeSeries(forecast_period=5, n_splits=2)
    ats.fit(spark.createDataFrame(train), "ts", "label")
    assert ats.problem_type_ == "Binary_Classification"
    board = ats.get_leaderboard()
    assert list(board["model"]) == ["ml_gbt_classifier"]
    # weighted classifier must beat coin-flip error on a separable signal
    assert board["mean_rmse"].iloc[0] < 0.5
    out = ats.predict(spark.createDataFrame(test.drop(columns=["label"]))).toPandas()
    assert len(out) == 10
    assert set(out["yhat"].unique()) <= {0.0, 1.0}


def test_interval_empirical_coverage(spark):
    """with_prediction_intervals' z=1.96 band must actually cover
    ~95% of held-out future actuals when the residuals are Gaussian:
    50 independent series x 8 future steps = 400 coverage trials,
    accept [0.85, 0.99] (binomial 95% band around 0.95 is ~±0.02;
    the wider gate absorbs fold-residual sigma estimation error)."""
    from auto_ts_spark.models.fourier import forecast_fourier
    from auto_ts_spark.models.registry import run_model, with_prediction_intervals
    from pyspark.sql import functions as F

    n, h, n_series = 120, 8, 50
    rng = np.random.RandomState(42)
    t = np.arange(n + h, dtype=float)
    frames = []
    for s in range(n_series):
        y = 20 + 0.3 * t + 6 * np.sin(2 * np.pi * t / 12) + rng.randn(n + h)
        frames.append(
            pd.DataFrame(
                {
                    "series_id": str(s),
                    "ts": pd.date_range("2014-01-31", periods=n + h, freq="ME"),
                    "y": y,
                    "_future": [0] * n + [1] * h,
                }
            )
        )
    full = pd.concat(frames, ignore_index=True)
    train = full[full["_future"] == 0][["series_id", "ts", "y"]]
    future_actuals = full[full["_future"] == 1][["series_id", "ts", "y"]].rename(
        columns={"y": "y_true"}
    )
    # the _future=1 rows ride along as the unseen forecast frame (y unused)
    sdf = spark.createDataFrame(full)
    preds = run_model(
        sdf,
        lambda pdf, folds, horizon, future_pdf=None: forecast_fourier(
            pdf, folds, horizon, seasonal_period=12, future_pdf=future_pdf
        ),
        n_splits=3,
        horizon=h,
    ).withColumn("model", F.lit("fourier"))
    ints = with_prediction_intervals(preds, spark.createDataFrame(train))
    out = ints.toPandas().merge(future_actuals, on=["series_id", "ts"])
    assert len(out) == n_series * h
    covered = (
        (out["y_true"] >= out["yhat_lower"]) & (out["y_true"] <= out["yhat_upper"])
    ).mean()
    assert 0.85 <= covered <= 0.99, covered


def test_auto_ts_multivar_sarimax_e2e(spark):
    """The reference's multivariate SARIMAX surface end to end
    (test_auto_ts.py:693 test_auto_ts_multivar_ns_sarimax): fit with
    an exogenous predictor column, predict on a testdata frame
    carrying (ts + exog), and the exog channel must reach the
    seasonal-AR worker — on an exog-driven series the SARIMAX family
    must track the exog-implied future, not the unconditional mean."""
    from auto_ts_spark.auto import AutoTimeSeries

    rng = np.random.RandomState(31)
    n, h = 150, 8
    t = np.arange(n + h, dtype=float)
    x = np.sin(t / 6.0) * 5.0 + 0.02 * t
    y = 3.0 * x + rng.randn(n + h) * 0.3
    full = pd.DataFrame(
        {
            "Time Period": pd.date_range("2013-01-31", periods=n + h, freq="ME"),
            "Sales": y,
            "Marketing": x,
        }
    )
    train, test = full.iloc[:n], full.iloc[n:]
    ats = AutoTimeSeries(model_type="sarimax", n_splits=2, forecast_period=h)
    ats.fit(spark.createDataFrame(train), "Time Period", "Sales")
    assert ats.exog_cols_ == ["Marketing"]
    fc = (
        ats.predict(spark.createDataFrame(test[["Time Period", "Marketing"]]))
        .toPandas()
        .sort_values("ts")
    )
    assert len(fc) == h
    mae = float(np.abs(fc["yhat"].to_numpy() - 3.0 * x[n:]).mean())
    assert mae < 1.5, mae  # blind mean-reversion would miss by >> this


def test_cv_zero_defaults_to_two_folds(spark):
    """The reference's cv=0 'skip CV' switch and cv=None both resolve
    to 2 scoring folds (build_base.py:83-91 get_num_folds_from_cv) —
    n_splits=0 must fit and predict, not crash."""
    from auto_ts_spark.auto import AutoTimeSeries

    pdf = pd.DataFrame(
        {
            "Time Period": pd.date_range("2015-01-31", periods=60, freq="ME"),
            "Sales": np.arange(60, dtype=float)
            + np.random.RandomState(0).randn(60),
        }
    )
    ats = AutoTimeSeries(n_splits=0, forecast_period=4, model_type="prophet")
    assert ats.n_splits == 2
    ats.fit(spark.createDataFrame(pdf), "Time Period", "Sales")
    board = ats.get_leaderboard()
    assert (board["n_folds"] > 0).all()
    assert ats.predict().count() == 4


def test_tiny_series_and_constant_target_survive(spark):
    """Degenerate inputs must score and forecast, not crash: a 6-row
    series at horizon 8 (folds shrink to sklearn's n//(n_splits+1)
    default), and a constant target under normalized_rmse (try_divide
    yields NULL nrmse; nulls-last ranking)."""
    from auto_ts_spark.auto import AutoTimeSeries

    tiny = pd.DataFrame(
        {
            "Time Period": pd.date_range("2015-01-31", periods=6, freq="ME"),
            "Sales": [1.0, 2.0, 3.0, 4.0, 5.0, 6.0],
        }
    )
    a = AutoTimeSeries(forecast_period=8, n_splits=2, model_type="prophet")
    a.fit(spark.createDataFrame(tiny), "Time Period", "Sales")
    assert a.predict().count() == 8

    const = pd.DataFrame(
        {
            "Time Period": pd.date_range("2015-01-31", periods=48, freq="ME"),
            "Sales": np.full(48, 5.0),
        }
    )
    b = AutoTimeSeries(
        forecast_period=4, n_splits=2, model_type="prophet",
        score_type="normalized_rmse",
    )
    b.fit(spark.createDataFrame(const), "Time Period", "Sales")
    fc = b.predict().toPandas()
    assert len(fc) == 4 and np.isfinite(fc["yhat"]).all()


def test_fold_shrink_only_when_no_fold_fits():
    """The fallback must not disturb normal fold geometry."""
    from auto_ts_spark.models.base import expanding_fold_bounds

    # normal case: unchanged sklearn-parity bounds
    assert expanding_fold_bounds(100, 3, 8) == [(76, 84), (84, 92), (92, 100)]
    # degenerate: 6 rows, horizon 8 -> shrink to 6//3 = 2-row folds
    assert expanding_fold_bounds(6, 2, 8) == [(2, 4), (4, 6)]
    # hopeless (n <= n_splits): still empty
    assert expanding_fold_bounds(2, 3, 8) == []


def test_empty_fit_raises_cleanly(spark):
    pdf_schema = "`Time Period` timestamp, Sales double"
    empty = spark.createDataFrame([], schema=pdf_schema)
    from auto_ts_spark.auto import AutoTimeSeries

    with pytest.raises(ValueError, match="empty training frame"):
        AutoTimeSeries(forecast_period=4, n_splits=2, model_type="prophet").fit(
            empty, "Time Period", "Sales"
        )
