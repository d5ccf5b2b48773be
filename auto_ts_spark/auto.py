"""AutoTimeSeries — the engine facade, mirroring the reference's
``auto_timeseries`` orchestrator (auto_ts/__init__.py:202-1008):
fit → leaderboard → predict, with the same model-family vocabulary,
returning DataFrames instead of matplotlib sessions.

Differences by design (SURVEY.md §7.3):
- every stage is a Spark DataFrame op or an applyInPandas worker, so
  the same fit() call scales from one 48-row series to millions of
  series (the input carries ``series_id``);
- model families are deterministic numpy re-expressions (fourier ≈
  Prophet, seasonal_ar ≈ SARIMAX, var ≈ VAR) plus Spark-ML GBT
  (≈ the XGBoost path);
- stationarity analysis (W16) is reported per series, not applied
  destructively to shared state (reference quirk noted in SURVEY §3.1
  step 3 — intentional deviation).

predict() accepts the reference's three testdata shapes
(auto_ts/__init__.py:910-1008): None (the forecast computed at fit
time), an int forecast period (stats families only, like the
reference), or an unseen DataFrame/path whose ts column is re-parsed
with the format stored at fit time and whose rows supply future
timestamps and known exog values.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from auto_ts_spark.io.sources import load_ts, probe_datetime_format, read_input
from auto_ts_spark.models import ml as ML
from auto_ts_spark.models import registry as REG
from auto_ts_spark.operators.future import infer_frequency, seasonal_period
from auto_ts_spark.operators.profile import detect_problem_type

WORKER_MODELS = ("fourier", "seasonal_ar", "var")

_ALIAS = {
    "prophet": "fourier",
    "sarimax": "seasonal_ar",
    "auto_sarimax": "seasonal_ar",
    "arima": "seasonal_ar",
    "ml": "ml_gbt",
    "stats": "seasonal_ar",
}


class AutoTimeSeries:
    """fit/predict/leaderboard over a canonical (series_id, ts, y,
    exog...) DataFrame."""

    def __init__(
        self,
        *,
        forecast_period: int = 8,
        n_splits: int = 3,
        model_type: str | list[str] = "best",
        seasonal_period: int | None = None,
        lags: int = 3,
        score_type: str = "rmse",
        model_config: dict | None = None,
        ml_tune: bool = False,
    ) -> None:
        """``model_config`` forwards the Prophet-family configuration
        surface (growth/cap/seasonality_mode/holidays/seasonal_periods,
        reference build_prophet.py:70-80, 587-649) to the fourier
        worker. ``ml_tune=True`` picks the GBT boost rounds on a
        temporal holdout before CV (reference ml_models.py:340-365
        xgb.cv early stopping; off by default — the reference caps its
        own search effort on larger data the same way)."""
        if score_type not in ("rmse", "normalized_rmse"):
            raise ValueError("score_type must be 'rmse' or 'normalized_rmse'")
        self.forecast_period = max(forecast_period, 1)
        # reference fold rule (build_base.py:83-91 get_num_folds_from_cv):
        # cv=None and the cv=0 "skip CV" switch both score on 2 folds
        self.n_splits = n_splits if n_splits and n_splits > 0 else 2
        self.model_type = model_type
        self.seasonal_period_override = seasonal_period
        self.lags = lags
        self.score_type = score_type
        self.model_config = dict(model_config or {})
        self.ml_tune = ml_tune
        # boost rounds: set by ml_tune at fit, or by the caller before
        # fit — so, unlike the fitted state below, a refit keeps it
        self.ml_max_iter_: int = 40
        self._reset_fitted()

    def _reset_fitted(self) -> None:
        """Every attribute a fit sets, in its unfitted state."""
        self.ml_trials_: pd.DataFrame | None = None
        self.multi_: dict[str, "AutoTimeSeries"] | None = None
        self.freq_: str | None = None
        self.m_: int | None = None
        self.scores_: DataFrame | None = None
        self.leaderboard_: pd.DataFrame | None = None
        self.predictions_: DataFrame | None = None
        self.ml_cv_: pd.DataFrame | None = None
        self.train_df_: DataFrame | None = None
        self.exog_cols_: list[str] = []
        self.target_: str = "y"
        self.ts_column_: str | None = None
        self.datetime_format_: str | None = None
        self.series_id_col_: str | None = None
        self.problem_type_: str = "Regression"
        self.ml_fitted_: tuple | None = None  # (assembler, model, feature_cols)
        self.label_encoder_ = None  # classification target codec
        self._intervals_: DataFrame | None = None

    def _release(self) -> None:
        """Unpersist what the last fit cached, sub-models included."""
        for sub in (self.multi_ or {}).values():
            sub._release()
        for cached in (self.train_df_, self.predictions_, self.scores_, self._intervals_):
            if cached is not None:
                cached.unpersist()

    # ------------------------------------------------------------ fit

    def _model_names(self) -> list[str]:
        if self.model_type == "best":
            return list(WORKER_MODELS) + ["ml_gbt"]
        names = (
            [self.model_type] if isinstance(self.model_type, str) else list(self.model_type)
        )
        return [_ALIAS.get(n.lower(), n.lower()) for n in names]

    def fit(
        self,
        traindata: DataFrame | str,
        ts_column: str,
        target: str | list[str],
        *,
        sep: str = ",",
        series_id: str | None = None,
    ) -> "AutoTimeSeries":
        # a refit starts from scratch: nothing of an earlier fit (its
        # intervals, sub-models, label codec) may serve this one
        self._release()
        self._reset_fitted()
        if isinstance(target, (list, tuple)):
            return self._fit_multi_label(
                traindata, ts_column, list(target), sep=sep, series_id=series_id
            )
        spark = (
            traindata.sparkSession
            if isinstance(traindata, DataFrame)
            else None
        )
        if spark is None:
            from auto_ts_spark.session import get_spark

            spark = get_spark("auto_ts")
        raw = read_input(spark, traindata, sep=sep)
        # store the datetime format so predict() re-parses unseen data
        # identically (reference strf_time_format, __init__.py:954)
        self.datetime_format_ = probe_datetime_format(raw, ts_column)
        df = load_ts(
            spark,
            raw,
            ts_column,
            target,
            sep=sep,
            series_id=series_id,
            datetime_format=self.datetime_format_,
        )
        df = df.withColumnRenamed(target, "y")
        self.target_ = target
        self.ts_column_ = ts_column
        # record what load_ts actually grouped on: an explicit arg, or
        # the auto-adopted canonical column — predict() must re-coerce
        # unseen frames with the same choice
        self.series_id_col_ = series_id or (
            "series_id" if "series_id" in raw.columns else None
        )
        self.exog_cols_ = [
            c
            for c, t in df.dtypes
            if c not in ("series_id", "ts", "y")
            and t in ("int", "bigint", "double", "float", "smallint", "tinyint")
        ]
        self.train_df_ = df.cache()
        if not self.train_df_.head(1):
            raise ValueError(
                "fit() got an empty training frame — nothing to model"
            )
        self.freq_ = infer_frequency(df)
        self.m_ = self.seasonal_period_override or seasonal_period(self.freq_)
        self.problem_type_ = detect_problem_type(df, "y")

        if self.problem_type_ != "Regression":
            # Label-encode the target FIRST (the reference's classifier
            # path label-encodes before modeling, ml_models.py:463-568):
            # string/boolean targets cannot feed VectorAssembler, and
            # Spark classifiers need dense 0..k-1 labels. Codes flow
            # through lag features and the recursive splice; predict()
            # decodes back via the stored mapping.
            from auto_ts_spark.operators.encoders import LabelEncoder

            enc = LabelEncoder("y", out_col="_y_code")
            enc.fit(df)
            df = (
                enc.transform(df)
                .withColumn("y", F.col("_y_code").cast("double"))
                .drop("_y_code")
            )
            self.label_encoder_ = enc
            self.train_df_.unpersist()
            self.train_df_ = df.cache()
            return self._fit_classification(spark, df)

        names = self._model_names()
        worker_names = [n for n in names if n in WORKER_MODELS]
        preds_parts: list[DataFrame] = []
        if worker_names:
            preds = REG.run_all_models(
                df,
                n_splits=self.n_splits,
                horizon=self.forecast_period,
                seasonal_period=self.m_,
                exog_cols=self.exog_cols_,
                models=worker_names,
                fourier_config=self.model_config,
            )
            preds_parts.append(preds)
        if "ml_gbt" in names:
            if self.ml_tune:
                self.ml_max_iter_, self.ml_trials_ = ML.tune_gbt_max_iter(
                    df,
                    lags=self.lags,
                    exog_cols=self.exog_cols_,
                    holdout=self.forecast_period,
                )

            def cv():
                return ML.cv_scores_ml(
                    df,
                    lags=self.lags,
                    n_splits=self.n_splits,
                    horizon=self.forecast_period,
                    exog_cols=self.exog_cols_,
                    max_iter=self.ml_max_iter_,
                    return_preds=True,
                )

            def refit():
                feat, feature_cols = ML.build_features(
                    df, "y", lags=self.lags, exog_cols=self.exog_cols_
                )
                assembler, model = ML.fit_gbt(
                    feat, feature_cols, "y", max_iter=self.ml_max_iter_
                )
                return assembler, model, feature_cols

            # the refit needs nothing from CV: fit it beside the folds (job groups kept)
            (self.ml_cv_, ml_fold_preds), self.ml_fitted_ = ML.in_threads(
                spark, lambda task: task(), (cv, refit)
            )
            ml_future = ML.recursive_forecast_ml(
                df,
                self.forecast_period,
                lags=self.lags,
                exog_cols=self.exog_cols_,
                fitted=self.ml_fitted_,
            )
            ml_preds = spark.createDataFrame(
                ml_future[["series_id", "ts", "fold", "yhat"]]
            ).withColumn("model", F.lit("ml_gbt"))
            preds_parts.append(ml_preds)
            if ml_fold_preds is not None:
                # out-of-fold rows give ml_gbt real per-series scores
                # AND the residual spread its prediction intervals need
                # (previously only fold=-1 rows existed -> NULL se)
                preds_parts.append(
                    ml_fold_preds.withColumn("model", F.lit("ml_gbt"))
                )

        all_preds = preds_parts[0]
        for p in preds_parts[1:]:
            all_preds = all_preds.unionByName(p)
        self.predictions_ = all_preds.cache()

        # every family (workers + ml_gbt) is scored from its fold rows
        # by the same oracle-checked join+agg — no separate ml union,
        # so nothing is double-counted
        self.scores_ = REG.score_predictions(self.predictions_, df).cache()
        self.leaderboard_ = (
            REG.leaderboard(self.scores_, metric=self.score_type)
            .orderBy("rank")
            .toPandas()
        )
        return self

    def _fit_multi_label(
        self,
        traindata,
        ts_column: str,
        targets: list[str],
        *,
        sep: str,
        series_id: str | None,
    ) -> "AutoTimeSeries":
        """Multi-label targets (reference auto_ts/__init__.py:281-291 +
        ml_models.py:302-322 MultiOutputRegressor): one independent
        single-target pipeline per label — exactly MultiOutput's
        per-output decomposition — with the leaderboard and predictions
        concatenated under a ``target`` column."""
        import copy as _copy

        if not isinstance(traindata, DataFrame):
            # load path inputs ONCE so sibling targets are dropped
            # uniformly below — otherwise a CSV/parquet path would leak
            # the other labels into each sub-model's exog features
            from auto_ts_spark.session import get_spark

            traindata = read_input(get_spark("auto_ts"), traindata, sep=sep)
        self.multi_ = {}
        boards = []
        for t in targets:
            sub = AutoTimeSeries(
                forecast_period=self.forecast_period,
                n_splits=self.n_splits,
                model_type=self.model_type,
                seasonal_period=self.seasonal_period_override,
                lags=self.lags,
                score_type=self.score_type,
                model_config=_copy.deepcopy(self.model_config),
                ml_tune=self.ml_tune,
            )
            other = [o for o in targets if o != t]
            data = traindata.drop(*other)
            sub.fit(data, ts_column, t, sep=sep, series_id=series_id)
            self.multi_[t] = sub
            board = sub.get_leaderboard().copy()
            board.insert(0, "target", t)
            boards.append(board)
        self.target_ = targets  # type: ignore[assignment]
        self.ts_column_ = ts_column
        self.leaderboard_ = pd.concat(boards, ignore_index=True)
        self.train_df_ = next(iter(self.multi_.values())).train_df_
        self.problem_type_ = next(iter(self.multi_.values())).problem_type_
        return self

    def _fit_classification(self, spark, df: DataFrame) -> "AutoTimeSeries":
        """Classification dispatch (reference ml_models.py:35-365,
        570-616): lag+calendar features → class-weighted classifier;
        the 'rmse' score column carries the CV error rate (lower is
        better, so the leaderboard contract holds)."""
        self.ml_cv_ = ML.cv_scores_ml_classifier(
            df,
            lags=self.lags,
            n_splits=self.n_splits,
            horizon=self.forecast_period,
            exog_cols=self.exog_cols_,
        )
        from auto_ts_spark.operators.profile import class_weights

        counts = df.groupBy("y").count()
        n_classes = counts.count()
        feat, feature_cols = ML.build_features(
            df, "y", lags=self.lags, exog_cols=self.exog_cols_
        )
        # the deployed model gets the SAME balanced weights the CV
        # models scored with — otherwise an imbalanced target serves an
        # unweighted majority-class model behind a weighted leaderboard
        wmap = class_weights(feat, "y").select("y", F.col("weight").alias("_w"))
        feat = feat.join(F.broadcast(wmap), "y", "left")
        assembler, model = ML.fit_classifier(
            feat, feature_cols, "y", n_classes=n_classes, weight_col="_w"
        )
        self.ml_fitted_ = (assembler, model, feature_cols)
        sid = df.select("series_id").first()[0]
        scores = spark.createDataFrame(self.ml_cv_).select(
            "model",
            F.lit(sid).alias("series_id"),
            "fold",
            F.col("rmse"),
            F.lit(None).cast("double").alias("mae"),
            F.col("n_test").cast("long"),
            F.col("nrmse").cast("double"),
        )
        self.scores_ = scores.cache()
        self.leaderboard_ = REG.leaderboard(self.scores_).orderBy("rank").toPandas()
        self.predictions_ = None
        return self

    # ------------------------------------------------------ accessors

    def get_leaderboard(self, ascending: bool = True) -> pd.DataFrame:
        """Leaderboard sorted by rank; ``ascending=False`` reverses it
        (reference get_leaderboard(ascending), __init__.py:1010-1048)."""
        if self.leaderboard_ is None:
            raise RuntimeError("call fit first")
        board = self.leaderboard_
        return board if ascending else board.iloc[::-1].reset_index(drop=True)

    def get_best_model_name(self) -> str:
        return str(self.get_leaderboard().iloc[0]["model"])

    def get_cv_scores(self) -> DataFrame:
        if self.scores_ is None:
            raise RuntimeError("call fit first")
        return self.scores_

    def get_model(self, model_name: str) -> dict:
        """Per-model artifacts (reference get_model/get_model_build,
        __init__.py:878-902 — returns the fitted build): the CV score
        rows, the stored forecast, and for the ML family the fitted
        Spark ML stages."""
        name = _ALIAS.get(model_name.lower(), model_name.lower())
        if self.scores_ is None:
            raise RuntimeError("call fit first")
        known = {r["model"] for r in self.scores_.select("model").distinct().collect()}
        if name not in known:
            raise KeyError(f"{model_name!r} not fitted; have {sorted(known)}")
        out = {
            "name": name,
            "cv_scores": self.scores_.filter(F.col("model") == name),
            "forecast": self._stored_forecast(name, simple=True)
            if self.predictions_ is not None
            else None,
        }
        if name == "ml_gbt" and self.ml_fitted_ is not None:
            assembler, model, feature_cols = self.ml_fitted_
            out["spark_ml"] = {
                "assembler": assembler,
                "model": model,
                "feature_cols": feature_cols,
            }
        return out

    def get_best_model(self) -> dict:
        """The winning model's artifacts (reference get_best_model /
        get_best_model_build, __init__.py:872-892)."""
        return self.get_model(self.get_best_model_name())

    def get_ml_dict(self) -> dict:
        """{model: artifacts} for every fitted family (reference
        get_ml_dict, __init__.py:904-908)."""
        if self.scores_ is None:
            raise RuntimeError("call fit first")
        names = [r["model"] for r in self.scores_.select("model").distinct().collect()]
        return {n: self.get_model(n) for n in sorted(names)}

    def plot_cv_scores(self) -> pd.DataFrame:
        """The tidy (model, fold, score) frame the reference boxplots
        (plot_cv_scores, __init__.py:1050-1057). The engine core has no
        renderer by design — callers plot this frame."""
        metric = "nrmse" if self.score_type == "normalized_rmse" else "rmse"
        return (
            self.get_cv_scores()
            .select("model", "fold", F.col(metric).alias("score"))
            .orderBy("model", "fold")
            .toPandas()
        )

    def stationarity_report(self) -> DataFrame:
        if self.train_df_ is None:
            raise RuntimeError("call fit first")
        return REG.adf_table(self.train_df_)

    # -------------------------------------------------------- predict

    def _resolve_model(self, model: str | None) -> str:
        name = model or self.get_best_model_name()
        return _ALIAS.get(name.lower(), name.lower()) if isinstance(name, str) else name

    def _stored_forecast(self, name: str, simple: bool) -> DataFrame:
        out = self.predictions_.filter(
            (F.col("fold") == -1) & (F.col("model") == name)
        )
        if simple:
            return out.select("series_id", "ts", "yhat").orderBy("series_id", "ts")
        if self._intervals_ is None:
            self._intervals_ = REG.with_prediction_intervals(
                self.predictions_, self.train_df_
            ).cache()
        return (
            self._intervals_.filter(F.col("model") == name)
            .select("series_id", "ts", "yhat", "mean_se", "yhat_lower", "yhat_upper")
            .orderBy("series_id", "ts")
        )

    def _load_testdata(self, testdata, sep: str) -> DataFrame:
        """Re-coerce unseen data exactly like fit did: stored datetime
        format, same series column, target optional (never required —
        and never leaked into features)."""
        spark = self.train_df_.sparkSession
        raw = read_input(spark, testdata, sep=sep)
        target = self.target_ if self.target_ in raw.columns else None
        df = load_ts(
            spark,
            raw,
            self.ts_column_,
            target,
            sep=sep,
            series_id=self.series_id_col_,
            datetime_format=self.datetime_format_,
        )
        if target is not None:
            df = df.withColumnRenamed(target, "y")
        return df

    def predict(
        self,
        testdata: DataFrame | str | int | None = None,
        model: str | None = None,
        *,
        simple: bool = True,
        sep: str = ",",
    ) -> DataFrame:
        """Forecast (reference auto_ts/__init__.py:910-1008).

        - ``testdata=None``: the h-step forecast computed at fit time
          for the chosen (or best) model; ``simple=False`` adds
          ``mean_se``/``yhat_lower``/``yhat_upper`` interval columns
          (reference build_ml.py:674-680).
        - ``testdata=int``: a new forecast horizon — stats/worker
          families only, like the reference (ML needs exog rows).
        - ``testdata=DataFrame|path``: unseen rows; the ts column is
          re-parsed with the stored format. ML predicts row-by-row
          with known exog (build_ml.py:531-683); worker families
          forecast onto the test timestamps, with fourier/var
          conditioning on the known future exog values
          (build_prophet.py:513-521).
        """
        if self.train_df_ is None:
            raise RuntimeError("call fit first")
        if self.multi_ is not None:
            parts = [
                sub.predict(testdata, model, simple=simple, sep=sep).withColumn(
                    "target", F.lit(t)
                )
                for t, sub in self.multi_.items()
            ]
            out = parts[0]
            for p in parts[1:]:
                out = out.unionByName(p)
            return out
        name = self._resolve_model(model)

        if self.problem_type_ != "Regression":
            if testdata is None or isinstance(testdata, int):
                raise ValueError(
                    "classification predict needs an unseen test frame "
                    "(reference ml_models.py predict contract)"
                )
            return self._predict_ml_testdata(self._load_testdata(testdata, sep))

        if testdata is None:
            return self._stored_forecast(name, simple)

        if isinstance(testdata, int):
            if name == "ml_gbt":
                raise ValueError(
                    "ML models need a test dataframe with exog rows, not a "
                    "forecast period (reference __init__.py:938-945)"
                )
            return self._forecast_horizon(name, testdata, simple)

        test_df = self._load_testdata(testdata, sep)
        if name in ("ml_gbt", "ml_gbt_classifier"):
            return self._predict_ml_testdata(test_df, simple)
        return self._predict_worker_testdata(name, test_df, simple)

    def _forecast_horizon(self, name: str, horizon: int, simple: bool) -> DataFrame:
        """Re-run the chosen worker with a new horizon; CV folds are
        recomputed in the same single applyInPandas stage."""
        preds = REG.run_all_models(
            self.train_df_,
            n_splits=self.n_splits,
            horizon=horizon,
            seasonal_period=self.m_,
            exog_cols=self.exog_cols_,
            models=[name],
            fourier_config=self.model_config,
        )
        if simple:
            return (
                preds.filter(F.col("fold") == -1)
                .select("series_id", "ts", "yhat")
                .orderBy("series_id", "ts")
            )
        return (
            REG.with_prediction_intervals(preds, self.train_df_)
            .select("series_id", "ts", "yhat", "mean_se", "yhat_lower", "yhat_upper")
            .orderBy("series_id", "ts")
        )

    def _predict_ml_testdata(self, test_df: DataFrame, simple: bool = True) -> DataFrame:
        """ML rows on unseen data; ``simple=False`` (regression) adds
        the interval columns from ml_gbt's out-of-fold residuals, the
        same spread the stored forecast uses."""
        spark = self.train_df_.sparkSession
        test_pdf = test_df.select(
            "series_id", "ts", *self.exog_cols_
        ).toPandas()
        out = ML.forecast_ml_on_testdata(
            self.train_df_,
            test_pdf,
            lags=self.lags,
            exog_cols=self.exog_cols_,
            fitted=self.ml_fitted_,
        )
        sdf = spark.createDataFrame(out[["series_id", "ts", "yhat"]])
        if self.label_encoder_ is not None:
            # decode class codes back to the original labels
            sdf = self.label_encoder_.inverse_transform(
                sdf.withColumn("_code", F.round("yhat").cast("int")), "_code"
            ).select(
                "series_id", "ts", "yhat", F.col("_code_value").alias("yhat_label")
            )
        elif not simple:
            folds = self.predictions_.filter(
                (F.col("model") == "ml_gbt") & (F.col("fold") >= 0)
            ).select("model", "series_id", "ts", "fold", "yhat")
            fut = sdf.select(
                F.lit("ml_gbt").alias("model"),
                "series_id",
                "ts",
                F.lit(-1).alias("fold"),
                "yhat",
            )
            sdf = REG.with_prediction_intervals(
                folds.unionByName(fut), self.train_df_
            ).select("series_id", "ts", "yhat", "mean_se", "yhat_lower", "yhat_upper")
        return sdf.orderBy("series_id", "ts")

    def _predict_worker_testdata(
        self, name: str, test_df: DataFrame, simple: bool
    ) -> DataFrame:
        """Worker families on unseen rows: the test rows ride into the
        per-series worker as a ``_future``-flagged frame — same shuffle
        as the train rows, no extra stage — so forecasts land exactly
        on the test timestamps and the exog-aware families (fourier,
        var) condition on the KNOWN future exog values (reference
        build_prophet.py:513-521 future-regressor frame; VARX-style
        conditioning for var)."""
        exog_in_test = set(test_df.columns) & set(self.exog_cols_)
        train = self.train_df_.select(
            "series_id",
            "ts",
            F.col("y").cast("double").alias("y"),
            *[F.col(c).cast("double").alias(c) for c in self.exog_cols_],
            F.lit(0).alias("_future"),
        )
        test = test_df.select(
            "series_id",
            "ts",
            F.lit(None).cast("double").alias("y"),
            *[
                (
                    F.col(c).cast("double")
                    if c in exog_in_test
                    else F.lit(None).cast("double")
                ).alias(c)
                for c in self.exog_cols_
            ],
            F.lit(1).alias("_future"),
        )
        h = (
            test_df.groupBy("series_id")
            .count()
            .agg(F.max("count"))
            .collect()[0][0]
        )
        preds = REG.run_all_models(
            train.unionByName(test),
            n_splits=self.n_splits,
            horizon=int(h),
            seasonal_period=self.m_,
            exog_cols=self.exog_cols_,
            models=[name],
            fourier_config=self.model_config,
        )
        cols = ["series_id", "ts", "yhat"] + (
            [] if simple else ["mean_se", "yhat_lower", "yhat_upper"]
        )
        if simple:
            return (
                preds.filter(F.col("fold") == -1)
                .select(*cols)
                .orderBy("series_id", "ts")
            )
        return (
            REG.with_prediction_intervals(preds, self.train_df_)
            .select(*cols)
            .orderBy("series_id", "ts")
        )
