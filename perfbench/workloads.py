"""The benchmark's workloads. An op builds (``build``: the fit, or the
``curate`` call) and then applies (``apply``: a lazy DataFrame that the
runner materialises under the ``sink`` span); ``check`` validates one
materialised output and returns its digest. After the op the runner
applies ``settle`` + ``reapply`` more times on the same build;
``apply_s`` is the median of the last ``reapply`` of them. The first
``settle`` are untimed: a short action keeps getting faster over its
first repeats while the JVM compiles its code path."""

from __future__ import annotations

from datetime import datetime

import checks
import inputs

# AutoTimeSeries.fit's GBT boost rounds (the ``ml_max_iter_`` attribute
# that ``ml_tune`` sets; 40 by default). Each round is a handful of
# Spark jobs; 40 rounds make one op longer than a whole benchmark run
# can afford, so the round count is lowered and the per-round job cost
# stays visible in ``models.ml.jobs``.
GBT_ROUNDS = 3


class AutotsSingle:
    """``AutoTimeSeries(forecast_period=8, n_splits=2)``, default
    ``model_type="best"``: fit on the train CSV, predict the test CSV
    with prediction intervals."""

    models = {"fourier", "seasonal_ar", "var", "ml_gbt"}
    generate = staticmethod(inputs.autots_single)
    settle = 0
    reapply = 3

    def build(self, spark, inp: dict):
        from auto_ts_spark.auto import AutoTimeSeries

        model = AutoTimeSeries(forecast_period=inputs.HORIZON, n_splits=2)
        model.ml_max_iter_ = GBT_ROUNDS
        return model.fit(inp["train"], inp["ts_column"], inp["target"])

    def apply(self, model, inp: dict):
        return model.predict(inp["test"], simple=False)

    def check(self, model, pdf, inp: dict) -> str:
        board = model.get_leaderboard()
        checks.check_leaderboard(board, self.models)
        test_ts = [datetime.strptime(d, "%d/%m/%Y") for d in inp["test_dates"]]
        checks.check_forecast(pdf, {"0": test_ts})
        return checks.autots_digest(board, pdf)


class CurateFull:
    """The full ``curate()`` chain: span scrub, quality gate, PII scrub,
    exact dedup, semantic near-dedup over the embeddings, perplexity
    gate, quality-classifier gate, decontamination, source mixture and
    per-source token budget."""

    generate = staticmethod(inputs.curate_full)
    # collecting the built frame takes ~0.1 s once its eager stages ran,
    # and ~0.07 s after some 30 repeats
    settle = 30
    reapply = 20

    def build(self, spark, inp: dict):
        from pyspark.sql import functions as F

        from auto_ts_spark.corpus import curate

        docs = spark.read.parquet(inp["documents"])
        emb = spark.read.parquet(inp["embeddings"]).select(
            F.col("vec_id").alias("doc_id"), "embedding"
        )
        ref = docs.filter(F.col("doc_id") % 7 == inp["ref_residue"]).select("doc_id", "text")
        bench = docs.filter(F.col("doc_id") % 97 == inp["bench_residue"]).select("doc_id", "text")
        return curate(
            docs,
            scrub_spans=True,
            near_dedup_method="semantic",
            embeddings=emb,
            semantic_threshold=0.95,
            perplexity_ref=ref,
            classifier_ref=ref,
            # the reference is 1 in 7 of the corpus, so the class prior
            # is 1/8: keep documents more reference-like than the base rate
            classifier_threshold=0.125,
            # 2 gradient steps instead of 5: each is one more job of the
            # same shape, and a run has room for few seconds
            classifier_iters=2,
            benchmark=bench,
            # make_documents draws sources src0..src19
            mixture={f"src{i}": (2.0 if i < 3 else 1.0) for i in range(20)},
            token_budget=200_000,
            budget_by="source",
        )

    def apply(self, curated, inp: dict):
        return curated

    def check(self, curated, pdf, inp: dict) -> str:
        return checks.check_curated(pdf, inp["doc_ids"])


WORKLOADS = {"autots_single": AutotsSingle(), "curate_full": CurateFull()}
