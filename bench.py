"""BENCH: headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Prints ONE JSON line:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": <scale factor>}

Each query is forced through the noop sink (full materialization —
``count()`` would let Catalyst prune unreferenced projections and
under-report). Every query runs ``RUNS`` times and reports the
per-query MEDIAN: single-run figures proved to swing ±15-30% on
sub-second queries from run noise alone (r4 flagged two phantom
"regressions" on untouched code), and the median keeps one slow
GC/compile outlier from masquerading as a plan change. ``value`` is
the sum of the per-query medians.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as E
from pyspark.sql import functions as F
from auto_ts_spark.session import get_spark

RUNS = 3

HEADLINE = [
    "tpch_pricing_summary",
    "lag_matrix",
    "rolling_stats",
    "naive_forecast_metrics",
    "expanding_folds",
    "hourly_rollup",
    "sessionize",
    "topk_suppliers",
    "token_explode",
    "text_profile",
    "minhash_lsh_pairs",
    "embedding_topk",
    "automl_leaderboard",
    "asof_join",
    "seasonal_decompose",
    "revenue_rollup",
    "resample_ffill",
    "curate_chain",
    # r6 additions — timed identically, reported alongside the basket
    # (EXTRAS), never inside `value`, so the baseline comparison keeps
    # measuring the same 17 queries
    "semantic_dedup",
    "dsir_weights",
    "repeated_span_scrub",
    "lm_perplexity",
    "quality_classifier",
    # r7: the COMPLETE published-recipe chain (adds span scrub,
    # semantic near-dedup, perplexity gate, classifier gate on top of
    # curate_chain) — tracked alongside, never inside `value`
    "curate_full",
    # r10 additions — BPE tokenizer surface + Misra-Gries heavy
    # hitters, tracked alongside, never inside `value`
    "bpe_pair_counts",
    "bpe_tokenize_contract",
    "heavy_hitters",
    # r12 addition — overlapping token-window chunking, tracked
    # alongside, never inside `value`
    "doc_chunks",
    # r13 additions — raw-web markup-extraction head + cluster-balanced
    # mixture sampling, tracked alongside, never inside `value`
    "html_extract",
    "cluster_balanced_sample",
]

EXTRAS = {
    "curate_chain",
    "curate_full",
    "semantic_dedup",
    "dsir_weights",
    "repeated_span_scrub",
    "lm_perplexity",
    "quality_classifier",
    "bpe_pair_counts",
    "bpe_tokenize_contract",
    "heavy_hitters",
    "doc_chunks",
    "html_extract",
    "cluster_balanced_sample",
}


def q_curate_chain(spark, sf_dir: str):
    """End-to-end corpus curation (the flagship LLM-pipeline call):
    quality gate → PII scrub → exact dedup → near-dup cluster
    retention → decontamination → source mixture → per-source token
    budget, one ``curate()`` call over the documents table."""
    from auto_ts_spark.corpus import curate

    docs = E.load_table(spark, sf_dir, "documents")
    bench_docs = docs.filter(F.col("doc_id") % 97 == 0).select("doc_id", "text")
    mixture = {f"src{i}": (2.0 if i < 3 else 1.0) for i in range(20)}
    return curate(
        docs,
        benchmark=bench_docs,
        mixture=mixture,
        token_budget=200_000,
        budget_by="source",
    )


def q_curate_full(spark, sf_dir: str):
    """The complete raw→manifest recipe a 100 TB pretraining run would
    ship (r7 headline ask): cross-doc span scrub → Gopher quality gate
    → PII scrub → exact dedup → SEMANTIC near-dedup (auto-sized IVF
    over the embeddings table) → CCNet perplexity gate → quality-
    classifier gate → decontamination → source mixture → per-source
    token budget — one ``curate()`` call. The trusted reference for
    the LM and the classifier is a deterministic 1-in-7 slice of the
    corpus itself (self-referential but measurement-stable)."""
    from auto_ts_spark.corpus import curate

    docs = E.load_table(spark, sf_dir, "documents")
    emb = E.load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id"), "embedding"
    )
    ref = docs.filter(F.col("doc_id") % 7 == 0).select("doc_id", "text")
    bench_docs = docs.filter(F.col("doc_id") % 97 == 0).select("doc_id", "text")
    mixture = {f"src{i}": (2.0 if i < 3 else 1.0) for i in range(20)}
    return curate(
        docs,
        scrub_spans=True,
        near_dedup_method="semantic",
        embeddings=emb,
        semantic_threshold=0.95,
        perplexity_ref=ref,
        classifier_ref=ref,
        # threshold at the exact class prior (ref is 1-in-7 of the
        # corpus -> P/(P+N) = 1/8 at ANY sf): "more reference-like
        # than base rate". A self-referential reference can't separate
        # the synthetic corpus, so the GPT-3-style 0.5 default would
        # zero it out; the gate's full train+score cost is still paid,
        # which is what the bench measures.
        classifier_threshold=0.125,
        benchmark=bench_docs,
        mixture=mixture,
        token_budget=200_000,
        budget_by="source",
    )


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0)
    spark = get_spark("bench")
    qs = E.queries()
    # JVM/codegen warmup outside the timed loop: a tiny codegen'd agg +
    # a scan of the smallest table to class-load the parquet reader
    spark.range(100_000).selectExpr("sum(id) s").write.format("noop").mode(
        "overwrite"
    ).save()
    E.load_table(spark, sf_dir, "region").write.format("noop").mode(
        "overwrite"
    ).save()
    # spawn the Python/Arrow UDF worker pool outside the timed loop,
    # and pre-import the per-series model stack in every worker — on a
    # real cluster the executors stay resident across queries, so the
    # steady state this bench reports is the one where worker
    # processes already hold numpy/pandas and the model modules
    def _warm_imports(p):
        import numpy  # noqa: F401
        import pandas  # noqa: F401

        from auto_ts_spark.models import (  # noqa: F401
            ar,
            fourier,
            ml,
            registry,
            var_model,
        )

        return p

    spark.range(64).withColumn("g", F.col("id") % 64).groupBy("g").applyInPandas(
        _warm_imports, "id long, g long"
    ).write.format("noop").mode("overwrite").save()
    # compile the heavy codegen shapes once (md5/minhash higher-order
    # expression tree is the largest WholeStageCodegen in the suite;
    # Janino compilation dominates its cold first run)
    from auto_ts_spark.operators import dedup as _DD

    _tiny = spark.createDataFrame(
        [(i, f"warm up text row {i} alpha beta gamma delta") for i in range(64)],
        "doc_id long, text string",
    )
    _DD.minhash_lsh_pairs(_tiny, text_col="text", id_col="doc_id").write.format(
        "noop"
    ).mode("overwrite").save()
    qs = dict(qs, curate_chain=q_curate_chain, curate_full=q_curate_full)
    missing = [n for n in HEADLINE if n not in qs]
    if missing:  # fail loudly BEFORE burning warmup + timed runs
        raise KeyError(f"headline queries not registered: {missing}")
    # load-aware timed section (r13 verdict ask): the r13 driver window
    # started at 1-min loadavg 8.85 and uniformly inflated UNTOUCHED
    # queries ~1.6x — machine contention, not plans. Wait (bounded) for
    # external load to drain before timing; if it never does, flag the
    # run via "load_contaminated" instead of silently reporting numbers
    # the machine, not the code, produced. Additions-only: every
    # pre-existing JSON key and the single-line print are unchanged.
    # the cores the engine runs on (SPARK_GRAFT_CPUS sizes local[N]),
    # not the host's: on a shared host they differ
    ncpus_load = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)
    load_threshold = ncpus_load / 4
    load_wait_sec = 0.0
    while os.getloadavg()[0] > load_threshold and load_wait_sec < 120.0:
        time.sleep(5.0)
        load_wait_sec += 5.0
    # load telemetry (r7 verdict ask): record 1-min load average around
    # the timed section so round-over-round swings in driver-recorded
    # numbers carry machine-load context (a +16% basket move on
    # untouched code is noise if load_before was already high)
    load_before = tuple(round(x, 2) for x in os.getloadavg())
    load_contaminated = load_before[0] > load_threshold
    samples: dict[str, list[float]] = {name: [] for name in HEADLINE}
    for _ in range(RUNS):
        # drop cached DataFrames between repeat loops so queries with
        # internal caching (curate's pre-near-dup cache) are measured
        # end-to-end each run — otherwise run 2+ would silently reuse
        # run 1's cached upstream and the median would under-report.
        # Codegen/JIT/worker-pool warmth (the intended steady state)
        # survives a cache clear.
        spark.catalog.clearCache()
        for name in HEADLINE:
            fn = qs[name]
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            samples[name].append(time.perf_counter() - t0)
    timings = {
        name: round(statistics.median(vals), 3) for name, vals in samples.items()
    }
    # "value" stays the r1-r4 17-query basket so the round-over-round
    # baseline comparison keeps measuring the same thing; the full
    # curation chain (added r5, an 8-stage pipeline rather than one
    # query) is timed identically and reported alongside
    comparable = {n: t for n, t in timings.items() if n not in EXTRAS}
    total = round(sum(comparable.values()), 3)
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_wall",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "runs_per_query": RUNS,
                "aggregation": "median",
                "loadavg_before": load_before,
                "loadavg_after": tuple(round(x, 2) for x in os.getloadavg()),
                "ncpus": os.cpu_count(),
                "load_threshold_ncpus": ncpus_load,
                "load_contaminated": load_contaminated,
                "load_wait_sec": load_wait_sec,
                "value_composition": "17-query r1-r4 basket; curate_chain "
                "(full 8-stage pipeline, added r5), the r6 additions "
                "(semantic_dedup, dsir_weights, repeated_span_scrub, "
                "lm_perplexity, quality_classifier) and the r7 "
                "curate_full (complete raw-to-manifest recipe) are "
                "timed identically but reported alongside, not inside value",
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
