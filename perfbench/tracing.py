"""Layer tracing from outside the library.

``Tracer.install`` wraps the public functions listed in ``LAYERS`` (the
library's modules are the layers). Every call becomes a span: name,
layer, start, end, parent span and op id. While a span is open its id
is the Spark job group, so each Spark job is attributed to the innermost
span that started it. Spans stay in memory; the Spark event log is read
after the session stops and joined to them by job group.

A layer's numbers are "self" numbers: ``self_s`` is span time minus the
time of its direct child spans, and ``jobs`` / ``task_s`` /
``failed_tasks`` count only the jobs started while that layer's span
was the innermost one. A lazy function's ``self_s`` is plan
construction; its execution lands in whichever span runs the action.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import statistics
import sys
import time
from collections import defaultdict

# layer -> (module, public names). "auto" wraps methods of AutoTimeSeries.
LAYERS: dict[str, tuple[str, tuple[str, ...]]] = {
    "session": ("auto_ts_spark.session", ("get_spark",)),
    "io.sources": ("auto_ts_spark.io.sources", ("read_input", "probe_datetime_format", "load_ts")),
    "auto": ("auto_ts_spark.auto", ("AutoTimeSeries.fit", "AutoTimeSeries.predict")),
    "operators.future": ("auto_ts_spark.operators.future", ("infer_frequency",)),
    "operators.profile": ("auto_ts_spark.operators.profile", ("detect_problem_type",)),
    "models.registry": (
        "auto_ts_spark.models.registry",
        ("run_all_models", "score_predictions", "leaderboard", "with_prediction_intervals"),
    ),
    "models.ml": (
        "auto_ts_spark.models.ml",
        (
            "build_features",
            "cv_scores_ml",
            "fit_gbt",
            "recursive_forecast_ml",
            "forecast_ml_on_testdata",
        ),
    ),
    "corpus": ("auto_ts_spark.corpus", ("curate",)),
    "operators.textops": ("auto_ts_spark.operators.textops", ("scrub_repeated_spans",)),
    "operators.dedup": ("auto_ts_spark.operators.dedup", ("dedup_exact", "dedup_clusters")),
    "operators.similarity": ("auto_ts_spark.operators.similarity", ("semantic_dedup",)),
    "operators.lm_quality": (
        "auto_ts_spark.operators.lm_quality",
        ("train_ngram_lm", "perplexity_score", "perplexity_tercile_assign"),
    ),
    "operators.quality_classifier": (
        "auto_ts_spark.operators.quality_classifier",
        ("train_quality_classifier", "classify"),
    ),
    "operators.pii": ("auto_ts_spark.operators.pii", ("redact_documents",)),
    "operators.decontam": ("auto_ts_spark.operators.decontam", ("decontaminate",)),
    "operators.sampling": (
        "auto_ts_spark.operators.sampling",
        ("mixture_sample", "deterministic_sample"),
    ),
    "operators.budget": ("auto_ts_spark.operators.budget", ("budget_select",)),
}
# spans the benchmark opens itself: the final action of an op
BENCH_LAYERS = ("sink",)
LAYER_FIELDS = ("calls", "self_s", "jobs", "task_s", "failed_tasks")
SPARK_FIELDS = (
    "task_s",
    "python_task_s",
    "gc_s",
    "shuffle_write_mb",
    "spill_mb",
    "task_wait_s",
    "parallelism",
    "stages_skipped_ratio",
)
# physical operators that run Python workers (pandas/Arrow UDFs)
PYTHON_SCOPES = ("InPandas", "Python", "InArrow")


def layer_metric_names() -> list[str]:
    names = [f"{layer}.{f}" for layer in (*LAYERS, *BENCH_LAYERS) for f in LAYER_FIELDS]
    return names + [f"spark.{f}" for f in SPARK_FIELDS]


class Tracer:
    def __init__(self) -> None:
        # (span id, name, layer, parent id, op id, start, end)
        self.spans: list[tuple] = []
        self._stack: list[int] = []
        self._next = 0
        self.op = "setup"
        self.sc = None  # set once the SparkContext exists
        self.instrument_s: dict[str, float] = defaultdict(float)

    # ---------------------------------------------------------- spans

    def _group(self, sid: int | None) -> None:
        if self.sc is not None:
            self.sc.setJobGroup(f"pb-{self.op}" if sid is None else f"pb-{sid}", "perfbench")

    def span(self, name: str, layer: str, fn, *args, **kwargs):
        t_in = time.perf_counter()
        sid = self._next
        self._next += 1
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        self._group(sid)
        start = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            end = time.perf_counter()
            self._stack.pop()
            if self.sc is None:  # get_spark just created it
                self.sc = _active_context()
            self._group(parent)
            self.spans.append((sid, name, layer, parent, self.op, start, end))
            self.instrument_s[self.op] += (start - t_in) + (time.perf_counter() - end)

    def begin_op(self, op: str) -> None:
        self.op = op
        self._group(None)

    # ------------------------------------------------------- wrapping

    def install(self) -> None:
        """Replace every listed function, in its own module and in every
        library module that imported it by name, with a span wrapper."""
        import importlib

        for layer, (modname, names) in LAYERS.items():
            mod = importlib.import_module(modname)
            for qual in names:
                if "." in qual:
                    cls_name, meth = qual.split(".")
                    cls = getattr(mod, cls_name)
                    setattr(cls, meth, self._wrap(layer, qual, getattr(cls, meth)))
                    continue
                orig = getattr(mod, qual)
                wrapped = self._wrap(layer, qual, orig)
                for m in list(sys.modules.values()):
                    if getattr(m, "__name__", "").startswith("auto_ts_spark") and getattr(
                        m, qual, None
                    ) is orig:
                        setattr(m, qual, wrapped)

    def _wrap(self, layer: str, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            return self.span(name, layer, fn, *args, **kwargs)

        return traced

    # ------------------------------------------------------ reporting

    def op_layers(self, events: "EventLog") -> dict[str, dict[str, dict[str, float]]]:
        """{op: {layer: {field: value}}} — self numbers summed per op."""
        child_s: dict[int, float] = defaultdict(float)
        for sid, _, _, parent, _, start, end in self.spans:
            if parent is not None:
                child_s[parent] += end - start
        out: dict = defaultdict(
            lambda: {l: dict.fromkeys(LAYER_FIELDS, 0.0) for l in (*LAYERS, *BENCH_LAYERS)}
        )
        for sid, _, layer, _, op, start, end in self.spans:
            row = out[op][layer]
            row["calls"] += 1
            row["self_s"] += (end - start) - child_s[sid]
            g = events.groups.get(f"pb-{sid}")
            if g:
                row["jobs"] += g["jobs"]
                row["task_s"] += g["task_s"]
                row["failed_tasks"] += g["failed_tasks"]
        return out


    def write(self, path: str, events: "EventLog") -> None:
        """One JSON line per span, with the jobs it started."""
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for sid, name, layer, parent, op, start, end in self.spans:
                g = events.groups.get(f"pb-{sid}", {})
                row = {"id": sid, "name": name, "layer": layer, "parent": parent, "op": op}
                row.update(start=start, end=end, jobs=g.get("jobs", 0), task_s=g.get("task_s", 0.0))
                f.write(json.dumps(row) + "\n")


def _active_context():
    from pyspark import SparkContext

    return SparkContext._active_spark_context


class EventLog:
    """Per-job-group totals parsed from a Spark JSON event log."""

    def __init__(self, path: str) -> None:
        self.groups: dict[str, dict[str, float]] = defaultdict(
            lambda: {
                "jobs": 0,
                "tasks": 0,
                "stages": 0,
                "stages_skipped": 0,
                "task_s": 0.0,
                "python_task_s": 0.0,
                "gc_s": 0.0,
                "shuffle_write_mb": 0.0,
                "spill_mb": 0.0,
                "task_wait_s": 0.0,
                "failed_tasks": 0,
            }
        )
        stage_group: dict[int, str] = {}
        stage_submit: dict[tuple[int, int], int] = {}
        stage_python: dict[int, bool] = {}
        job_stages: dict[int, tuple[str, list[int]]] = {}
        submitted: set[int] = set()
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id", "")
                    self.groups[group]["jobs"] += 1
                    job_stages[ev["Job ID"]] = (group, list(ev.get("Stage IDs", [])))
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    sid = info["Stage ID"]
                    submitted.add(sid)
                    stage_group[sid] = (ev.get("Properties") or {}).get("spark.jobGroup.id", "")
                    stage_submit[(sid, info.get("Stage Attempt ID", 0))] = info.get(
                        "Submission Time", 0
                    )
                    stage_python[sid] = any(
                        p in (r.get("Scope") or "") + (r.get("Name") or "")
                        for r in info.get("RDD Info", [])
                        for p in PYTHON_SCOPES
                    )
                elif kind == "SparkListenerTaskEnd":
                    sid = ev["Stage ID"]
                    g = self.groups[stage_group.get(sid, "")]
                    info = ev.get("Task Info") or {}
                    m = ev.get("Task Metrics") or {}
                    run_s = m.get("Executor Run Time", 0) / 1000.0
                    g["tasks"] += 1
                    g["task_s"] += run_s
                    if stage_python.get(sid):
                        g["python_task_s"] += run_s
                    g["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                    g["shuffle_write_mb"] += (
                        (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / 1e6
                    )
                    g["spill_mb"] += m.get("Disk Bytes Spilled", 0) / 1e6
                    sub = stage_submit.get((sid, ev.get("Stage Attempt ID", 0)))
                    if sub and info.get("Launch Time"):
                        g["task_wait_s"] += max(0, info["Launch Time"] - sub) / 1000.0
                    reason = (ev.get("Task End Reason") or {}).get("Reason", "Success")
                    if info.get("Failed") or reason != "Success":
                        g["failed_tasks"] += 1
        for group, stages in job_stages.values():
            self.groups[group]["stages"] += len(stages)
            self.groups[group]["stages_skipped"] += sum(s not in submitted for s in stages)

    @staticmethod
    def find(log_dir: str) -> str:
        """The single finished application log in ``log_dir``."""
        logs = [p for p in glob.glob(os.path.join(log_dir, "*")) if not p.endswith(".inprogress")]
        if len(logs) != 1:
            raise RuntimeError(f"expected one finished event log in {log_dir}, found {logs}")
        return logs[0]


def per_layer_metrics(tracer: Tracer, events: EventLog, op_s: dict[str, float]) -> dict[str, float]:
    """Median over the timed ops (``op_s``: op id -> op time) of each
    per-op number. ``session.*`` is taken from the set-up phase, where
    the cold ``get_spark`` runs."""
    timed_ops = list(op_s)
    per_op = tracer.op_layers(events)
    metrics: dict[str, float] = {}
    for layer in (*LAYERS, *BENCH_LAYERS):
        ops = ["setup"] if layer == "session" else timed_ops
        for f in LAYER_FIELDS:
            metrics[f"{layer}.{f}"] = statistics.median(per_op[op][layer][f] for op in ops)
    # engine-wide numbers: every job group an op's spans (or the op
    # itself, outside any span) opened
    op_groups: dict[str, list[str]] = defaultdict(list)
    for sid, _, _, _, op, _, _ in tracer.spans:
        op_groups[op].append(f"pb-{sid}")
    spark_rows = []
    for op in timed_ops:
        tot: dict[str, float] = defaultdict(float)
        for group in op_groups[op] + [f"pb-{op}"]:
            for k, v in events.groups.get(group, {}).items():
                tot[k] += v
        row = {f: tot[f] for f in SPARK_FIELDS}
        row["parallelism"] = tot["task_s"] / op_s[op]
        row["stages_skipped_ratio"] = tot["stages_skipped"] / tot["stages"] if tot["stages"] else 0.0
        spark_rows.append(row)
    for f in SPARK_FIELDS:
        metrics[f"spark.{f}"] = statistics.median(r[f] for r in spark_rows)
    return metrics
