"""Sources: canonical time-series loading.

Reference parity (see SURVEY.md §2.1):
- S1 ``load_ts_data``  (auto_ts/utils/etl.py:17-61)  → :func:`load_ts`
- S2 ``load_test_data`` (auto_ts/utils/etl.py:63-85) → :func:`load_ts` (same path)
- S3 ``remove_duplicate_cols_in_dataset`` (auto_ts/utils/etl.py:87-94)
  → :func:`dedup_columns`
- S4 ``reduce_mem_usage`` (auto_ts/utils/etl.py:448-503) → intentionally a
  no-op on Spark (Tungsten/parquet already encode compactly); schema is
  declared, not downcast.
- datetime-format inference (auto_ts/utils/etl.py:335-446) →
  :func:`infer_datetime_format`: sample rows, try candidate Spark
  ``to_timestamp`` patterns, pick the first that parses every sample.

Scale notes: format inference reads a 12-row sample (``limit`` +
``collect``), never a full scan. The probe then scores every candidate
pattern in one aggregate over the sample as literals — a JVM-only
frame, one Spark job, no Python workers. The actual parse is a single
JVM-side ``to_timestamp(col, fmt)`` expression.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Candidate patterns in Spark's (JDK DateTimeFormatter) syntax, tried in
# order against a sample — mirrors the reference's strptime bank
# (auto_ts/utils/etl.py:335-446) reduced to the formats that are
# unambiguous under Spark's parser.
DATETIME_FORMATS: tuple[str, ...] = (
    "yyyy-MM-dd HH:mm:ss",
    "yyyy-MM-dd'T'HH:mm:ss",
    "yyyy-MM-dd HH:mm",
    "yyyy-MM-dd",
    "yyyy/MM/dd HH:mm:ss",
    "yyyy/MM/dd",
    "MM/dd/yyyy HH:mm:ss",
    "MM/dd/yyyy",
    "dd/MM/yyyy",
    "MM-dd-yyyy",
    "dd-MM-yyyy",
    "MMM dd, yyyy",
    "dd MMM yyyy",
    "MMMM dd, yyyy",
    "yyyyMMdd",
    "MM/dd/yy",
    "yyyy-MM",
    "yyyy",
)


def dedup_columns(df: DataFrame) -> DataFrame:
    """Drop duplicate-named columns, keeping the first occurrence.

    Pure metadata op (a projection) — no data movement.
    """
    seen: set[str] = set()
    keep_idx: list[int] = []
    for i, name in enumerate(df.columns):
        key = name.lower()
        if key not in seen:
            seen.add(key)
            keep_idx.append(i)
    if len(keep_idx) == len(df.columns):
        return df
    # df[i] resolves by NAME (ambiguous under duplicates) — go through
    # positional temp names instead
    names = df.columns
    tmp = df.toDF(*[f"_c{i}" for i in range(len(names))])
    return tmp.select(*[F.col(f"_c{i}").alias(names[i]) for i in keep_idx])


def infer_datetime_format(
    spark: SparkSession,
    samples: list[str],
    candidates: tuple[str, ...] = DATETIME_FORMATS,
) -> str | None:
    """Return the first candidate format that parses every sample string.

    Driver-side on a small sample (the reference uses 12 rows); the
    winning format is then applied as one ``to_timestamp`` expression.
    All candidates are scored in one pass: the samples become literal
    rows (no Python RDD, so no Python workers) and one ``bool_and`` per
    candidate says whether it parses all of them.
    """
    samples = [s for s in samples if s is not None]
    if not samples:
        return None
    # one partition: the aggregate then needs no exchange, so no second job
    raw = (
        spark.sql("SELECT 1")
        .select(F.explode(F.array(*[F.lit(s) for s in samples])).alias("raw"))
        .coalesce(1)
    )
    parses = raw.agg(
        *[
            F.bool_and(F.try_to_timestamp(F.col("raw"), F.lit(fmt)).isNotNull())
            for fmt in candidates
        ]
    ).first()
    return next((fmt for fmt, ok in zip(candidates, parses) if ok), None)


def _nano_ts_columns(path: str) -> list[str]:
    """Column names stored as parquet TIMESTAMP(NANOS) — one footer read."""
    try:
        import pyarrow.parquet as pq
        import pyarrow as pa

        schema = pq.read_schema(path)
        return [
            f.name
            for f in schema
            if pa.types.is_timestamp(f.type) and f.type.unit == "ns"
        ]
    except Exception:
        return []


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet`` that tolerates TIMESTAMP(NANOS) columns.

    Spark has no nanosecond timestamp type; with
    ``spark.sql.legacy.parquet.nanosAsLong`` the scan yields the raw
    nano count, which we convert via ``timestamp_micros(ns div 1000)``
    — the same floor-truncation DuckDB applies, so oracle comparisons
    agree. Pure metadata + one projection; pushdown on other columns is
    unaffected.
    """
    ns_cols = _nano_ts_columns(path)
    if not ns_cols:
        return spark.read.parquet(path)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    for c in ns_cols:
        # integer `div`: float division would lose precision at ~1.7e18 ns
        df = df.withColumn(c, F.expr(f"timestamp_micros(`{c}` div 1000)"))
    return df


def load_table(
    spark: SparkSession, sf_dir: str, name: str, *, parallel: bool = False
) -> DataFrame:
    """Read one driver-generated parquet table (TESTDATA.md contract).

    ``parallel=True`` repartitions up to the cluster parallelism — use
    only when the downstream stage is CPU-bound with no pushable
    filters (repartition is a pushdown barrier).
    """
    df = read_parquet(spark, f"{sf_dir}/{name}.parquet")
    if parallel:
        from auto_ts_spark.operators.partitioning import ensure_parallelism

        df = ensure_parallelism(df)
    return df


def read_input(
    spark: SparkSession, path_or_df: str | DataFrame, *, sep: str = ","
) -> DataFrame:
    """S1/S2 input dispatch (auto_ts/utils/etl.py:17-85): accept a
    DataFrame, or a parquet / ORC / newline-delimited JSON / CSV path
    by extension (CSV is the no-extension fallback, matching the
    reference's pandas ``read_csv`` default). Parquet routes through
    the nanosecond-tolerant reader."""
    if isinstance(path_or_df, DataFrame):
        return path_or_df
    if path_or_df.endswith(".parquet") or path_or_df.endswith("/"):
        return read_parquet(spark, path_or_df)
    if path_or_df.endswith(".orc"):
        return spark.read.orc(path_or_df)
    if path_or_df.endswith((".json", ".jsonl", ".ndjson")):
        return spark.read.json(path_or_df)
    return (
        spark.read.option("header", True)
        .option("sep", sep)
        .option("inferSchema", True)
        .csv(path_or_df)
    )


def probe_datetime_format(df: DataFrame, ts_column: str) -> str | None:
    """Infer the datetime format of a string ts column from a 12-row
    sample (reference stores ``strf_time_format`` at fit and re-applies
    it to test data, auto_ts/__init__.py:954 +
    utils/etl.py:179-226). Returns None for non-string columns."""
    if dict(df.dtypes).get(ts_column) != "string":
        return None
    sample = [r[0] for r in df.select(ts_column).limit(12).collect()]
    return infer_datetime_format(df.sparkSession, sample)


def load_ts(
    spark: SparkSession,
    path_or_df: str | DataFrame,
    ts_column: str,
    target: str | list[str] | None = None,
    *,
    sep: str = ",",
    series_id: str | None = None,
    datetime_format: str | None = None,
) -> DataFrame:
    """Load a time-series table into canonical shape.

    Output columns: ``series_id`` (constant "0" when the data has no
    grouping column — keeps every window partition-able), ``ts``
    (TimestampType), then target(s) first, remaining predictors after —
    preserving the reference's target-first column contract
    (auto_ts/models/build_ml.py:416-427).
    """
    df = read_input(spark, path_or_df, sep=sep)
    df = dedup_columns(df)

    if ts_column not in df.columns:
        raise ValueError(f"ts_column {ts_column!r} not in {df.columns}")
    if series_id is None and "series_id" in df.columns and ts_column != "series_id":
        # a column already named like the canonical grouping column is
        # the grouping column — emitting lit("0") beside it would
        # produce a duplicate-name frame (ambiguous downstream)
        series_id = "series_id"

    ts_col = F.col(ts_column)
    dtype = dict(df.dtypes)[ts_column]
    if dtype == "string":
        if datetime_format is None:
            datetime_format = probe_datetime_format(df, ts_column)
        if datetime_format is None:
            # no known format: tolerate malformed rows as NULL (dropped
            # below) instead of failing the whole scan under ANSI mode
            ts_expr = F.try_to_timestamp(ts_col)
        else:
            ts_expr = F.to_timestamp(ts_col, datetime_format)
    elif dtype in ("timestamp", "timestamp_ntz"):
        ts_expr = ts_col
    elif dtype == "date":
        ts_expr = ts_col.cast("timestamp")
    else:  # epoch seconds / year ints
        ts_expr = F.col(ts_column).cast("timestamp")

    targets = [target] if isinstance(target, str) else list(target or [])
    others = [c for c in df.columns if c != ts_column and c not in targets and c != series_id]
    sid = F.col(series_id).cast("string") if series_id else F.lit("0")
    out = df.select(
        sid.alias("series_id"),
        ts_expr.alias("ts"),
        *[F.col(c) for c in targets],
        *[F.col(c) for c in others],
    )
    return out.filter(F.col("ts").isNotNull())
