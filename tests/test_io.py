"""IO/source parity: S1-S3 load semantics, datetime-format inference
(reference etl.py:335-446), nanosecond-parquet tolerance."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from auto_ts_spark.io.sources import (
    DATETIME_FORMATS,
    dedup_columns,
    infer_datetime_format,
    load_table,
    load_ts,
)


@pytest.fixture(scope="module")
def csv_path(spark, tmp_path_factory):
    p = tmp_path_factory.mktemp("csv") / "sales.csv"
    p.write_text(
        "Time Period,Sales,Marketing Expense\n"
        "2023-01-01,100,10.5\n"
        "2023-02-01,110,11.0\n"
        "2023-03-01,120,12.5\n"
        "2023-04-01,95,9.0\n"
    )
    return str(p)


def test_csv_load_canonical_shape(spark, csv_path):
    df = load_ts(spark, csv_path, "Time Period", target="Sales")
    # canonical: series_id, ts, target first, predictors after (P1)
    assert df.columns == ["series_id", "ts", "Sales", "Marketing Expense"]
    rows = df.orderBy("ts").collect()
    assert len(rows) == 4
    assert rows[0]["ts"] == pd.Timestamp("2023-01-01")
    assert rows[0]["Sales"] == 100


@pytest.mark.parametrize(
    "samples,expected_prefix",
    [
        (["2023-01-15", "2023-02-20"], "yyyy-MM-dd"),
        (["2023-01-15 10:30:00"], "yyyy-MM-dd HH:mm:ss"),
        (["01/15/2023", "02/20/2023"], "MM/dd/yyyy"),
        (["Jan 15, 2023"], "MMM dd, yyyy"),
        (["20230115"], "yyyyMMdd"),
    ],
)
def test_datetime_format_inference(spark, samples, expected_prefix):
    assert infer_datetime_format(spark, samples) == expected_prefix


def test_datetime_inference_unparseable_returns_none(spark):
    assert infer_datetime_format(spark, ["not-a-date", "also not"]) is None


def _reference_formats(spark, sample_sets):
    """The per-candidate rule for each sample list: the first candidate
    under which no sample parses to NULL. All lists and candidates are
    parsed in one collect; the candidate loop runs over the result."""
    rows = [(k, s) for k, samples in enumerate(sample_sets) for s in samples if s is not None]
    parsed = (
        spark.createDataFrame(rows, "k int, raw string").select(
            "k",
            *[F.try_to_timestamp(F.col("raw"), F.lit(f)).alias(f"c{i}") for i, f in enumerate(DATETIME_FORMATS)],
        )
        .collect()
        if rows
        else []
    )
    out = []
    for k in range(len(sample_sets)):
        mine = [r for r in parsed if r["k"] == k]
        fmt = None
        for i, candidate in enumerate(DATETIME_FORMATS):
            if mine and all(r[f"c{i}"] is not None for r in mine):
                fmt = candidate
                break
        out.append(fmt)
    return out


@pytest.fixture(scope="module")
def rendered(spark):
    """12 timestamps rendered in every candidate pattern: {fmt: strings}."""
    ts = pd.date_range("2019-01-31 13:45:10", periods=12, freq="37D")
    sdf = spark.createDataFrame(pd.DataFrame({"t": ts}))
    rows = sdf.select(
        *[F.date_format("t", f).alias(f"c{i}") for i, f in enumerate(DATETIME_FORMATS)]
    ).collect()
    return {f: [r[i] for r in rows] for i, f in enumerate(DATETIME_FORMATS)}


def test_datetime_probe_matches_per_candidate_rule(spark, rendered):
    """For a sample rendered in each candidate pattern, the one-pass
    probe returns what the first-candidate-that-parses-all rule does."""
    got = [infer_datetime_format(spark, s) for s in rendered.values()]
    assert got == _reference_formats(spark, list(rendered.values()))
    # some dates have a day past 12, so no rendering also reads as an
    # earlier candidate (day/month swapped)
    assert got == list(rendered)


def test_datetime_probe_mixed_and_null_samples(spark):
    mixed = ["2023-01-15", "01/15/2023", "2023-02-15"]
    with_null = ["15/01/2023", None, "20/02/2023"]
    assert _reference_formats(spark, [mixed, with_null]) == [None, "dd/MM/yyyy"]
    assert infer_datetime_format(spark, mixed) is None
    assert infer_datetime_format(spark, with_null) == "dd/MM/yyyy"
    assert infer_datetime_format(spark, [None]) is None


@pytest.mark.parametrize("winner", [DATETIME_FORMATS[0], "dd/MM/yyyy", DATETIME_FORMATS[-1], None])
def test_datetime_probe_job_count(spark, rendered, winner):
    """Every candidate is scored in at most 2 Spark jobs, whichever wins."""
    samples = rendered[winner] if winner else ["not-a-date"]
    sc = spark.sparkContext
    group = f"probe-jobs-{winner}"
    sc.setJobGroup(group, "datetime probe job count")
    try:
        fmt = infer_datetime_format(spark, samples)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert fmt == _reference_formats(spark, [samples])[0]
    assert 1 <= len(sc.statusTracker().getJobIdsForGroup(group)) <= 2


def test_dedup_columns_keeps_first(spark):
    df = spark.createDataFrame([(1, 2, 3)], ["a", "A", "b"])
    out = dedup_columns(df)
    assert out.columns == ["a", "b"]
    assert out.collect()[0]["a"] == 1  # first occurrence kept


def test_nano_parquet_tolerated(spark):
    # driver testdata has stored ts as TIMESTAMP(NANOS) (r1-r2: plain
    # reads throw, the reader converts via nanosAsLong) and as
    # timestamp[us] (r3: inferred TIMESTAMP_NTZ) — both must land on a
    # usable timestamp flavor with no nulls
    df = load_table(spark, "/root/testdata/sf0.001", "events")
    assert dict(df.dtypes)["ts"] in ("timestamp", "timestamp_ntz")
    assert df.filter(F.col("ts").isNull()).count() == 0


def test_load_ts_epoch_and_date_columns(spark):
    pdf = pd.DataFrame({"d": pd.date_range("2024-01-01", periods=3).date, "y": [1.0, 2.0, 3.0]})
    df = load_ts(spark, spark.createDataFrame(pdf), "d", target="y")
    assert dict(df.dtypes)["ts"] == "timestamp"
    assert df.count() == 3


def test_load_ts_adopts_existing_series_id(spark):
    """An input column already named ``series_id`` IS the grouping
    column when no explicit arg is given — not a duplicate beside the
    constant-"0" alias (which made every downstream reference
    ambiguous)."""
    pdf = pd.DataFrame(
        {
            "series_id": ["a", "a", "b", "b"],
            "d": list(pd.date_range("2024-01-01", periods=2)) * 2,
            "y": [1.0, 2.0, 3.0, 4.0],
        }
    )
    df = load_ts(spark, spark.createDataFrame(pdf), "d", target="y")
    assert df.columns == ["series_id", "ts", "y"]
    assert {r["series_id"] for r in df.select("series_id").distinct().collect()} == {
        "a",
        "b",
    }


def test_read_input_json_and_orc(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", 2.5)], "id long, k string, v double"
    )
    jpath = str(tmp_path / "in.json")
    opath = str(tmp_path / "in.orc")
    df.coalesce(1).write.mode("overwrite").json(jpath)
    df.coalesce(1).write.mode("overwrite").orc(opath)
    from auto_ts_spark.io.sources import read_input

    got_j = read_input(spark, jpath)
    assert got_j.count() == 2 and set(got_j.columns) == {"id", "k", "v"}
    got_o = read_input(spark, opath)
    assert got_o.count() == 2 and set(got_o.columns) == {"id", "k", "v"}
