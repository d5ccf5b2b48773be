"""Seeded input generators. The same seed writes byte-identical files.

The library under test only ever sees the files written here, never
the seed. Every generator returns a plain dict describing what it
wrote, which the workload passes on to the library calls.
"""

from __future__ import annotations

import csv
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# autots_single: one monthly series, the paper's canonical call
SINGLE_TRAIN_ROWS = 240
HORIZON = 8

# curate_full: the engine's sf0.1 documents / embeddings test tables
# (row counts and shape), from the repository's own generator
# (tools/gen_testdata.py) with a fixed generator seed: like the test
# tables, the corpus is the same in every run, and ``--seed`` picks the
# reference and benchmark slices
CORPUS_DOCS = 5000
CORPUS_EMBEDDED = 2000
CORPUS_SEED = 2


def _month_ends(start_year: int, n: int) -> list[str]:
    """``n`` consecutive month-end dates as ``%d/%m/%Y`` strings. Month
    ends keep the day above 12, so the day/month order is unambiguous."""
    out = []
    days = (31, 28, 31, 30, 31, 30, 31, 31, 30, 31, 30, 31)
    for i in range(n):
        y, m = start_year + i // 12, i % 12
        d = days[m] + (1 if m == 1 and (y % 4 == 0 and (y % 100 != 0 or y % 400 == 0)) else 0)
        out.append(f"{d:02d}/{m + 1:02d}/{y}")
    return out


def _write_csv(path: str, header: list[str], rows: list[list]) -> None:
    with open(path, "w", newline="") as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerow(header)
        w.writerows(rows)


def autots_single(seed: int, out_dir: str) -> dict:
    """Train/test CSV pair: trend + 12-month season + promo effect +
    noise, ``%d/%m/%Y`` string dates, target ``sales``, exog ``promo``.
    The test file holds the next ``HORIZON`` months with ``promo`` and
    no target."""
    rng = np.random.default_rng([seed, 1])
    n = SINGLE_TRAIN_ROWS + HORIZON
    t = np.arange(n)
    promo = (rng.random(n) < 0.3).astype(int)
    level, slope = rng.uniform(80, 120), rng.uniform(0.2, 0.8)
    amp, phase = rng.uniform(5, 15), rng.uniform(0, 2 * np.pi)
    effect = rng.uniform(4, 12)
    sales = (
        level
        + slope * t
        + amp * np.sin(2 * np.pi * t / 12 + phase)
        + effect * promo
        + rng.normal(0, 2, n)
    )
    dates = _month_ends(1990 + int(rng.integers(0, 10)), n)
    os.makedirs(out_dir, exist_ok=True)
    train = os.path.join(out_dir, "train.csv")
    test = os.path.join(out_dir, "test.csv")
    k = SINGLE_TRAIN_ROWS
    _write_csv(
        train,
        ["date", "sales", "promo"],
        [[dates[i], f"{sales[i]:.4f}", int(promo[i])] for i in range(k)],
    )
    _write_csv(test, ["date", "promo"], [[dates[i], int(promo[i])] for i in range(k, n)])
    return {
        "train": train,
        "test": test,
        "ts_column": "date",
        "target": "sales",
        "test_dates": dates[k:],
    }


def curate_full(seed: int, out_dir: str) -> dict:
    """Documents and embeddings parquet tables, and the residue classes
    picking the 1-in-7 reference slice and the 1-in-97 benchmark slice.
    Documents come from ``tools/gen_testdata.make_documents``; the
    embeddings follow that module's recipe: 10 unit-norm cluster
    centres plus noise, renormalised. Only the residues depend on
    ``seed``."""
    from tools.gen_testdata import make_documents

    rng = np.random.default_rng(CORPUS_SEED)
    docs = make_documents(rng, CORPUS_DOCS)
    centers = rng.normal(0, 1, (10, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, 10, CORPUS_EMBEDDED)
    vecs = centers[labels] + rng.normal(0, 0.35, (CORPUS_EMBEDDED, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    emb = pa.table(
        {
            "vec_id": pa.array(np.arange(CORPUS_EMBEDDED), pa.int64()),
            "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    os.makedirs(out_dir, exist_ok=True)
    paths = {}
    for name, table in (("documents", docs), ("embeddings", emb)):
        paths[name] = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, paths[name])
    slices = np.random.default_rng([seed, 2])
    return {
        **paths,
        "ref_residue": int(slices.integers(0, 7)),
        "bench_residue": int(slices.integers(0, 97)),
        "doc_ids": CORPUS_DOCS,
    }
